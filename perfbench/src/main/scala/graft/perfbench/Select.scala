package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.netcdf.{Hdf5Format, NcIO}

/** A seeded store of many small part files. Part `p` holds records
  * [p·rows, (p+1)·rows); every value is an integer-valued double or a
  * long, so each query's answer has an exact closed form. `temp` of
  * part p lies in its own band [band(p), band(p)+40), so a value-range
  * predicate can skip whole files on the writers' `actual_range` zone
  * maps. */
final case class Store(seed: Long, parts: Int, rows: Int) {
  private val bands: Array[Int] = {
    val r = new scala.util.Random(seed)
    r.shuffle((0 until parts).toVector).map(_ * 50).toArray
  }
  def records: Long = parts.toLong * rows
  def temp(rec: Long): Double = {
    val p = (rec / rows).toInt
    val i = (rec % rows).toInt
    bands(p) + ((i * 7 + p * 3 + seed) % 40).toDouble
  }
  def pres(rec: Long): Double = 900.0 + ((rec * 13 + seed) % 200)
  def station(rec: Long): Long = (rec * 31 + seed) % 1000

  def frame(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    val s = this
    val data = spark.sparkContext.parallelize(0 until parts, parts).flatMap { p =>
      (p.toLong * rows until (p + 1L) * rows).iterator.map(r => Row(s.temp(r), s.pres(r), s.station(r)))
    }
    spark.createDataFrame(data, StructType(Seq(
      StructField("temp", DoubleType, nullable = false),
      StructField("pres", DoubleType, nullable = false),
      StructField("station", LongType, nullable = false))))
  }
}

/** One selective read and its exact answer (count, sum). */
sealed trait Query {
  def run(df: DataFrame): DataFrame
  def expect(s: Store): (Long, Double)
}

/** record-range slice: count and sum(temp) over [lo, hi) */
final case class Slice(lo: Long, hi: Long) extends Query {
  def run(df: DataFrame): DataFrame =
    df.filter(col("record") >= lo && col("record") < hi)
      .agg(count(lit(1)), sum("temp"))
  def expect(s: Store): (Long, Double) =
    (hi - lo, (lo until hi).map(s.temp).sum)
}

/** value-range predicate the zone maps can prune: count, sum(pres) */
final case class Band(lo: Double, hi: Double) extends Query {
  def run(df: DataFrame): DataFrame =
    df.filter(col("temp") >= lo && col("temp") < hi)
      .agg(count(lit(1)), sum("pres"))
  def expect(s: Store): (Long, Double) = {
    val hits = (0L until s.records).filter { r => val t = s.temp(r); t >= lo && t < hi }
    (hits.size.toLong, hits.map(s.pres).sum)
  }
}

/** column-pruned read of one variable over the whole store */
final case class OneColumn(mod: Long) extends Query {
  def run(df: DataFrame): DataFrame =
    df.select(col("station")).filter(col("station") % mod === 0)
      .agg(count(lit(1)), sum(col("station").cast(DoubleType)))
  def expect(s: Store): (Long, Double) = {
    val hits = (0L until s.records).map(s.station).filter(_ % mod == 0)
    (hits.size.toLong, hits.map(_.toDouble).sum)
  }
}

/** `select`: an interactive user's selective reads over a store of many
  * small part files, written once in set-up in both nc4 and ncz. Each
  * pass runs its own seeded queries, one of each kind in seeded
  * order, every query against both formats, each checked against its
  * closed form. */
final class Select extends Workload {
  private val parts = 48
  private val rows = 256
  private val setups = 2

  private var store: Store = _
  private def dir(ctx: Ctx, f: String) = ctx.work.resolve(s"select/$f").toString

  /** The queries of pass `pass`: a function of the seed and the pass. */
  def queries(seed: Long, pass: Int): Seq[Query] = {
    val r = new scala.util.Random(seed * 7919L + pass)
    val n = store.records
    val len = 1 + r.nextInt(rows * 2)
    val lo = (r.nextDouble() * (n - len)).toLong
    val band = r.nextInt(parts) * 50 + r.nextInt(20)
    r.shuffle(Seq(Slice(lo, lo + len), Band(band.toDouble, band + 10 + r.nextInt(60).toDouble),
      OneColumn(2 + r.nextInt(9))))
  }

  override def setup(ctx: Ctx): Seq[Double] = {
    store = Store(ctx.seed, parts, rows)
    (1 to setups).map { _ =>
      val t0 = System.nanoTime()
      store.frame(ctx.spark).write.format("netcdf4").mode("overwrite")
        .option("chunkrecs", "64").save(dir(ctx, "nc4"))
      NcIO.write(store.frame(ctx.spark), dir(ctx, "ncz"), chunkBytes = 64 * 24,
        compressChunks = true)
      (System.nanoTime() - t0) / 1e9
    }
  }

  override def warmups: Int = 3

  override def pass(ctx: Ctx, pass: Int): Unit = {
    val spark = ctx.spark
    queries(ctx.seed, pass).foreach { q =>
      val exp = q.expect(store)
      Seq("nc4" -> "netcdf4", "ncz" -> "netcdf3").foreach { case (fmt, source) =>
        // one kind per format, so each format's percentiles are over all
        // its queries; names repeat every pass, pairing the tracing A/B
        ctx.op(fmt, s"$fmt ${q.getClass.getSimpleName}")(
          q.run(spark.read.format(source).load(dir(ctx, fmt)))) { df =>
          val got = df.collect()
          ctx.tracer.foreach(_.scanned(df))
          got
        } { got =>
          got.length == 1 && got(0).getLong(0) == exp._1 &&
            (if (exp._1 == 0) got(0).isNullAt(1) else got(0).getDouble(1) == exp._2)
        }
      }
    }
  }

  override def layers(ctx: Ctx): Map[String, Double] = {
    val t = ctx.tracer.get
    val p = new org.apache.hadoop.fs.Path(dir(ctx, "nc4"))
    val fs = p.getFileSystem(ctx.spark.sparkContext.hadoopConfiguration)
    val budget = 8L << 20
    CodecReplay.h5(fs, graft.sources.netcdf.NetCDF4Util.listFiles(fs, p), budget, t,
      schema => new Hdf5Format.Hdf5Writer(schema, chunkRecs = 64)) ++
      CodecReplay.nc3(fs, graft.sources.netcdf.NetCDF3Util.listNcFiles(fs,
        new org.apache.hadoop.fs.Path(dir(ctx, "ncz"))), budget, t,
        ctx.work.resolve("select/replay.ncz").toFile, 64 * 24)
  }

  override def detail(ctx: Ctx): Seq[String] =
    Seq(s"store $parts parts x $rows records, 3 queries x 2 formats per pass") ++
      ctx.ledger.kinds.sorted.map { k =>
        val xs = ctx.ledger.of(k)
        f"$k n=${xs.size} p50=${Stats.percentile(xs, 0.5)}%.1f ms p90=${Stats.percentile(xs, 0.9)}%.1f ms"
      }
}
