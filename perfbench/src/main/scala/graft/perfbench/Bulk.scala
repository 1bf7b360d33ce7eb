package graft.perfbench

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.sources.netcdf.{Hdf5Format, NcIO}

/** A seeded rank-3 (time, lat, lon) float variable. Values are smooth
  * and integer-valued, so deflate and shuffle see field-like data and
  * every checksum is an exact integer in any summation order. Each
  * value is a sum of small lookup tables: cheap enough that the
  * benchmark recomputes the expected checksums itself. The seed only
  * shifts whole-period waves cyclically, so every seed gives values of
  * the same structure and compressibility. */
final case class Field(seed: Long, times: Int, lat: Int, lon: Int) {
  private def wave(n: Int, salt: Int, k: Int, amp: Double): Array[Int] = {
    val shift = new java.util.Random(seed * 31 + salt).nextInt(n)
    Array.tabulate(n)(i => math.round(amp * StrictMath.sin(2 * math.Pi * k * ((i + shift) % n) / n)).toInt)
  }
  private val xs = wave(lat, 1, 2, 60)
  private val ys = wave(lon, 2, 3, 40)
  private val at = wave(times, 3, 1, 2).map(_ + 3) // 1..5
  private val bt = wave(times, 4, 2, 2).map(_ + 3)

  def width: Int = lat * lon
  def userBytes: Long = times.toLong * width * 4

  def value(t: Int, i: Int, j: Int): Int = at(t) * xs(i) + bt(t) * ys(j) + ((i + 2 * j + t) % 5)

  def row(t: Int): Array[Float] = {
    val a = new Array[Float](width)
    var i = 0
    while (i < lat) {
      var j = 0
      while (j < lon) { a(i * lon + j) = value(t, i, j).toFloat; j += 1 }
      i += 1
    }
    a
  }

  /** (records, sum, position-weighted sum) over the whole variable. */
  def expected: Checksum = {
    var s = 0L; var w = 0L
    var t = 0
    while (t < times) {
      var i = 0
      while (i < lat) {
        var j = 0
        while (j < lon) {
          val v = value(t, i, j).toLong
          s += v; w += v * Checksum.weight(t, i * lon + j)
          j += 1
        }
        i += 1
      }
      t += 1
    }
    Checksum(times, s, w)
  }
}

final case class Checksum(records: Long, sum: Long, weighted: Long) {
  def +(o: Checksum): Checksum = Checksum(records + o.records, sum + o.sum, weighted + o.weighted)
}

object Checksum {
  def weight(t: Long, k: Int): Long = (t % 13 + 1) * (k % 7 + 1)

  /** Exact checksum of a scanned (record, array<float>) DataFrame. */
  def of(df: DataFrame): Checksum =
    df.select("record", "t2m").queryExecution.toRdd.mapPartitions { rows =>
      var c = Checksum(0, 0, 0)
      rows.foreach { r =>
        val t = r.getLong(0)
        val a = r.getArray(1)
        var s = 0L; var w = 0L
        var k = 0
        val n = a.numElements()
        while (k < n) {
          val v = a.getFloat(k).toLong
          s += v; w += v * weight(t, k)
          k += 1
        }
        c = c + Checksum(1, s, w)
      }
      Iterator.single(c)
    }.collect().foldLeft(Checksum(0, 0, 0))(_ + _)
}

/** `bulk`: write the variable chunk by chunk through the netCDF-4
  * DSv2 sink (shuffle + deflate) and the chunk-compressed classic
  * writer (.ncz), then scan both back in full. One pass = four
  * operations; each scan is checked against the exact checksum. */
final class Bulk extends Workload {
  private val times = 256
  private val lat = 128
  private val lon = 256
  private val parts = 16
  private val setups = 5
  require(times % parts == 0, "times must split evenly over parts")

  private var field: Field = _
  private var src: DataFrame = _
  private var expect: Checksum = _
  private def dir(ctx: Ctx, f: String) = ctx.work.resolve(s"bulk/$f").toString
  private val stored = scala.collection.mutable.Map.empty[String, Long]

  private def materialize(ctx: Ctx): DataFrame = {
    val f = field
    val per = times / parts
    val rows = ctx.spark.sparkContext.parallelize(0 until parts, parts).flatMap { p =>
      (p * per until (p + 1) * per).iterator.map(t => Row(f.row(t)))
    }
    val schema = StructType(Seq(StructField("t2m", ArrayType(FloatType, containsNull = false), nullable = false)))
    val df = ctx.spark.createDataFrame(rows, schema).persist(StorageLevel.MEMORY_ONLY)
    df.count()
    df
  }

  override def setup(ctx: Ctx): Seq[Double] = {
    field = Field(ctx.seed, times, lat, lon)
    expect = field.expected
    (1 to setups).map { i =>
      if (src != null) src.unpersist(blocking = true)
      val t0 = System.nanoTime()
      src = materialize(ctx)
      (System.nanoTime() - t0) / 1e9
    }
  }

  private def storedBytes(ctx: Ctx, d: String): Long = {
    val p = new Path(d)
    val fs = p.getFileSystem(ctx.spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).filter(s => s.isFile && !s.getPath.getName.startsWith(".")).map(_.getLen).sum
  }

  override def warmups: Int = 3

  override def pass(ctx: Ctx, pass: Int): Unit = {
    val spark = ctx.spark
    val nc4 = dir(ctx, "nc4")
    val ncz = dir(ctx, "ncz")
    ctx.op("nc4_write", "nc4_write")(src.write.format("netcdf4").mode("overwrite")
      .option("shuffle", "true").option("deflate", "true")
      .option("chunkrecs", "8").option(s"traildims.t2m", s"$lat,$lon"))(_.save(nc4))(
      _ => NcIO.recordCount4(spark, nc4) == times)
    stored("nc4") = storedBytes(ctx, nc4)
    ctx.op("ncz_write", "ncz_write")(src)(df => NcIO.write(df, ncz, chunkBytes = 1 << 20,
      arrayLens = Map("t2m" -> field.width), compressChunks = true))(
      _ => NcIO.recordCount(spark, ncz) == times)
    stored("ncz") = storedBytes(ctx, ncz)
    def scan(df: DataFrame) = { val c = Checksum.of(df); ctx.tracer.foreach(_.scanned(df)); c }
    ctx.op("nc4_scan", "nc4_scan")(spark.read.format("netcdf4").load(nc4))(scan)(_ == expect)
    ctx.op("ncz_scan", "ncz_scan")(spark.read.format("netcdf3").load(ncz))(scan)(_ == expect)
  }

  override def layers(ctx: Ctx): Map[String, Double] = {
    val t = ctx.tracer.get
    val conf = ctx.spark.sparkContext.hadoopConfiguration
    val p4 = new Path(dir(ctx, "nc4"))
    val fs = p4.getFileSystem(conf)
    val budget = 32L << 20
    CodecReplay.h5(fs, graft.sources.netcdf.NetCDF4Util.listFiles(fs, p4), budget, t,
      schema => new Hdf5Format.Hdf5Writer(schema, chunkRecs = 8, deflate = true, shuffle = true,
        arrayLens = Map("t2m" -> field.width), trailDims = Map("t2m" -> Seq(lat, lon)))) ++
      CodecReplay.nc3(fs, graft.sources.netcdf.NetCDF3Util.listNcFiles(fs, new Path(dir(ctx, "ncz"))),
        budget, t, ctx.work.resolve("bulk/replay.ncz").toFile, 1 << 20)
  }

  override def detail(ctx: Ctx): Seq[String] = {
    val mb = field.userBytes / 1e6
    def rate(kind: String) = ctx.ledger.of(kind) match {
      case Nil => "n/a"
      case xs => f"${mb / (Stats.median(xs) / 1000)}%.1f MB/s"
    }
    Seq(f"variable ${times}x${lat}x${lon} float = $mb%.1f MB in $parts parts") ++
      Seq("nc4_write", "ncz_write", "nc4_scan", "ncz_scan").map(k => s"$k ${rate(k)}") ++
      stored.toSeq.sorted.map { case (k, b) => f"${k}_stored_ratio ${b / field.userBytes.toDouble}%.4f" }
  }
}
