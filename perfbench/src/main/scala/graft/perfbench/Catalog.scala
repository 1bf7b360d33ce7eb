package graft.perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Row count and order-free fingerprint of a query result: every row
  * stringified (arrays element-wise), the lines sorted, SHA-256 over
  * them, first 16 hex digits — the shape of the oracle check in
  * tools/check.py. */
object RowHash {
  private def cell(v: Any): String = v match {
    case null => "NULL"
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(cell).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) + ":" + cell(x) }.sorted.mkString("{", ",", "}")
    case x => x.toString
  }

  def of(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(r => r.toSeq.map(cell).mkString("|")).sorted.foreach { l =>
      md.update(l.getBytes("UTF-8")); md.update('\n'.toByte)
    }
    md.digest().take(8).map("%02x".format(_)).mkString
  }
}

/** `catalog`: a training-data user running the engine's query catalog
  * in a fresh session. Set-up is `Staged.prestage` at sf0.01, as
  * graft.Bench does before it times. Then a fixed, committed key list
  * (perfbench/catalog/keys.txt) runs at sf0.01, each key built
  * (`SparkEntry.queries(k)(spark, dir)`) and collected, and checked
  * against the committed row count and row fingerprint
  * (perfbench/catalog/expect.tsv). There is no separate warm pass, so
  * a key's first pass includes its codegen and first-touch costs, the
  * per-key fixed cost this workload is for. The seed only permutes the
  * key order: the test data is fixed. */
final class Catalog extends Workload {
  override def cold: Boolean = true

  private var keys: Seq[String] = Nil
  private var expect: Map[String, (Long, String)] = Map.empty
  private var staged: Seq[(String, Double)] = Nil
  private var stagingMs = 0.0

  private def sf(ctx: Ctx, s: String): String = ctx.data.resolve(s).toString

  override def setup(ctx: Ctx): Seq[Double] = {
    val dir = ctx.data.getParent.resolve("catalog")
    keys = Catalog.readKeys(dir.resolve("keys.txt"))
    expect = Catalog.readExpect(dir.resolve("expect.tsv"))
    val missing = keys.filterNot(expect.contains)
    require(missing.isEmpty, s"no expectation for ${missing.mkString(",")}")
    // operators register their staged builds when their objects
    // initialize; building the key map forces that, as Bench's warm
    // pass does
    graft.SparkEntry.queries
    val t0 = System.nanoTime()
    val startUs = Clock.nowUs
    staged = graft.operators.Staged.prestage(ctx.spark, sf(ctx, "sf0.01"))
    stagingMs = (System.nanoTime() - t0) / 1e6
    // prestage reports each tag's own-thread seconds, not when it
    // started: the tag spans share the prestage start
    ctx.tracer.foreach { t =>
      val root = t.log.add(0L, 0L, "prestage", "Staged.prestage", startUs, Clock.nowUs)
      staged.foreach { case (tag, sec) =>
        t.log.add(root, 0L, "tag", tag, startUs, startUs + (sec * 1e6).toLong)
      }
    }
    Seq(stagingMs / 1000)
  }

  override def pass(ctx: Ctx, pass: Int): Unit = {
    val order = new scala.util.Random(ctx.seed * 1000003L + pass).shuffle(keys)
    val dir = sf(ctx, "sf0.01")
    order.foreach { k =>
      val (rows, hash) = expect(k)
      // all keys are one operation kind, so op_p50_ms and op_p90_ms
      // are percentiles over the keys of the pass
      ctx.op("key", s"key:$k")(graft.SparkEntry.queries(k)(ctx.spark, dir))(_.collect()) { got =>
        got.length == rows && RowHash.of(got) == hash
      }
      ctx.spark.sharedState.cacheManager.clearCache()
    }
  }

  override def layers(ctx: Ctx): Map[String, Double] = {
    val dir = sf(ctx, "sf0.01")
    val t = ctx.tracer.get
    val resolve = Catalog.tables.map { name =>
      val t0 = System.nanoTime()
      t.span("tables", s"Tables.t $name")(graft.Tables.t(ctx.spark, dir, name))
      (System.nanoTime() - t0) / 1e6
    }
    Map("tables.resolve_ms" -> Stats.median(resolve), "staged.prestage_ms" -> stagingMs) ++
      staged.map { case (tag, s) => s"staged.tag_ms.$tag" -> s * 1000 }
  }

  override def detail(ctx: Ctx): Seq[String] = {
    val xs = ctx.ledger.all
    Seq(f"${keys.size} keys per pass, staging ${stagingMs / 1000}%.2f s over ${staged.size} tags",
      f"key p50 ${Stats.percentile(xs, 0.5)}%.1f ms p90 ${Stats.percentile(xs, 0.9)}%.1f ms " +
        f"sum ${xs.sum / 1000}%.2f s over ${xs.size} samples")
  }
}

object Catalog {
  /** the eight TPC-H-style and event tables of the test data */
  val tables: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events")

  def readKeys(p: Path): Seq[String] =
    Files.readAllLines(p).asScala.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toSeq

  def readExpect(p: Path): Map[String, (Long, String)] =
    Files.readAllLines(p).asScala.filter(_.nonEmpty).map { l =>
      val Array(k, n, h) = l.split("\t")
      k -> (n.toLong, h)
    }.toMap

  /** Writes the expectation file for a key list: each key run once at
    * `sfDir` in a fresh session. Run it only at a commit whose oracle
    * check passes (tools/check.py):
    * {{{ CatalogExpect <keys.txt> <sfDir> <out.tsv> }}} */
  def record(spark: SparkSession, keys: Seq[String], sfDir: String, out: Path): Unit = {
    val lines = keys.map { k =>
      val got = graft.SparkEntry.queries(k)(spark, sfDir).collect()
      spark.sharedState.cacheManager.clearCache()
      s"$k\t${got.length}\t${RowHash.of(got)}"
    }
    Files.write(out, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object CatalogExpect {
  def main(args: Array[String]): Unit = {
    val work = Files.createTempDirectory("perfbench-expect")
    val spark = Main.session(Runtime.getRuntime.availableProcessors(), work)
    try Catalog.record(spark, Catalog.readKeys(java.nio.file.Paths.get(args(0))), args(1),
      java.nio.file.Paths.get(args(2)))
    finally spark.stop()
  }
}
