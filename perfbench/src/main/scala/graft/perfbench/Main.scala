package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Runs one workload once and prints the result line:
  *
  * {{{
  *   Main --workload bulk|select|catalog --seed N --seconds S --trace 0|1
  *        --root <checkout> --work <scratch dir> [--spans <dir>]
  * }}}
  *
  * Set-up runs first (its repeats give `setup_s`), then the workload's
  * warm-up passes (checked, not timed), then whole passes
  * over the workload's operations until `--seconds` would be exceeded
  * (always at least one). `--trace 1` registers the tracer, alternates
  * traced and untraced operations (see [[TraceSchedule]]), replays
  * single layers, writes the spans under `--spans` and prints the
  * per-layer metrics instead of the end-to-end ones. */
object Main {

  def parse(args: Array[String]): Map[String, String] =
    args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
      case a => throw new IllegalArgumentException(s"bad argument ${a.mkString(" ")}")
    }.toMap

  def workload(name: String): Workload = name match {
    case "bulk" => new Bulk()
    case "select" => new Select()
    case "catalog" => new Catalog()
    case o => throw new IllegalArgumentException(s"unknown workload $o")
  }

  /** Heap in use after a full collection, in MB: what the program
    * still holds (cached and staged data, session state). The heap is
    * pinned to a fixed size so resizing adds no noise to the timings;
    * the resident set then reads as the pin and says nothing about the
    * program, while this does. Taken after the measured passes, as
    * the least of three readings: objects released by cleaner threads
    * after one collection are gone by a later one. */
  def liveHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }.min
  }

  def loadAvg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), "UTF-8").trim
    catch { case _: Throwable => "unreadable" }

  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", work.resolve("checkpoints").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    val seconds = a("seconds").toDouble
    val trace = a.getOrElse("trace", "0") == "1"
    val root = Paths.get(a("root")).toAbsolutePath
    val work = Paths.get(a("work")).toAbsolutePath
    Files.createDirectories(work)
    val spansOut = a.get("spans").map(Paths.get(_)).getOrElse(work.resolve("trace"))
      .toAbsolutePath.resolve(s"${a("workload")}-seed${a("seed")}-${System.currentTimeMillis()}.jsonl")
    val cores = Runtime.getRuntime.availableProcessors()
    val loadStart = loadAvg()
    val spark = session(cores, work)
    val ledger = new Ledger
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val wl = workload(a("workload"))
    val ctx = new Ctx(spark, a("seed").toLong, work, root.resolve("perfbench/data"), ledger, tracer,
      wl.cold)
    val err = System.err
    try {
      val setups = wl.setup(ctx)
      ctx.warming = true
      (1 to wl.warmups).foreach { w => ctx.startPass(-w); wl.pass(ctx, -w) }
      ctx.warming = false
      val passTimes = scala.collection.mutable.ArrayBuffer.empty[Double]
      val t0 = System.nanoTime()
      def elapsed = (System.nanoTime() - t0) / 1e9
      var p = 0
      var more = true
      while (more) {
        val failedBefore = ledger.failed
        val ps = System.nanoTime()
        ctx.startPass(p)
        wl.pass(ctx, p)
        val dt = (System.nanoTime() - ps) / 1e9
        // a pass with a failed operation leaves no pass-time sample
        if (ledger.failed == failedBefore) passTimes += dt
        p += 1
        // a traced run needs two A/B passes so every operation runs
        // both traced and untraced
        more = elapsed + dt <= seconds || (trace && p < (if (wl.cold) 3 else 2))
      }
      finish(ctx, wl, setups, passTimes.toSeq, p, elapsed, trace, spansOut, loadStart, cores)
    } catch {
      case e: Throwable =>
        e.printStackTrace(err)
        ledger.fail(s"run aborted: ${e.getClass.getName}: ${e.getMessage}")
        finish(ctx, wl, Nil, Nil, 0, 0, trace, spansOut, loadStart, cores)
    } finally {
      tracer.foreach(_.close())
      val app = spark.sparkContext.applicationId
      spark.stop()
      // the engine keys its own scratch by application id under fixed
      // roots; take this run's share away with the run
      Seq(s"/tmp/graft_nc/$app", s"/tmp/graft_plan/$app").foreach(d => deleteTree(Paths.get(d)))
    }
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally walk.close()
    }

  /** Percentile `p` of each operation kind's latencies, combined over
    * kinds by geometric mean. Kinds whose latencies differ several-fold
    * (bulk's writes and scans) stay apart, since a percentile of their
    * pooled samples would jump between them from run to run; where a
    * workload has one kind per format (select) or one kind (catalog's
    * keys) the percentile is over all its operations. */
  def kindPercentile(ledger: Ledger, p: Double): Double = {
    val ks = ledger.kinds.filter(k => ledger.of(k).nonEmpty)
    math.exp(ks.map(k => math.log(Stats.percentile(ledger.of(k), p))).sum / ks.size)
  }

  private def finish(ctx: Ctx, wl: Workload, setups: Seq[Double], passTimes: Seq[Double],
      passes: Int, measured: Double, trace: Boolean, spansOut: Path, loadStart: String,
      cores: Int): Unit = {
    val ledger = ctx.ledger
    val err = System.err
    val samples = ledger.all
    val complete = samples.nonEmpty && passTimes.nonEmpty && setups.nonEmpty
    err.println(s"[perfbench] host nproc=$cores loadavg_start=[$loadStart] loadavg_end=[${loadAvg()}]")
    err.println(f"[perfbench] passes=$passes measured_s=$measured%.2f ops=${samples.size} " +
      s"attempted=${ledger.attempted} failed=${ledger.failed}")
    err.println(s"[perfbench] pass_s ${passTimes.map(t => f"$t%.3f").mkString(" ")}")
    ledger.failureNotes.take(20).foreach(n => err.println(s"[perfbench] FAILED $n"))
    if (complete) wl.detail(ctx).foreach(d => err.println(s"[perfbench] $d"))
    // an incomplete run still prints every metric (as 0) so the line
    // keeps its shape; `correct` is false for it
    val values: Seq[(Metrics.Spec, Double)] =
      if (!complete) (if (trace) Metrics.perLayer else Metrics.endToEnd).map(_ -> 0.0)
      else if (!trace) {
        val v = Map(
          "setup_s" -> Stats.median(setups),
          "live_heap_mb" -> liveHeapMb(),
          "op_p50_ms" -> kindPercentile(ledger, 0.5),
          "op_p90_ms" -> kindPercentile(ledger, 0.9),
          "pass_s" -> Stats.median(passTimes))
        Metrics.endToEnd.map(s => s -> v(s.name))
      } else {
        val t = ctx.tracer.get
        val layerFigures = wl.layers(ctx)
        t.drain()
        val spans = t.spans
        t.write(spansOut, spans)
        err.println(s"[perfbench] wrote ${spans.size} spans to $spansOut")
        t.breakdown(spans).foreach(b => err.println(s"[perfbench] breakdown $b"))
        val v = t.summary(spans) ++ layerFigures ++ Map(
          "trace.overhead_pct" -> t.overheadPct,
          "trace.spans" -> spans.size.toDouble)
        Metrics.perLayer.map(s => s -> v.getOrElse(s.name, 0.0))
      }
    val correct = complete && ledger.failed == 0
    println(Metrics.resultLine(correct, math.max(1, ledger.attempted), ledger.failed, values))
  }
}
