package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Tracing from outside the engine: spans around the benchmark's own
  * calls into each layer, plus Spark's public listener APIs (jobs and
  * stages, Catalyst phases, streaming batches). Nothing here reaches
  * into `src/main`.
  *
  * Jobs are tied to their operation through the `perfbench.op` local
  * property (inherited by threads a key starts, such as a streaming
  * query's); Catalyst phases and streaming batches, whose events carry
  * no properties, are tied by time to the operation that was running.
  * Everything stays in memory until [[summary]]/[[write]]. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  val log = new SpanLog
  private val sc = spark.sparkContext

  private val ops = mutable.ArrayBuffer.empty[Op]
  private var current: Long = 0L
  private var currentTraced = false

  private final class JobRec(val op: Long, val startMs: Long, val stageIds: Seq[Int]) {
    @volatile var endMs: Long = -1L
  }
  private final class StageRec(val id: Int, val name: String) {
    var submitMs = -1L; var doneMs = -1L; var tasks = 0
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var inBytes = 0L; var shRead = 0L; var shWrite = 0L; var spill = 0L
  }
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stages = new ConcurrentHashMap[Int, StageRec]()
  private val phases = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long)]()
  private val batches = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, String)]()
  private val scans = mutable.ArrayBuffer.empty[(Long, ScanFacts)]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpProp)))
        .map(_.toLong).getOrElse(0L)
      jobs.put(e.jobId, new JobRec(op, e.time, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val r = new StageRec(i.stageId, i.name)
      r.submitMs = i.submissionTime.getOrElse(-1L)
      r.doneMs = i.completionTime.getOrElse(-1L)
      r.tasks = i.numTasks
      val m = i.taskMetrics
      if (m != null) {
        r.runMs = m.executorRunTime
        r.cpuNs = m.executorCpuTime
        r.gcMs = m.jvmGCTime
        r.inBytes = m.inputMetrics.bytesRead
        r.shRead = m.shuffleReadMetrics.totalBytesRead
        r.shWrite = m.shuffleWriteMetrics.bytesWritten
        r.spill = m.memoryBytesSpilled + m.diskBytesSpilled
      }
      stages.put(i.stageId, r)
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
        durationNs: Long): Unit =
      qe.tracker.phases.foreach { case (phase, s) =>
        phases.add((phase, s.startTimeMs, s.endTimeMs))
      }
    override def onFailure(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
        exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val dur = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      val start = try java.time.Instant.parse(p.timestamp).toEpochMilli
        catch { case _: Throwable => -1L }
      if (start > 0) batches.add((start, dur, s"${p.id}#${p.batchId}"))
    }
  }

  sc.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  /** Run one benchmark operation as a root span. `traced = false`
    * marks the untraced half of the traced run's A/B: the operation
    * gets no child spans and no plan inspection and is left out of the
    * per-layer figures (the listeners stay registered, so their cost is
    * not part of the overhead). `ab` marks operations of the A/B
    * passes. */
  def op[T](name: String, traced: Boolean, ab: Boolean)(body: => T): T = {
    val id = log.newId()
    sc.setLocalProperty(OpProp, id.toString)
    current = id
    currentTraced = traced
    val s = Clock.nowUs
    try body
    finally {
      val sp = Span(id, 0L, id, "operation", name, s, Clock.nowUs)
      log.add(sp)
      ops += Op(id, traced, ab, sp)
      sc.setLocalProperty(OpProp, null)
      current = 0L
    }
  }

  /** A child span of the running operation (build, action, codec
    * replay call, prestage tag). */
  def span[T](kind: String, name: String)(body: => T): T = {
    val op = current
    val s = Clock.nowUs
    try body finally log.add(op, op, kind, name, s, Clock.nowUs)
  }

  /** Record the DSv2 scan facts of an executed query (traced
    * operations only: inspecting the plan is tracing work). */
  def scanned(df: DataFrame): Unit =
    if (current != 0L && currentTraced) scans += current -> ScanFacts.of(spark, df.queryExecution.executedPlan)

  /** Drain Spark's listener bus so every event of the run is in. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  def close(): Unit = {
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** All spans of the run: the benchmark's own plus the ones built from
    * listener events, each nested under the innermost span of its
    * operation that contains it. */
  def spans: Seq[Span] = {
    val own = log.snapshot
    val byOp = own.groupBy(_.op)
    def opAt(ms: Long): Long = ops.find(o => o.span.startUs <= ms * 1000 &&
      ms * 1000 <= o.span.endUs).map(_.id).getOrElse(0L)
    def under(op: Long, kind: String, name: String, s: Long, e: Long): Span = {
      val raw = Span(log.newId(), 0L, op, kind, name, s, e)
      raw.copy(parent = Spans.nest(raw, byOp.getOrElse(op, Nil)))
    }
    val jobSpans = jobs.asScala.toSeq.collect {
      case (jid, j) if j.endMs >= 0 => jid -> under(j.op, "job", s"job $jid", j.startMs * 1000, j.endMs * 1000)
    }.toMap
    val jobOfStage = jobs.asScala.toSeq.flatMap { case (jid, j) => j.stageIds.map(_ -> jid) }.toMap
    val stageSpans = stages.asScala.values.toSeq.filter(r => r.submitMs > 0 && r.doneMs > 0).map { r =>
      val parent = jobOfStage.get(r.id).flatMap(jobSpans.get)
      Span(log.newId(), parent.map(_.id).getOrElse(0L), parent.map(_.op).getOrElse(0L),
        "stage", s"stage ${r.id}", r.submitMs * 1000, r.doneMs * 1000)
    }
    val phaseSpans = phases.asScala.toSeq.map { case (ph, s, e) =>
      under(opAt(s), "catalyst", ph, s * 1000, e * 1000) }
    val batchSpans = batches.asScala.toSeq.map { case (s, d, n) =>
      under(opAt(s), "batch", n, s * 1000, (s + d) * 1000) }
    own ++ jobSpans.values ++ stageSpans ++ phaseSpans ++ batchSpans
  }

  /** The traced operations the per-layer figures are over. */
  private def figureOps: Seq[Op] = {
    val cold = ops.exists(!_.ab)
    ops.filter(o => o.traced && (!cold || !o.ab)).toSeq
  }

  /** Where the time of the traced operations goes, by operation group
    * (a name's first word, or its part before ':'): per operation, the
    * mean wall time, Catalyst time (all phases, and planning alone), the
    * union of the operation's job intervals, and the builder's time.
    * One JSON object per group. */
  def breakdown(all: Seq[Span]): Seq[String] = {
    val byOp = all.groupBy(_.op)
    figureOps.groupBy(_.span.name.split("[ :]").head).toSeq.sortBy(_._1).map { case (g, os) =>
      def mean(f: Seq[Span] => Long) = os.map(o => f(byOp.getOrElse(o.id, Nil))).sum / 1000.0 / os.size
      def dur(ss: Seq[Span]) = ss.map(_.durUs).sum
      val opMs = os.map(_.span.durUs).sum / 1000.0 / os.size
      val jobMs = mean(ss => Stats.unionLength(ss.filter(_.kind == "job").map(s => (s.startUs, s.endUs))))
      val fig = Seq(
        "op_ms" -> opMs,
        "catalyst_ms" -> mean(ss => dur(ss.filter(_.kind == "catalyst"))),
        "planning_ms" -> mean(ss => dur(ss.filter(s => s.kind == "catalyst" && s.name == "planning"))),
        "job_wall_ms" -> jobMs,
        "outside_jobs_ms" -> (opMs - jobMs),
        "build_ms" -> mean(ss => dur(ss.filter(_.kind == "build"))))
      s"""{"group":"$g","n":${os.size},""" +
        fig.map { case (k, v) => f""""$k":$v%.2f""" }.mkString(",") + "}"
    }
  }

  /** Per-layer figures over the traced operations, each a mean per
    * operation unless its name says otherwise. Where a pass outside the
    * A/B was traced whole (a cold workload's first pass, the one its
    * untraced runs time), the figures are of that pass alone. */
  def summary(all: Seq[Span]): Map[String, Double] = {
    val traced = figureOps
    val n = math.max(1, traced.size).toDouble
    val ids = traced.map(_.id).toSet
    val mine = all.filter(s => ids.contains(s.op))
    val self = Spans.selfTimes(all)
    val out = mutable.LinkedHashMap.empty[String, Double]
    def perOp(v: Double) = v / n
    def ms(us: Long) = us / 1000.0
    for (ph <- Seq("analysis", "optimization", "planning"))
      out(s"catalyst.${ph}_ms") = perOp(ms(mine.filter(s => s.kind == "catalyst" && s.name == ph)
        .map(_.durUs).sum))
    val opJobs = jobs.asScala.toSeq.filter { case (_, j) => ids.contains(j.op) }
    val opStageIds = opJobs.flatMap(_._2.stageIds).toSet
    val st = stages.asScala.values.filter(r => opStageIds.contains(r.id)).toSeq
    out("spark.jobs") = perOp(opJobs.size)
    out("spark.stages") = perOp(st.size)
    out("spark.tasks") = perOp(st.map(_.tasks).sum)
    val jobWall = traced.map { o =>
      Stats.unionLength(mine.filter(s => s.op == o.id && s.kind == "job").map(s => (s.startUs, s.endUs)))
    }
    out("spark.job_wall_ms") = perOp(ms(jobWall.sum))
    out("spark.driver_outside_jobs_ms") = perOp(ms(traced.map(_.span.durUs).sum - jobWall.sum))
    out("spark.executor_run_ms") = perOp(st.map(_.runMs).sum)
    out("spark.executor_cpu_ms") = perOp(st.map(_.cpuNs).sum / 1e6)
    out("spark.gc_ms") = perOp(st.map(_.gcMs).sum)
    out("spark.input_bytes") = perOp(st.map(_.inBytes).sum)
    out("spark.shuffle_read_bytes") = perOp(st.map(_.shRead).sum)
    out("spark.shuffle_write_bytes") = perOp(st.map(_.shWrite).sum)
    out("spark.spill_bytes") = perOp(st.map(_.spill).sum)
    val builds = mine.filter(s => s.kind == "build" && s.name.startsWith("entry:"))
    out("entry.build_ms") = perOp(ms(builds.map(_.durUs).sum))
    out("entry.build_jobs") = perOp(builds.map { b =>
      mine.count(j => j.kind == "job" && j.op == b.op && j.startUs >= b.startUs && j.startUs <= b.endUs)
    }.sum)
    val withBatches = traced.filter(o => mine.exists(s => s.op == o.id && s.kind == "batch"))
    val batchSpans = mine.filter(_.kind == "batch")
    out("stream.batches") = perOp(batchSpans.size)
    out("stream.batch_ms") = perOp(ms(batchSpans.map(_.durUs).sum))
    out("stream.outside_batches_ms") =
      if (withBatches.isEmpty) 0.0
      else ms(withBatches.map { o =>
        o.span.durUs - Stats.unionLength(batchSpans.filter(_.op == o.id).map(s => (s.startUs, s.endUs)))
      }.sum) / withBatches.size
    val facts = scans.filter { case (op, _) => ids.contains(op) }.map(_._2)
    val listed = facts.map(_.listed).sum
    out("dsv2.files_listed") = perOp(listed)
    out("dsv2.partitions_planned") = perOp(facts.map(_.partitions).sum)
    out("dsv2.files_scanned") = perOp(facts.map(_.scanned).sum)
    out("dsv2.file_prune_ratio") =
      if (listed == 0) 0.0 else 1.0 - facts.map(_.scanned).sum.toDouble / listed
    for (k <- Metrics.spanKinds)
      out(s"self.${k}_ms") = perOp(ms(mine.filter(_.kind == k).map(s => self(s.id)).sum))
    out.toMap
  }

  /** Traced-minus-untraced latency over the A/B passes, as a
    * percentage of untraced: the median over operation names of
    * (median traced / median untraced - 1). */
  def overheadPct: Double = {
    val rs = ops.filter(_.ab).groupBy(_.span.name).values.flatMap { os =>
      val t = os.filter(_.traced).map(_.span.durUs.toDouble).toSeq
      val u = os.filterNot(_.traced).map(_.span.durUs.toDouble).toSeq
      if (t.nonEmpty && u.nonEmpty) Some(Stats.median(t) / Stats.median(u) - 1) else None
    }.toSeq
    if (rs.isEmpty) 0.0 else 100.0 * Stats.median(rs)
  }

  def write(path: java.nio.file.Path, all: Seq[Span]): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, all.sortBy(_.startUs).map(_.json).mkString("", "\n", "\n")
      .getBytes("UTF-8"))
  }
}

object Tracer {
  val OpProp = "perfbench.op"

  final case class Op(id: Long, traced: Boolean, ab: Boolean, span: Span)
}

/** What one executed query's DSv2 scans listed, planned and read. */
final case class ScanFacts(listed: Int, partitions: Int, scanned: Int)

object ScanFacts extends AdaptiveSparkPlanHelper {
  private val Netcdf = "netcdf[34] (\\S+) records=.*".r

  def of(spark: SparkSession, plan: SparkPlan): ScanFacts = {
    val scans = collect(plan) { case b: BatchScanExec => b }
    val conf = spark.sparkContext.hadoopConfiguration
    scans.map { b =>
      val listed = b.scan.description() match {
        case Netcdf(dir) =>
          val p = new Path(dir)
          val fs = p.getFileSystem(conf)
          if (b.scan.description().startsWith("netcdf4"))
            graft.sources.netcdf.NetCDF4Util.listFiles(fs, p).size
          else graft.sources.netcdf.NetCDF3Util.listNcFiles(fs, p).size
        case _ => 0
      }
      val parts = b.inputPartitions
      val files = parts.collect {
        case p: graft.sources.netcdf.Nc4InputPartition => p.file
        case p: graft.sources.netcdf.NcInputPartition => p.file
      }.distinct.size
      ScanFacts(listed, parts.size, files)
    }.foldLeft(ScanFacts(0, 0, 0)) { (a, b) =>
      ScanFacts(a.listed + b.listed, a.partitions + b.partitions, a.scanned + b.scanned)
    }
  }
}
