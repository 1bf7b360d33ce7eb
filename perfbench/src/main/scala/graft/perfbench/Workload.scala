package graft.perfbench

import org.apache.spark.sql.SparkSession

/** Which operations of a traced run are traced. The A/B passes
  * (every measured pass, or every one after the first when `cold`)
  * alternate each operation name between traced and untraced runs, so
  * every name that runs in two consecutive A/B passes runs once each
  * way; the pairs give the tracing overhead. A cold workload's first
  * pass is traced whole: it is the pass its untraced runs time. */
final class TraceSchedule(cold: Boolean) {
  private var passNo = 0
  private val runs = scala.collection.mutable.Map.empty[String, Int]
  private val parity = scala.collection.mutable.Map.empty[String, Int]

  def startPass(p: Int): Unit = passNo = p

  /** Whether the current pass is part of the A/B. */
  def ab: Boolean = !(cold && passNo == 0)

  /** Whether the next run of `name` is traced. In the A/B a name's n-th
    * run is traced when n plus the name's parity is even; parities
    * alternate over names in first-seen order, so half the names start
    * traced. */
  def traced(name: String): Boolean = !ab || {
    val n = runs.getOrElse(name, 0)
    runs(name) = n + 1
    (n + parity.getOrElseUpdate(name, parity.size % 2)) % 2 == 0
  }
}

/** What a workload gets from the runner. `tracer` is set only in a
  * traced run, whose operations follow [[TraceSchedule]]. */
final class Ctx(val spark: SparkSession, val seed: Long, val work: java.nio.file.Path,
    val data: java.nio.file.Path, val ledger: Ledger, val tracer: Option[Tracer],
    cold: Boolean = false) {
  private val schedule = new TraceSchedule(cold)
  /** While set, operations are run and checked but leave no sample. */
  var warming = false

  def startPass(p: Int): Unit = schedule.startPass(p)

  /** Run one measured operation: `build` constructs the work (for a
    * query, the DataFrame), `act` executes it, and `check` judges the
    * output outside the timed region. Only a correct operation leaves
    * a latency sample. */
  def op[B, R](kind: String, name: String)(build: => B)(act: B => R)(check: R => Boolean): Unit = {
    // warm-up operations are neither traced nor part of the A/B
    val t = tracer.filter(_ => !warming)
    val traced = t.isDefined && schedule.traced(name)
    val spans = t.filter(_ => traced)
    def timed: (Double, Either[Throwable, R]) = {
      val t0 = System.nanoTime()
      val r = try {
        val b = spans.fold(build)(_.span("build", buildName(name))(build))
        Right(spans.fold(act(b))(_.span("action", name)(act(b))))
      } catch { case e: Throwable => Left(e) }
      ((System.nanoTime() - t0) / 1e6, r)
    }
    val (ms, r) = t match {
      case Some(tr) => tr.op(name, traced, schedule.ab)(timed)
      case None => timed
    }
    val outcome = r.map(v => try check(v) catch { case _: Throwable => false })
    // a warm-up operation leaves no sample, but its failure still counts
    if (!warming || outcome != Right(true)) ledger.record(kind, name, ms, outcome)
  }

  /** Catalog builds are SparkEntry query builders; their spans are
    * named so the per-layer `entry.*` figures can find them. */
  private def buildName(name: String): String =
    if (name.startsWith("key:")) "entry:" + name.stripPrefix("key:") else name
}

/** One benchmark workload: a set-up, then passes over a fixed list
  * of operations until the run's time is up. */
trait Workload {
  /** Prepare the inputs; returns the seconds of each repeated set-up
    * (the runner reports their median). */
  def setup(ctx: Ctx): Seq[Double]

  /** Passes run before the measured ones, so JIT compilation of the
    * hot loops is not timed; their operations are still checked. */
  def warmups: Int = 0

  /** Set when the measured passes are first executions on purpose (no
    * warm-up): a traced run then traces its first pass whole for the
    * per-layer figures and runs two more, warm, passes for the A/B
    * (see [[TraceSchedule]]). */
  def cold: Boolean = false

  /** One pass over the workload's operations; measured passes count
    * from 0, warm-up passes are negative. */
  def pass(ctx: Ctx, pass: Int): Unit

  /** Traced runs only: layer figures measured by replaying single
    * modules directly (codec calls, table resolution, staging). */
  def layers(ctx: Ctx): Map[String, Double] = Map.empty

  /** Detail lines for stderr (figures specific to this workload). */
  def detail(ctx: Ctx): Seq[String] = Nil
}
