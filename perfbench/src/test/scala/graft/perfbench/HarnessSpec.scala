package graft.perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

class HarnessSpec extends AnyFunSuite {

  private val bench = new ObjectMapper().readTree(new java.io.File("../BENCHMARK.json"))

  private def specs(key: String): Seq[(String, String)] =
    bench.get(key).elements().asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq

  test("end-to-end metric names and units match BENCHMARK.json, in order") {
    assert(Metrics.endToEnd.map(s => s.name -> s.unit) == specs("end_to_end"))
    assert(Metrics.endToEnd.map(_.name) ==
      Seq("setup_s", "live_heap_mb", "op_p50_ms", "op_p90_ms", "pass_s"))
  }

  test("per-layer metric names and units match BENCHMARK.json, in order") {
    assert(Metrics.perLayer.map(s => s.name -> s.unit) == specs("per_layer"))
    assert(Metrics.perLayer.map(_.name).distinct.size == Metrics.perLayer.size)
  }

  test("BENCHMARK.json names the three workloads Main runs") {
    val names = bench.get("workloads").elements().asScala.map(_.get("name").asText).toSeq
    assert(names == Seq("bulk", "select", "catalog"))
    names.foreach(n => assert(Main.workload(n) != null))
  }

  test("result line has exactly the four keys and every metric with its unit") {
    val line = Metrics.resultLine(correct = true, attempted = 3, failed = 0,
      Metrics.endToEnd.zipWithIndex.map { case (s, i) => s -> (i + 0.125) })
    val r = new ObjectMapper().readTree(line)
    assert(r.fieldNames().asScala.toSeq == Seq("correct", "attempted", "failed", "metrics"))
    assert(r.get("metrics").get("op_p90_ms").get("value").asDouble == 3.125)
    assert(r.get("metrics").get("op_p90_ms").get("unit").asText == "ms")
    assertThrows[IllegalArgumentException](
      Metrics.resultLine(true, 1, 0, Seq(Metrics.endToEnd.head -> Double.NaN)))
  }

  test("a failed or wrong operation counts against attempts and leaves no sample") {
    val ledger = new Ledger
    val ctx = new Ctx(null, 1L, null, null, ledger, None)
    ctx.op("k", "good")(21)(_ * 2)(_ == 42)
    ctx.op("k", "corrupted")(21)(_ * 2 + 1)(_ == 42) // deliberately wrong result
    ctx.op("k", "throws")(21)(x => if (x > 0) throw new RuntimeException("boom") else x)(_ == 42)
    ctx.op("k", "check throws")(21)(_ * 2)(_ => throw new IllegalStateException("bad check"))
    assert(ledger.attempted == 4)
    assert(ledger.failed == 3)
    assert(ledger.of("k").size == 1)
    assert(ledger.failureNotes.exists(_.contains("wrong result")))
    assert(ledger.failureNotes.exists(_.contains("boom")))
  }

  test("warm-up operations leave no sample but still count failures") {
    val ledger = new Ledger
    val ctx = new Ctx(null, 1L, null, null, ledger, None)
    ctx.warming = true
    ctx.op("k", "warm ok")(1)(identity)(_ == 1)
    ctx.op("k", "warm bad")(1)(identity)(_ == 2)
    assert(ledger.all.isEmpty)
    assert(ledger.attempted == 1 && ledger.failed == 1)
  }

  test("the trace schedule traces a cold first pass whole, then each name once per A/B pair") {
    val keys = Seq("a", "b", "c", "d", "e")
    val s = new TraceSchedule(cold = true)
    s.startPass(0)
    assert(!s.ab && keys.forall(s.traced))
    def ab(p: Int, order: Seq[String]) = { s.startPass(p); assert(s.ab); order.map(k => k -> s.traced(k)).toMap }
    val p1 = ab(1, keys.reverse)
    val p2 = ab(2, Seq("c", "a", "e", "b", "d"))
    assert(keys.forall(k => p1(k) != p2(k)))
    assert(p1.values.count(identity) == 2 || p1.values.count(identity) == 3)
    val warm = new TraceSchedule(cold = false)
    warm.startPass(0)
    assert(warm.ab)
    val w0 = keys.map(warm.traced)
    warm.startPass(1)
    assert(keys.map(warm.traced) == w0.map(!_))
  }

  test("percentiles match Python's statistics.quantiles (exclusive method)") {
    val xs = Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0)
    // statistics.quantiles(range(1, 11), n=4) == [2.75, 5.5, 8.25]
    assert(Stats.percentile(xs, 0.25) == 2.75)
    assert(Stats.percentile(xs, 0.5) == 5.5)
    assert(Stats.percentile(xs, 0.75) == 8.25)
    // statistics.quantiles(range(1, 11), n=10)[-1] == 9.9
    assert(math.abs(Stats.percentile(xs, 0.9) - 9.9) < 1e-12)
    assert(Stats.percentile(Seq(7.0), 0.9) == 7.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
  }

  test("kind percentiles combine per-kind figures by geometric mean") {
    val ledger = new Ledger
    Seq(10.0, 10.0, 10.0).foreach(ms => ledger.record("fast", "f", ms, Right(true)))
    Seq(1000.0, 1000.0).foreach(ms => ledger.record("slow", "s", ms, Right(true)))
    assert(math.abs(Main.kindPercentile(ledger, 0.5) - 100.0) < 1e-9)
  }

  test("self time subtracts the union of overlapping children, clipped to the parent") {
    val op = Span(1, 0, 1, "operation", "op", 0, 100)
    val build = Span(2, 1, 1, "build", "b", 0, 30)
    val action = Span(3, 1, 1, "action", "a", 30, 100)
    // two jobs under the action overlap each other (parallel jobs)
    val j1 = Span(4, 3, 1, "job", "j1", 40, 70)
    val j2 = Span(5, 3, 1, "job", "j2", 60, 90)
    // a stage reported past its job's end is clipped to the job
    val s1 = Span(6, 4, 1, "stage", "s1", 45, 80)
    val all = Seq(op, build, action, j1, j2, s1)
    val self = Spans.selfTimes(all)
    assert(self(1) == 0) // fully covered by build + action
    assert(self(2) == 30) // no children
    assert(self(3) == 70 - 50) // union of [40,70) and [60,90) is 50
    assert(self(4) == 30 - 25) // stage covers [45,70) of the job
    assert(self(5) == 30)
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L), (30L, 30L))) == 20)
  }

  test("an orphan event nests under the innermost span of its operation") {
    val op = Span(1, 0, 1, "operation", "op", 0, 100)
    val action = Span(3, 1, 1, "action", "a", 30, 100)
    val other = Span(9, 0, 2, "operation", "op2", 0, 1000)
    val phase = Span(10, 0, 1, "catalyst", "planning", 35, 40)
    assert(Spans.nest(phase, Seq(op, action, other)) == 3)
    assert(Spans.nest(phase.copy(op = 7), Seq(op, action, other)) == 0)
  }

  test("row fingerprints ignore row order and see every value") {
    import org.apache.spark.sql.Row
    val a = Array(Row(1L, "x", Seq(1.5, 2.0)), Row(2L, null, Seq.empty[Double]))
    assert(RowHash.of(a) == RowHash.of(a.reverse))
    assert(RowHash.of(a) != RowHash.of(Array(Row(1L, "x", Seq(1.5, 2.5)), a(1))))
  }

  test("the bulk field's checksum is exact and seed-dependent") {
    val f = Field(3L, times = 4, lat = 3, lon = 5)
    val direct = (0 until 4).map { t =>
      val row = f.row(t)
      Checksum(1, row.map(_.toLong).sum,
        row.indices.map(k => row(k).toLong * Checksum.weight(t, k)).sum)
    }.reduce(_ + _)
    assert(f.expected == direct)
    assert(Field(4L, 4, 3, 5).expected != f.expected)
  }

  test("select queries' closed forms agree with a direct scan of the store") {
    val s = Store(5L, parts = 4, rows = 16)
    val recs = 0L until s.records
    assert(Slice(3, 20).expect(s) == ((17L, (3L until 20L).map(s.temp).sum)))
    val band = Band(s.temp(0), s.temp(0) + 5)
    val hits = recs.filter(r => s.temp(r) >= band.lo && s.temp(r) < band.hi)
    assert(band.expect(s) == ((hits.size.toLong, hits.map(s.pres).sum)))
    // each part's temp stays inside its own band of 40, so zone maps can prune
    (0 until 4).foreach { p =>
      val ts = (p * 16L until (p + 1) * 16L).map(s.temp)
      assert(ts.max - ts.min < 40)
    }
  }
}
