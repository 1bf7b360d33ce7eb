package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-17 optimization pins: every restructure that changes an
  * operator's internals keeps a whole-output equivalence test against
  * the formulation it replaced. */
class Round17Spec extends AnyFunSuite {
  import TestSession._

  /** The pre-r17 sim_mmr selection: three chained window/anti-join/
    * union rounds — reproduced here verbatim as the reference the
    * MmrSelect expression must match row-for-row. */
  private def mmrReference(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorExpressions.{vec_dot, vec_norm}
    val NQUERIES = 10
    val emb = s.read.parquet(s"$dir/embeddings.parquet")
      .withColumn("v", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      .withColumn("nrm", vec_norm(col("v")))
      .cache()
    val q = emb.filter(col("vec_id") < NQUERIES)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val scored = emb.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("qcos",
        round(vec_dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 9))
    val cand = scored.groupBy("query_id")
      .agg(graft.functions.TopK.topk(8)(col("qcos"), col("vec_id"), col("qcos")).as("top"))
      .select(col("query_id"), explode(col("top")).as("e"))
      .select(col("query_id"), col("e._2").as("cid"), col("e._3").as("qcos"))
    val cvec = emb.join(broadcast(cand), col("vec_id") === col("cid"))
      .select(col("query_id"), col("cid"), col("qcos"),
        col("v").as("cv"), col("nrm").as("cn"))
      .cache()
    val pair = cvec
      .select(col("query_id"), col("cid").as("a"), col("cv").as("av"), col("cn").as("an"))
      .join(cvec.select(col("query_id"), col("cid").as("b"),
        col("cv").as("bv"), col("cn").as("bn")), Seq("query_id"))
      .filter(col("a") =!= col("b"))
      .select(col("query_id"), col("a"), col("b"),
        round(vec_dot(col("av"), col("bv")) / (col("an") * col("bn")), 9).as("sim"))
    val w1 = Window.partitionBy("query_id").orderBy(col("qcos").desc, col("cid"))
    var sel = cvec.select(col("query_id"), col("cid"), col("qcos"))
      .withColumn("rn", row_number().over(w1)).filter(col("rn") === 1)
      .select(col("query_id"), col("cid"), lit(1L).as("mmr_rank"), col("qcos").as("score"))
    var k = 2
    while (k <= 3) {
      val rem = cvec.select("query_id", "cid", "qcos")
        .join(sel.select(col("query_id"), col("cid")), Seq("query_id", "cid"), "left_anti")
      val maxSim = pair
        .join(sel.select(col("query_id"), col("cid").as("b")), Seq("query_id", "b"))
        .groupBy(col("query_id"), col("a")).agg(max(col("sim")).as("maxsim"))
      val scoredK = rem
        .join(maxSim.withColumnRenamed("a", "cid"), Seq("query_id", "cid"))
        .select(col("query_id"), col("cid"),
          (lit(0.7) * col("qcos") - lit(0.3) * col("maxsim")).as("mmr"))
      val wk = Window.partitionBy("query_id").orderBy(col("mmr").desc, col("cid"))
      sel = sel.union(scoredK
        .withColumn("rn", row_number().over(wk)).filter(col("rn") === 1)
        .select(col("query_id"), col("cid"), lit(k.toLong).as("mmr_rank"),
          col("mmr").as("score")))
      k += 1
    }
    sel.select(col("query_id"), col("mmr_rank"), col("cid").as("neighbor_id"),
      round(col("score"), 6).as("score"))
  }

  test("prestage pool size: a malformed or < 1 SPARK_GRAFT_STAGE_THREADS falls back") {
    import graft.operators.Staged.stageThreads
    assert(stageThreads(Some("3"), 32) == 3)
    assert(stageThreads(Some(" 12 "), 32) == 12)
    // unset, unparsable, zero and negative all take the computed
    // default (a quarter of the cores, clamped to [2, 8]) instead of
    // throwing NumberFormatException or IllegalArgumentException
    for (bad <- Seq(None, Some("abc"), Some(""), Some("0"), Some("-4"), Some("9999999999")))
      assert(stageThreads(bad, 32) == 8, bad)
    assert(stageThreads(None, 4) == 2)
    assert(stageThreads(Some("x"), 20) == 5)
  }

  test("sim_mmr: MmrSelect expression matches the window/union formulation row-for-row") {
    spark.sharedState.cacheManager.clearCache()
    val now = SparkEntry.queries("sim_mmr")(spark, sf)
      .orderBy("query_id", "mmr_rank").collect().toSeq
    val ref = mmrReference(spark, sf)
      .orderBy("query_id", "mmr_rank").collect().toSeq
    assert(now == ref)
    assert(now.nonEmpty)
    spark.sharedState.cacheManager.clearCache()
  }

  test("mmr_select emits min(3, n) rows with rank-1 = best qcos, cid tiebreak") {
    import spark.implicits._
    import graft.functions.MmrSelect.mmr_select
    // two candidates with equal qcos: rank 1 must take the lower cid,
    // rank 2 the other; a 1-candidate query emits exactly one row
    val df = Seq(
      (1L, Seq((10L, 0.5, Seq(1.0, 0.0), 1.0), (7L, 0.5, Seq(0.0, 1.0), 1.0))),
      (2L, Seq((42L, 0.9, Seq(1.0, 0.0), 1.0)))
    ).toDF("query_id", "cands")
      .select(col("query_id"), explode(mmr_select(col("cands"))).as("e"))
      .select(col("query_id"), col("e.mmr_rank"), col("e.cid"), col("e.score"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    // q1 rank1: cid 7 (tiebreak), score .5; rank2: cid 10,
    //   maxsim = round(0/1,9)=0 -> 0.7*.5 - 0.3*0 = 0.35
    // q2: single row
    assert(df == Set((1L, 1L, 7L, 0.5), (1L, 2L, 10L, 0.35), (2L, 1L, 42L, 0.9)))
  }
}
