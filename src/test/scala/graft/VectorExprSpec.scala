package graft

import graft.functions.VectorExpressions.{vec_dot, vec_norm}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class VectorExprSpec extends AnyFunSuite {
  import TestSession._

  private def emb = spark.read.parquet(s"$sf/embeddings.parquet")
    .withColumn("v", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))

  test("DotProduct matches the HOF fold bit-for-bit") {
    val both = emb.select(
      vec_dot(col("v"), col("v")).as("native"),
      expr("aggregate(zip_with(v, v, (x, y) -> x * y), 0D, (acc, x) -> acc + x)").as("hof"))
    assert(both.filter(col("native") =!= col("hof")).isEmpty)
    assert(both.count() > 0)
  }

  test("DotProduct participates in whole-stage codegen") {
    val plan = emb.select(vec_dot(col("v"), col("v")).as("d"))
      .queryExecution.executedPlan.toString
    // `*(n)` marks operators fused into a WholeStageCodegen stage
    assert(plan.linesIterator.exists(l => l.contains("dotproduct") && l.contains("*(")),
      plan.take(800))
  }

  test("vec_norm is sqrt of self-dot") {
    val r = emb.select((vec_norm(col("v")) - sqrt(vec_dot(col("v"), col("v")))).as("diff"))
    assert(r.filter(abs(col("diff")) > 0d).isEmpty)
  }

  test("nulls propagate") {
    val r = emb.select(vec_dot(lit(null).cast("array<double>"), col("v")).as("d"))
    assert(r.filter(col("d").isNotNull).isEmpty)
  }

  test("CdcBounds participates in whole-stage codegen") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = docs.select(graft.functions.CdcExpressions.cdc_bounds(col("text")).as("b"))
      .queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("cdcbounds") && l.contains("*(")),
      plan.take(800))
  }

  test("CdcBounds codegen matches the SQL HOF formulation bit-for-bit") {
    // corpus rows exercise the ASCII fast path; the appended multibyte
    // doc forces the shared character-slicing fallback through the
    // generated-code branch too
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("text")
      .union(spark.sql("SELECT 'café au lait — naïve résumé über alles, 2²=4' AS text"))
    val both = docs.filter(length(col("text")) >= 2).select(
      graft.functions.CdcExpressions.cdc_bounds(col("text")).as("native"),
      expr("concat(array(1), filter(sequence(2, length(text)), " +
        "p -> substring(md5(CAST(substring(text, p, 8) AS BINARY)), 1, 1) = '0'), " +
        "array(length(text) + 1))").as("hof"))
    assert(both.filter(expr("native <> hof")).isEmpty)
    assert(both.count() > 0)
  }

  // ------------------------------------------------------------------
  // r16 optimization round: SqL2Dist + CountsIn replace interpreted
  // HOF chains in the PQ scorers and the stateless streaming twins —
  // these pins are the bit-for-bit equivalence evidence
  // ------------------------------------------------------------------

  test("SqL2Dist matches the zip_with/aggregate HOF fold bit-for-bit") {
    import graft.functions.VectorExpressions.vec_sqdist
    // pair distinct rows so left != right exercises real differences;
    // the truncated right-hand vectors are the length-mismatch input,
    // where the HOF form is null (zip_with pads with nulls)
    val a = emb.select(col("vec_id").as("ia"), col("v").as("va")).filter(col("ia") < 64)
    val b = emb.select(col("vec_id").as("ib"), col("v").as("vb")).filter(col("ib") < 64)
      .union(emb.filter(col("vec_id") < 4)
        .select(col("vec_id").as("ib"), expr("slice(v, 1, size(v) - 1)").as("vb")))
    val both = a.crossJoin(b).select(
      vec_sqdist(col("va"), col("vb")).as("native"),
      expr("aggregate(zip_with(va, vb, (x, y) -> (x - y) * (x - y)), 0D, (acc, z) -> acc + z)")
        .as("hof"))
    assert(both.filter(!(col("native") <=> col("hof"))).isEmpty)
    assert(both.filter(col("native").isNull).count() > 0)
    assert(both.count() > 0)
    // the interpreted path agrees with the generated code
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    def lit2(xs: Double*) = Literal.create(ArrayData.toArrayData(xs.toArray),
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType, false))
    val sq = graft.functions.VectorExpressions.SqL2Dist
    assert(sq(lit2(1, 2), lit2(1, 4)).eval() == 4.0)
    assert(sq(lit2(1, 2), lit2(1, 2, 3)).eval() == null)
  }

  test("SqL2Dist participates in whole-stage codegen") {
    import graft.functions.VectorExpressions.vec_sqdist
    val plan = emb.select(vec_sqdist(col("v"), col("v")).as("d"))
      .queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("sql2dist") && l.contains("*(")),
      plan.take(800))
  }

  test("Md5Head matches the conv(substring(md5)) chain bit-for-bit") {
    import graft.functions.HashExpressions.md5_head
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("text"))
      .unionAll(Seq("", "a", "\u8868\u793a\u3055\u308c\u307e\u3059", "x y z").toDF("text"))
    Seq(1, 5, 8, 15).foreach { n =>
      val both = docs.select(
        md5_head(col("text"), n).as("native"),
        expr(s"CAST(conv(substring(md5(text), 1, $n), 16, 10) AS BIGINT)").as("chain"))
      assert(both.filter(col("native") =!= col("chain")).isEmpty, s"width $n")
      assert(both.count() > 0)
    }
    // null propagation matches the chain
    val nulls = Seq[Option[String]](None).toDF("text")
      .select(md5_head(col("text"), 8).as("native"))
    assert(nulls.filter(col("native").isNotNull).isEmpty)
  }

  test("Md5Head participates in whole-stage codegen") {
    import graft.functions.HashExpressions.md5_head
    val plan = spark.read.parquet(s"$sf/documents.parquet")
      .select(md5_head(col("text"), 8).as("h"))
      .queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("md5head") && l.contains("*(")),
      plan.take(800))
  }

  test("WordNgrams matches the transform/sequence/concat_ws chain across widths") {
    import spark.implicits._
    import graft.functions.NgramExpressions.word_ngrams
    // real corpus + adversarial rows: empty-string tokens (double
    // spaces), unicode, single token, exact-boundary sizes, and a
    // null token (concat_ws skips nulls, no separator)
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("text")
      .unionAll(Seq("a  b   c", "一 二 三 四", "solo", "x y", "p q r s t u v w x").toDF("text"))
      .withColumn("ws", split(col("text"), " "))
      .withColumn("wsn", expr("concat(slice(ws, 1, 3), array(CAST(NULL AS STRING)), slice(ws, 4, 100))"))
    Seq(2, 3, 4, 8).foreach { n =>
      val cat = (1 to n).map(j => s"element_at(a, i + ${j - 1})").mkString("concat_ws(' ', ", ", ", ")")
      Seq("ws", "wsn").foreach { cn =>
        val guarded = docs.filter(size(col(cn)) >= n).withColumn("a", col(cn))
        val both = guarded.select(
          word_ngrams(col("a"), n).as("native"),
          expr(s"transform(sequence(1, size(a) - ${n - 1}), i -> $cat)").as("hof"))
        assert(both.filter(expr("native <> hof")).isEmpty, s"n=$n col=$cn")
        assert(both.count() > 0, s"n=$n col=$cn")
        // below the guard the kernel returns an EMPTY array (the CASE
        // WHEN ... ELSE array() END some call sites spell out)
        val under = docs.filter(size(col(cn)) < n)
          .select(word_ngrams(col(cn), n).as("native"))
        assert(under.filter(size(col("native")) =!= 0).isEmpty, s"n=$n col=$cn under-guard")
      }
    }
    val nulls = Seq[Option[Seq[String]]](None).toDF("ws")
      .select(word_ngrams(col("ws"), 2).as("native"))
    assert(nulls.filter(col("native").isNotNull).isEmpty)
  }

  test("SpaceSegments matches the transform/slice chain incl. the size-0 degenerate") {
    import spark.implicits._
    import graft.functions.NgramExpressions.space_segments
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("text")
      .unionAll(Seq("a  b   c", "一 二 三 四 五 六 七 八 九", "solo",
        "t1 t2 t3 t4 t5 t6 t7 t8", "u1 u2 u3 u4 u5 u6 u7 u8 u9").toDF("text"))
      .withColumn("toks", split(col("text"), " "))
      // the unicode twin can produce a ZERO-LENGTH token array; splice
      // one in to pin the -1 div seg = 0 degenerate (one empty segment)
      .withColumn("toks", expr("CASE WHEN text = 'solo' THEN CAST(array() AS ARRAY<STRING>) ELSE toks END"))
    Seq(3, 8).foreach { seg =>
      val both = docs.select(
        space_segments(col("toks"), seg).as("native"),
        expr(s"transform(sequence(0, (size(toks) - 1) div $seg), " +
          s"i -> concat_ws(' ', slice(toks, i * $seg + 1, $seg)))").as("hof"))
      assert(both.filter(expr("native <> hof")).isEmpty, s"seg=$seg")
      assert(both.count() > 0)
    }
    val nulls = Seq[Option[Seq[String]]](None).toDF("toks")
      .select(space_segments(col("toks"), 8).as("native"))
    assert(nulls.filter(col("native").isNotNull).isEmpty)
  }

  test("ArrayMd5 matches transform(a, x -> md5(x)) incl. null elements") {
    import spark.implicits._
    import graft.functions.NgramExpressions.array_md5
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("text")
      .unionAll(Seq("一 二 三", "", "a  b").toDF("text"))
      .withColumn("a", expr("concat(split(text, ' '), array(CAST(NULL AS STRING)))"))
    val both = docs.select(
      array_md5(col("a")).as("native"),
      expr("transform(a, x -> md5(x))").as("hof"))
    // <> is null-ambiguous on arrays with null elements; compare via
    // to_json under ONE field name
    assert(both.filter(
      expr("to_json(struct(native AS a)) <> to_json(struct(hof AS a))")).isEmpty)
    assert(both.count() > 0)
  }

  test("WordNgrams and SpaceSegments participate in whole-stage codegen") {
    import graft.functions.NgramExpressions.{space_segments, word_ngrams}
    val plan = spark.read.parquet(s"$sf/documents.parquet")
      .withColumn("ws", split(col("text"), " "))
      .select(word_ngrams(col("ws"), 3).as("g"), space_segments(col("ws"), 8).as("s"))
      .queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("wordngrams") && l.contains("*(")),
      plan.take(800))
    assert(plan.linesIterator.exists(l => l.contains("spacesegments") && l.contains("*(")),
      plan.take(800))
  }

  test("WinnowMins matches the sliding array_min/slice chain incl. short docs") {
    import spark.implicits._
    import graft.functions.NgramExpressions.{array_md5, winnow_mins, word_ngrams}
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("text")
      .unionAll(Seq("a b c d e", "一 二 三 四 五 六 七", "t1 t2 t3 t4").toDF("text"))
      .withColumn("ws", split(col("text"), " "))
      .filter(size(col("ws")) >= 4)
      .withColumn("hs", array_md5(word_ngrams(col("ws"), 4)))
    Seq(2, 5).foreach { w =>
      val both = docs.select(
        winnow_mins(col("hs"), w).as("native"),
        expr(s"transform(sequence(1, greatest(size(hs) - ${w - 1}, 1)), " +
          s"i -> array_min(slice(hs, i, $w)))").as("hof"))
      assert(both.filter(expr("native <> hof")).isEmpty, s"w=$w")
      assert(both.count() > 0)
    }
  }

  test("WordBigramStructs matches the named_struct chain") {
    import spark.implicits._
    import graft.functions.NgramExpressions.word_bigram_structs
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("text")
      .unionAll(Seq("a  b   c", "一 二", "x y").toDF("text"))
      .withColumn("ws", expr("filter(split(lower(text), ' '), w -> w != '')"))
      .filter(size(col("ws")) >= 2)
    val both = docs.select(
      word_bigram_structs(col("ws")).as("native"),
      expr("transform(sequence(1, size(ws) - 1), " +
        "i -> named_struct('w1', element_at(ws, i), 'w2', element_at(ws, i + 1)))").as("hof"))
    assert(both.filter(expr("native <> hof")).isEmpty)
    assert(both.count() > 0)
  }

  test("LowerTokens/SpaceTokens match the filter/split chains") {
    import spark.implicits._
    import graft.functions.NgramExpressions.{lower_tokens, space_tokens}
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("text")
      .unionAll(Seq("", " ", "  a  B   c ", "МИКС Κείμενο İstanbul ẞ", "一 二　三", "tab\tkeeps").toDF("text"))
    val both = docs.select(
      lower_tokens(col("text")).as("nl"),
      expr("filter(split(lower(text), ' '), w -> w != '')").as("hl"),
      space_tokens(col("text")).as("ns"),
      expr("filter(split(text, ' '), w -> w != '')").as("hs"))
    assert(both.filter(expr("nl <> hl OR ns <> hs")).isEmpty)
    assert(both.count() > 0)
    val nulls = Seq[Option[String]](None).toDF("text")
      .select(lower_tokens(col("text")).as("n"), space_tokens(col("text")).as("s"))
    assert(nulls.filter(col("n").isNotNull || col("s").isNotNull).isEmpty)
  }

  test("CountTokensIn matches the size/filter/IN chain incl. empty tokens") {
    import spark.implicits._
    import graft.functions.NgramExpressions.count_tokens_in
    val stop = Seq("the", "of", "and", "一")
    val inList = stop.map(w => s"'$w'").mkString(", ")
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("text")
      .unionAll(Seq("", "the the  of", "一 二 the", "no stops here").toDF("text"))
    val both = docs.select(
      count_tokens_in(col("text"), stop).as("native"),
      expr(s"size(filter(split(text, ' '), w -> w IN ($inList)))").as("chain"))
    assert(both.filter(col("native") =!= col("chain")).isEmpty)
    assert(both.count() > 0)
  }

  test("ArrayMd5Prefix matches the transform/substring(md5) chain") {
    import spark.implicits._
    import graft.functions.NgramExpressions.{array_md5_prefix, lower_tokens}
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("text")
      .unionAll(Seq("一 二 三", "a  b").toDF("text"))
      .withColumn("ws", lower_tokens(col("text")))
    val both = docs.select(
      array_md5_prefix(col("ws"), 2).as("native"),
      expr("transform(ws, w -> substring(md5(w), 1, 2))").as("hof"))
    assert(both.filter(expr("native <> hof")).isEmpty)
    assert(both.count() > 0)
  }

  test("Simhash64 matches the 64-dim HOF filter chain bit-for-bit") {
    import spark.implicits._
    import graft.functions.NgramExpressions.simhash64
    val DIMS = 64
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("text")
      .unionAll(Seq("", "solo", "a  b   c", "一 二 三 四 五", "x: edge x:").toDF("text"))
      .withColumn("ws", split(col("text"), " "))
      .withColumn("n", size(col("ws")).cast("long"))
      .withColumn("hs", expr("transform(ws, w -> concat(md5(w), md5(concat('x:', w))))"))
    val withCnt = (0 until DIMS).foldLeft(docs) { (df, d) =>
      df.withColumn(s"cnt$d",
        expr(s"size(filter(hs, h -> substring(h, ${d + 1}, 1) >= '8'))").cast("long"))
    }
    val hofFp = (0 until DIMS).map(d =>
      when(col(s"cnt$d") * 2 > col("n"), lit(1L << d)).otherwise(lit(0L)))
      .reduce(_ bitwiseOR _)
    val both = withCnt.select(simhash64(col("ws")).as("native"), hofFp.as("hof"))
    assert(both.filter(col("native") =!= col("hof")).isEmpty)
    assert(both.count() > 0)
  }

  test("SortedVals matches transform(array_sort(...)) on distinct integral keys") {
    import spark.implicits._
    import graft.functions.NgramExpressions.sorted_vals
    // int keys / double values (the posexplode reassembly shape)
    val r1 = spark.range(200).toDF("id")
      .withColumn("g", (col("id") % 7).cast("int"))
      .withColumn("pos", (col("id") / 7).cast("int"))
      .withColumn("m", (col("id") * 1.5 - 40.0))
      .groupBy("g")
      .agg(sorted_vals(collect_list(struct(col("pos"), col("m")))).as("native"),
        expr("transform(array_sort(collect_list(struct(pos, m))), p -> p.m)").as("hof"))
    assert(r1.filter(expr("native <> hof")).isEmpty)
    assert(r1.count() > 0)
    // long keys / string values
    val r2 = spark.range(100).toDF("id")
      .withColumn("g", (col("id") % 5).cast("int"))
      .withColumn("pos", col("id") * 3)
      .withColumn("w", concat(lit("w"), col("id")))
      .groupBy("g")
      .agg(sorted_vals(collect_list(struct(col("pos"), col("w")))).as("native"),
        expr("transform(array_sort(collect_list(struct(pos, w))), p -> p.w)").as("hof"))
    assert(r2.filter(expr("native <> hof")).isEmpty)
  }

  test("CountsIn matches the transform/filter HOF formulation, incl. null keys") {
    import graft.functions.CountsIn.counts_in
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("text")
      .union(spark.sql("SELECT 'ぁあ中中中 mixed 中 runs ぁ' AS text"))
      .withColumn("cs", expr("filter(split(lower(text), ''), ch -> ch != '')"))
      .withColumn("dc", expr("array_distinct(cs)"))
      // a null key probes the null-key-counts-zero branch both ways
      .withColumn("dcn", expr("concat(dc, array(CAST(NULL AS STRING)))"))
    val both = docs.select(
      counts_in(col("cs"), col("dcn")).as("native"),
      expr("transform(dcn, d -> cast(size(filter(cs, x -> x = d)) as bigint))").as("hof"))
    assert(both.filter(expr("native <> hof")).isEmpty)
    assert(both.count() > 0)
  }
}
