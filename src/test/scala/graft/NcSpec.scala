package graft

import graft.sources.netcdf.NcIO
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class NcSpec extends AnyFunSuite {
  import TestSession._

  private def li = spark.read.parquet(s"$sf/lineitem.parquet")
    .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
      col("l_extendedprice").cast("float").as("price_f"))

  test("nc roundtrip preserves rows and values") {
    val dir = "/tmp/graft_nc_spec/roundtrip"
    val src = li.repartition(4)
    NcIO.write(src, dir)
    val back = spark.read.format("graft.sources.netcdf.NetCDF3Source").load(dir)
    assert(back.count() == src.count())
    assert(back.columns.toSet == Set("record", "l_orderkey", "l_linenumber", "l_quantity", "price_f"))
    val a = src.agg(sum("l_orderkey"), sum("l_quantity"), sum("l_linenumber")).head()
    val b = back.agg(sum("l_orderkey"), sum("l_quantity"), sum("l_linenumber")).head()
    assert(a == b)
    // dtype fidelity
    assert(back.schema("l_orderkey").dataType.typeName == "long")
    assert(back.schema("price_f").dataType.typeName == "float")
    assert(back.schema("l_quantity").dataType.typeName == "double")
  }

  test("user ergonomics: single-FILE load works for .nc, .nc.gz and .ncz") {
    // the classic-container twin of Hdf5Spec's single-file pin — how a
    // user points the engine at one wild netcdf3 file rather than a
    // part directory; all three on-disk flavors must resolve
    import org.apache.hadoop.fs.Path
    val fs = new Path("/tmp").getFileSystem(spark.sparkContext.hadoopConfiguration)
    val src = spark.range(300).select(col("id").cast("double").as("x")).coalesce(1)
    val want = (0 until 300).map(_.toDouble).sum
    for ((flavor, write) <- Seq[(String, String => Unit)](
        "nc" -> (d => NcIO.write(src, d)),
        "nc.gz" -> (d => NcIO.write(src, d, compress = true)),
        "ncz" -> (d => NcIO.write(src, d, compressChunks = true)))) {
      val dir = s"/tmp/graft_nc_spec/single_$flavor"
      write(dir)
      val file = fs.listStatus(new Path(dir)).map(_.getPath)
        .filter(_.getName.endsWith(s".$flavor")).head
      val back = spark.read.format("netcdf3").load(file.toString)
      assert(back.count() == 300, flavor)
      assert(back.agg(sum("x")).head().getDouble(0) == want, flavor)
      assert(back.schema.fieldNames.contains("record"), flavor)
    }
  }

  test("record-range pushdown prunes and returns the exact slice") {
    // both formats plan through the one shared scan builder
    val sorted = li.repartition(1).sortWithinPartitions("l_orderkey", "l_linenumber")
    for (fmt <- Seq("netcdf3", "netcdf4")) {
      val dir = s"/tmp/graft_nc_spec/slice_$fmt"
      if (fmt == "netcdf3") NcIO.write(sorted, dir)
      else sorted.write.format(fmt).option("chunkrecs", "64").mode("overwrite").save(dir)
      val back = spark.read.format(fmt).load(dir)
      val sliced = back.filter(col("record") >= 100L && col("record") < 200L)
      assert(sliced.count() == 100, fmt)
      assert(sliced.agg(min("record"), max("record")).head() ==
        org.apache.spark.sql.Row(100L, 199L), fmt)
      // pushdown visible in the plan
      val plan = sliced.queryExecution.executedPlan.toString
      assert(plan.contains(s"$fmt $dir records=[100,200)"), plan.take(500))
    }
  }

  test("a missing or empty directory has no schema to infer, in both formats") {
    val empty = new java.io.File("/tmp/graft_nc_spec/empty_dir")
    empty.mkdirs()
    empty.listFiles().foreach(_.delete())
    for (fmt <- Seq("netcdf3", "netcdf4");
         dir <- Seq(empty.getPath, "/tmp/graft_nc_spec/no_such_dir")) {
      val e = intercept[IllegalArgumentException](spark.read.format(fmt).load(dir))
      assert(e.getMessage.contains(s"no $fmt part files under $dir"), e.getMessage)
    }
  }

  test("variable pruning reads only requested vars") {
    val dir = "/tmp/graft_nc_spec/prune"
    NcIO.write(li.repartition(2), dir)
    val back = spark.read.format("graft.sources.netcdf.NetCDF3Source").load(dir)
      .select("l_quantity")
    assert(back.schema.fieldNames.toSeq == Seq("l_quantity"))
    val expected = li.agg(sum("l_quantity")).head().getDouble(0)
    assert(back.agg(sum("l_quantity")).head().getDouble(0) == expected)
  }

  test("numeric projections read through the columnar path") {
    val dir = "/tmp/graft_nc_spec/columnar"
    NcIO.write(li.repartition(2), dir)
    val df = spark.read.format("graft.sources.netcdf.NetCDF3Source").load(dir)
      .select("record", "l_quantity")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"), plan.take(600))
    assert(df.count() == li.count())
    // row path (string/array fallback) and columnar path agree
    val sum1 = df.agg(sum("l_quantity")).head().getDouble(0)
    assert(sum1 == li.agg(sum("l_quantity")).head().getDouble(0))
  }

  test("string and array projections read through the columnar path") {
    val dir = "/tmp/graft_nc_spec/columnar_sa"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    NcIO.write(docs.repartition(2), dir, stringWidth = 8)
    val back = spark.read.format("graft.sources.netcdf.NetCDF3Source").load(dir)
      .select("doc_id", "lang")
    assert(back.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      back.queryExecution.executedPlan.toString.take(600))
    val gotLangs = back.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val expLangs = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(gotLangs == expLangs)

    val embDir = "/tmp/graft_nc_spec/columnar_arr"
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    NcIO.write(emb.repartition(2), embDir)
    val backE = spark.read.format("graft.sources.netcdf.NetCDF3Source").load(embDir)
      .select("vec_id", "embedding")
    assert(backE.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      backE.queryExecution.executedPlan.toString.take(600))
    // per-row fold is deterministic; the cross-row sum goes through
    // DECIMAL so partition order can't flip a ulp
    val sumExpr = expr("CAST(CAST(aggregate(embedding, CAST(0.0 AS DOUBLE), (a, x) -> a + CAST(x AS DOUBLE)) AS DECIMAL(30,10)) AS DECIMAL(30,10))")
    val got = backE.agg(sum(sumExpr)).head().getDecimal(0)
    val exp = emb.agg(sum(sumExpr)).head().getDecimal(0)
    assert(got == exp)
  }

  test("chunked multi-partition read covers all records exactly once") {
    val dir = "/tmp/graft_nc_spec/chunks"
    NcIO.write(li.repartition(3), dir, chunkBytes = 1 << 12)
    val back = spark.read.format("graft.sources.netcdf.NetCDF3Source")
      .option("recordsPerPartition", "97")
      .load(dir)
    assert(back.select("record").distinct().count() == li.count())
    assert(back.count() == li.count())
  }
}
