package graft

import graft.sources.netcdf.NcIO
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Chunk-compressed (.ncz) part files: splittable compression —
  * deflated record blocks behind an uncompressed classic header and a
  * block-index footer, so compression costs neither read parallelism
  * nor record-range/zone-map pruning. */
class NczSpec extends AnyFunSuite {
  import TestSession._

  private val SRC = "graft.sources.netcdf.NetCDF3Source"
  private def li = spark.read.parquet(s"$sf/lineitem.parquet")
    .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))

  test("ncz roundtrip preserves every value") {
    val dir = "/tmp/graft_nc_spec/ncz_roundtrip"
    NcIO.write(li.repartition(3), dir, compressChunks = true)
    val back = spark.read.format(SRC).load(dir)
    assert(back.count() == li.count())
    // decimal sums: associative, so partition-split differences between
    // the parquet and ncz scans cannot perturb the comparison
    def sums(df: org.apache.spark.sql.DataFrame) = df.agg(
      sum("l_orderkey"),
      sum(col("l_quantity").cast("decimal(20,2)")),
      sum(col("l_extendedprice").cast("decimal(20,2)"))).head()
    assert(sums(li) == sums(back))
  }

  test("ncz is smaller than the plain encoding") {
    val plain = "/tmp/graft_nc_spec/ncz_size_plain"
    val ncz = "/tmp/graft_nc_spec/ncz_size_comp"
    NcIO.write(li.repartition(1), plain)
    NcIO.write(li.repartition(1), ncz, compressChunks = true)
    val fs = new Path(plain).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def bytes(d: String) = fs.listStatus(new Path(d)).map(_.getLen).sum
    assert(bytes(ncz) < bytes(plain) * 3 / 4,
      s"ncz=${bytes(ncz)} plain=${bytes(plain)}")
  }

  test("ncz files stay splittable: one file plans many partitions") {
    val dir = "/tmp/graft_nc_spec/ncz_split"
    NcIO.write(li.repartition(1), dir, chunkBytes = 4096, compressChunks = true)
    val n = spark.read.format(SRC).option("chunkBytes", "4096").load(dir)
      .rdd.getNumPartitions
    assert(n > 4, s"expected a multi-partition scan over one .ncz file, got $n")
  }

  test("record-range pushdown returns the exact slice from compressed blocks") {
    val dir = "/tmp/graft_nc_spec/ncz_slice"
    NcIO.write(li.repartition(1).sortWithinPartitions("l_orderkey"), dir,
      chunkBytes = 4096, compressChunks = true)
    val back = spark.read.format(SRC).option("chunkBytes", "4096").load(dir)
    val sliced = back.filter(col("record") >= 100L && col("record") < 2100L)
    assert(sliced.count() == 2000)
    assert(sliced.agg(min("record"), max("record")).head() ==
      org.apache.spark.sql.Row(100L, 2099L))
    // and the values of the slice are the right ones, not just the count
    val expect = li.repartition(1).sortWithinPartitions("l_orderkey")
      .limit(2100).orderBy(desc("l_orderkey")).limit(2000)
      .agg(sum("l_orderkey")).head()
    assert(sliced.agg(sum("l_orderkey")).head() == expect)
  }

  test("zone maps still prune whole ncz files") {
    // netcdf4 parts go through the same shared zone-map planner
    val bucketed = li.repartitionByRange(4, col("l_orderkey")).sortWithinPartitions("l_orderkey")
    for (fmt <- Seq("ncz", "nc4")) {
      val dir = s"/tmp/graft_nc_spec/${fmt}_zone"
      val src =
        if (fmt == "ncz") { NcIO.write(bucketed, dir, compressChunks = true); SRC }
        else { bucketed.write.format("netcdf4").mode("overwrite").save(dir); "netcdf4" }
      val back = spark.read.format(src).load(dir)
      // an out-of-range filter plans zero partitions
      val none = back.filter(col("l_orderkey") > 100000000L)
      assert(none.rdd.getNumPartitions == 0 || none.count() == 0, fmt)
      val some = back.filter(col("l_orderkey") <= 10L)
      assert(some.count() == li.filter(col("l_orderkey") <= 10L).count(), fmt)
      // a low key range lies in the first bucket: the other 3 files are pruned
      val files = some.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.inputPartitions
      }.flatten.collect {
        case p: graft.sources.netcdf.NcInputPartition => p.file
        case p: graft.sources.netcdf.Nc4InputPartition => p.file
      }.distinct
      assert(files.size == 1, s"$fmt: zone maps kept ${files.mkString(",")}")
    }
  }

  test("dsv2 write path produces ncz via option") {
    val dir = "/tmp/graft_nc_spec/ncz_dsv2"
    li.limit(200).repartition(1).write.format(SRC)
      .option("compressChunks", "true").mode("overwrite").save(dir)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val names = fs.listStatus(new Path(dir)).map(_.getPath.getName)
    assert(names.exists(_.endsWith(".ncz")), names.mkString(","))
    assert(spark.read.format(SRC).load(dir).count() == 200)
  }

  test("string and array columns roundtrip through ncz") {
    val dir = "/tmp/graft_nc_spec/ncz_mixed"
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"), col("label"))
    NcIO.write(emb.repartition(2), dir, compressChunks = true)
    val back = spark.read.format(SRC).load(dir)
    val s1 = emb.select(sum(expr("aggregate(embedding, CAST(0 AS DOUBLE), (a, x) -> a + x)"))).head()
    val s2 = back.select(sum(expr("aggregate(embedding, CAST(0 AS DOUBLE), (a, x) -> a + x)"))).head()
    assert(back.count() == emb.count() && s1 == s2)
  }

  test("incompressible blocks are stored raw (negative index len) and roundtrip") {
    import graft.sources.netcdf.NcFormat
    val dir = "/tmp/graft_nc_spec/ncz_stored"
    // high-entropy payload: ONLY md5-derived longs, full 64 bits each,
    // under per-column string namespaces — numeric salts (id + k)
    // would make column B of row i EQUAL column A of row i+k, feeding
    // LZ77 enough repeats to halve the block (verified: 2.2x)
    def h(ns: String) =
      s"shiftleft(CAST(CONV(SUBSTRING(md5(concat('$ns:', CAST(id AS STRING))), 1, 15), 16, 10) AS BIGINT), 4)" +
        s" | CAST(CONV(SUBSTRING(md5(concat('$ns:', CAST(id AS STRING))), 16, 1), 16, 10) AS BIGINT)"
    val noisy = spark.range(0, 5000).selectExpr(
      s"${h("a")} AS h1", s"${h("b")} AS h2", s"${h("c")} AS h3")
    NcIO.write(noisy.repartition(1), dir, compressChunks = true)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = fs.listStatus(new Path(dir)).map(_.getPath)
      .find(_.getName.endsWith(".ncz")).get
    val idx = NcFormat.readNczIndex(fs, part)
    assert(idx.blocks.exists(_._2 < 0),
      "expected at least one stored (negative-length) block for high-entropy data")
    val back = spark.read.format(SRC).load(dir)
    assert(back.count() == 5000)
    def s(df: org.apache.spark.sql.DataFrame) =
      df.agg(sum(col("h1").cast("decimal(38,0)")), sum(col("h2").cast("decimal(38,0)")),
        sum(col("h3").cast("decimal(38,0)"))).head()
    assert(s(noisy) == s(back))
    // and compressible data still deflates (both paths coexist)
    val dir2 = "/tmp/graft_nc_spec/ncz_mixed_codec"
    NcIO.write(li.repartition(1), dir2, compressChunks = true)
    val part2 = fs.listStatus(new Path(dir2)).map(_.getPath)
      .find(_.getName.endsWith(".ncz")).get
    assert(NcFormat.readNczIndex(fs, part2).blocks.exists(_._2 > 0),
      "compressible lineitem blocks should still deflate")
  }
}
