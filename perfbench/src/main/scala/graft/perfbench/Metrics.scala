package graft.perfbench

/** The metric contract: names and units printed by every run.
  * BENCHMARK.json lists the same names (a test pins the two together).
  * An untraced run prints every end-to-end metric; a traced run
  * prints every per-layer metric (0 where the workload bypasses the
  * layer). */
object Metrics {

  final case class Spec(name: String, unit: String)

  val endToEnd: Seq[Spec] = Seq(
    Spec("setup_s", "s"),
    Spec("live_heap_mb", "MB"),
    Spec("op_p50_ms", "ms"),
    Spec("op_p90_ms", "ms"),
    Spec("pass_s", "s"))

  /** Tags `Staged.register`s at this commit; each gets its own
    * per-layer row so a build that moves shows by name. */
  val stagedTags: Seq[String] = Seq(
    "bloom_hist", "bpe_trained_merges", "bucketed_layout", "dsir_lam", "ivf_cents",
    "knn_graph", "lsh_clusters", "lsh_pairs", "lsh_pairs_uni", "mh_sigs", "nbc_model",
    "nov_df", "pdb_feats", "ppl_dict", "price_indexed", "qty_indexed", "sh3", "sh3_hot",
    "sh4", "sh4_uni", "simhash_fps_uni", "sparse_feats", "sq_stats", "stok_vocab",
    "tfidf_idf", "tfidf_tf", "tfidf_uni_idf", "tfidf_uni_tf", "truth_pairs", "utoks",
    "wds_tars", "winnow_fps", "winnow_fps_uni")

  /** Span kinds whose self time (duration minus the union of their
    * children) is reported per operation. */
  val spanKinds: Seq[String] =
    Seq("operation", "build", "action", "catalyst", "job", "stage", "batch")

  val perLayer: Seq[Spec] = Seq(
    // sources.netcdf codec, replayed over the files the workload wrote
    Spec("codec.h5.read_meta_ms", "ms"),
    Spec("codec.nc3.read_meta_ms", "ms"),
    Spec("codec.h5.chunks_indexed", "count"),
    Spec("codec.h5.decode_MBps", "MB/s"),
    Spec("codec.nc3.decode_MBps", "MB/s"),
    Spec("codec.h5.encode_MBps", "MB/s"),
    Spec("codec.nc3.encode_MBps", "MB/s"),
    Spec("codec.h5.stored_bytes", "bytes"),
    Spec("codec.nc3.stored_bytes", "bytes"),
    // sources.netcdf DSv2, from the executed plans' BatchScanExec
    Spec("dsv2.files_listed", "count"),
    Spec("dsv2.partitions_planned", "count"),
    Spec("dsv2.files_scanned", "count"),
    Spec("dsv2.file_prune_ratio", "ratio"),
    // Catalyst, per operation
    Spec("catalyst.analysis_ms", "ms"),
    Spec("catalyst.optimization_ms", "ms"),
    Spec("catalyst.planning_ms", "ms"),
    // Spark execution, per operation
    Spec("spark.jobs", "count"),
    Spec("spark.stages", "count"),
    Spec("spark.tasks", "count"),
    Spec("spark.job_wall_ms", "ms"),
    Spec("spark.driver_outside_jobs_ms", "ms"),
    Spec("spark.executor_run_ms", "ms"),
    Spec("spark.executor_cpu_ms", "ms"),
    Spec("spark.gc_ms", "ms"),
    Spec("spark.input_bytes", "bytes"),
    Spec("spark.shuffle_read_bytes", "bytes"),
    Spec("spark.shuffle_write_bytes", "bytes"),
    Spec("spark.spill_bytes", "bytes"),
    // SparkEntry query builders, per operation
    Spec("entry.build_ms", "ms"),
    Spec("entry.build_jobs", "count"),
    // streaming, per operation
    Spec("stream.batches", "count"),
    Spec("stream.batch_ms", "ms"),
    Spec("stream.outside_batches_ms", "ms"),
    // operators.Staged
    Spec("staged.prestage_ms", "ms")) ++
    stagedTags.map(t => Spec(s"staged.tag_ms.$t", "ms")) ++ Seq(
    // Tables
    Spec("tables.resolve_ms", "ms")) ++
    spanKinds.map(k => Spec(s"self.${k}_ms", "ms")) ++ Seq(
    // the traced run's own cost: traced vs untraced operations, same run
    Spec("trace.overhead_pct", "%"),
    Spec("trace.spans", "count"))

  /** Render one run's result as the single JSON line a caller parses.
    * Values keep all their digits (Double.toString); a NaN or infinite
    * value is a harness bug and fails loudly rather than printing
    * invalid JSON. */
  def resultLine(correct: Boolean, attempted: Int, failed: Int,
      values: Seq[(Spec, Double)]): String = {
    val ms = values.map { case (spec, v) =>
      require(!v.isNaN && !v.isInfinite, s"metric ${spec.name} is $v")
      s""""${spec.name}": {"value": ${v.toString}, "unit": "${spec.unit}"}"""
    }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }
}
