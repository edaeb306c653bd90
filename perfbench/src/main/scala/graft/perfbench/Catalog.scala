package graft.perfbench

/** Every metric the benchmark prints, with its unit, direction, the
  * workloads that exercise it and the end-to-end metrics it should move.
  * `BENCHMARK.json` lists the same names, units and directions (checked by
  * CatalogSpec and again by run.py on every result); the workload and
  * target columns live here because that file's schema has no room for
  * them.
  *
  * End-to-end metrics are reported by every workload from an untraced run
  * (`--trace 0`); per-layer metrics by every workload from a traced run
  * (`--trace 1`), as 0 on a workload that does not exercise the layer.
  */
object Catalog {

  final case class Metric(name: String, unit: String, better: String,
      bound: Option[Double], workloads: Seq[String], targets: Seq[String],
      doc: String)

  val KV = "kv_serve"
  val SQL = "sql_mixed"
  val PIPE = "pipeline"
  val Workloads: Seq[String] = Seq(KV, SQL, PIPE)
  private val All = Workloads

  private def e2e(name: String, unit: String, better: String, bound: Double,
      doc: String) = Metric(name, unit, better, Some(bound), All, Nil, doc)
  private def layer(name: String, unit: String, better: String,
      ws: Seq[String], targets: Seq[String], doc: String) =
    Metric(name, unit, better, None, ws, targets, doc)

  val endToEnd: Seq[Metric] = Seq(
    e2e("setup_s", "s", "lower", 0.25,
      "Spark session start plus the median of three rebuilds of the " +
        "workload's data, tables or indexes, and warm-up"),
    e2e("heap_retained_mb", "MB", "lower", 0.1,
      "driver heap still live after full GCs at the end of the timed phase " +
        "(the heap pools' usage as the last collection left it)"),
    e2e("bulk_rows_per_s", "rows/s", "higher", 0.25,
      "kv_serve: rows per second of insert+flush+merge time; sql_mixed: " +
        "rows of one INSERT per second of the median INSERT plus half the " +
        "median OPTIMIZE; pipeline: documents per second through the " +
        "near-duplicate dedup pass"),
    e2e("read_p50_ms", "ms", "lower", 0.25,
      "geometric mean over the read classes (kv lookup and scan; the six " +
        "SELECT classes; BM25 and ANN search) of each class's median latency"),
    e2e("read_class_p50_ratio", "ratio", "lower", 0.25,
      "power mean (exponent 8) over the read classes of each class's median " +
        "latency divided by its reference median (RefP50Ms): it follows the " +
        "slowest class, so one class alone moves it by 25% when it slows by " +
        "1.55x of six (sql_mixed) or 1.35x of two (kv_serve, pipeline)"))

  private val kvTargetsIngest = Seq("bulk_rows_per_s")

  val perLayer: Seq[Metric] = Seq(
    // mergetree on kv_serve (counts and totals are per epoch)
    layer("mergetree.insert_us_p50", "us", "lower", Seq(KV), kvTargetsIngest,
      "insert() calls that did not flush"),
    layer("mergetree.flush_count", "count", "lower", Seq(KV), kvTargetsIngest,
      "memtable flushes per epoch"),
    layer("mergetree.flush_ms_p50", "ms", "lower", Seq(KV), kvTargetsIngest,
      "insert() calls that flushed"),
    layer("mergetree.flush_ms_total", "ms", "lower", Seq(KV), kvTargetsIngest,
      "flush time per epoch"),
    layer("mergetree.merge_count", "count", "lower", Seq(KV), kvTargetsIngest,
      "mergePartsSync() rounds per epoch"),
    layer("mergetree.merge_ms_p50", "ms", "lower", Seq(KV), kvTargetsIngest, "per merge"),
    layer("mergetree.merge_ms_max", "ms", "lower", Seq(KV), kvTargetsIngest, "slowest merge"),
    layer("mergetree.merge_ms_total", "ms", "lower", Seq(KV), kvTargetsIngest,
      "merge time per epoch"),
    layer("mergetree.write_amp", "ratio", "lower", Seq(KV), kvTargetsIngest,
      "bytes of all parts created / bytes of parts created by flushes"),
    layer("mergetree.space_amp", "ratio", "lower", Seq(KV), Nil,
      "diskUsage / raw bytes of the live user rows at epoch end"),
    layer("mergetree.parts_live_mean", "count", "lower", Seq(KV, SQL),
      Seq("read_p50_ms"), "live parts, sampled at every read"),
    layer("mergetree.local_share", "ratio", "higher", Seq(KV), Seq("read_p50_ms"),
      "share of kv reads served by the driver short-circuit (lastScanLocal)"),
    layer("mergetree.cache_rows", "count", "higher", Seq(KV),
      Seq("read_p50_ms", "heap_retained_mb"),
      "rows in the driver part-row cache (localCacheStats), mean over reads"),
    layer("mergetree.rows_per_scan", "count", "higher", Seq(KV), Seq("read_p50_ms"),
      "rows returned per range scan; normalizes the scan latencies"),
    layer("mergetree.lookup_ms_p50", "ms", "lower", Seq(KV), Seq("read_class_p50_ratio"),
      "queryRows(k, k)"),
    layer("mergetree.lookup_ms_p99", "ms", "lower", Seq(KV), Nil,
      "queryRows(k, k)"),
    layer("mergetree.scan_ms_p50", "ms", "lower", Seq(KV), Seq("read_p50_ms"),
      "queryRows(lo, hi)"),
    layer("mergetree.scan_ms_p99", "ms", "lower", Seq(KV), Nil,
      "queryRows(lo, hi)"),
    // mergetree on sql_mixed
    layer("mergetree.insert_ms_p50", "ms", "lower", Seq(SQL), Seq("bulk_rows_per_s"),
      "one INSERT statement of a version batch"),
    layer("mergetree.optimize_ms", "ms", "lower", Seq(SQL),
      Seq("bulk_rows_per_s", "read_p50_ms"), "median OPTIMIZE TABLE ... FINAL"),
    layer("mergetree.rows_read_per_row_returned", "ratio", "lower", Seq(SQL),
      Seq("read_class_p50_ratio"), "scan-node output rows / rows returned, key lookups"),
    // sources on sql_mixed
    layer("sources.point_p50_ms", "ms", "lower", Seq(SQL), Seq("read_class_p50_ratio"),
      "key lookup on FINAL"),
    layer("sources.parse_ms_p50", "ms", "lower", Seq(SQL), Seq("read_p50_ms"),
      "spark.sql(text): parser rewrites, analysis, catalog resolution"),
    layer("sources.plan_ms_p50", "ms", "lower", Seq(SQL), Seq("read_p50_ms"),
      "executedPlan, including manifest load and part pruning"),
    layer("sources.exec_ms_p50", "ms", "lower", Seq(SQL), Seq("read_p50_ms"),
      "collect() of the planned query"),
    layer("sources.range_p50_ms", "ms", "lower", Seq(SQL), Seq("read_p50_ms"),
      "key-range aggregate"),
    layer("sources.agg_p50_ms", "ms", "lower", Seq(SQL), Seq("read_p50_ms"),
      "plain GROUP BY"),
    layer("sources.final_p50_ms", "ms", "lower", Seq(SQL), Seq("read_class_p50_ratio"),
      "FINAL aggregate"),
    layer("sources.topk_p50_ms", "ms", "lower", Seq(SQL), Seq("read_p50_ms"),
      "ORDER BY ... LIMIT"),
    layer("sources.join_final_p50_ms", "ms", "lower", Seq(SQL), Seq("read_class_p50_ratio"),
      "join against a FINAL table"),
    // plans
    layer("plans.exchanges_final_before_optimize", "count", "lower", Seq(SQL),
      Seq("read_class_p50_ratio"), "Exchange nodes in the FINAL aggregate's plan, last round before OPTIMIZE"),
    layer("plans.exchanges_final_after_optimize", "count", "lower", Seq(SQL),
      Seq("read_class_p50_ratio"), "Exchange nodes in the FINAL aggregate's plan, first round after OPTIMIZE"),
    layer("plans.exchanges_per_query", "count", "lower", Seq(SQL), Seq("read_p50_ms"),
      "Exchange nodes per executed SELECT"),
    layer("plans.exchanges_per_search", "count", "lower", Seq(PIPE), Seq("read_p50_ms"),
      "Exchange nodes per executed BM25 or ANN search"),
    // functions and operators on pipeline
    layer("functions.tokenize_ms", "ms", "lower", Seq(PIPE), Seq("bulk_rows_per_s"),
      "window_hashes + minhash_band_sigs over one dedup sample, called on " +
        "their own beside the dedup op (traced units only)"),
    layer("queries.q25_ms", "ms", "lower", Seq(PIPE), Seq("bulk_rows_per_s"),
      "PipelineQueries.q25MinhashLsh over one dedup sample: shingle hashes, " +
        "MinHash bands, band join, exact Jaccard verify"),
    layer("operators.verified_edges", "count", "higher", Seq(PIPE), Seq("bulk_rows_per_s"),
      "pairs with Jaccard >= 0.8 per dedup pass"),
    layer("operators.cc_ms", "ms", "lower", Seq(PIPE), Seq("bulk_rows_per_s"),
      "ConnectedComponents.run over the verified edges"),
    layer("operators.bm25_build_ms", "ms", "lower", Seq(PIPE), Seq("setup_s"),
      "InvertedIndex.build, median of the setup rebuilds"),
    layer("operators.ivf_build_ms", "ms", "lower", Seq(PIPE), Seq("setup_s"),
      "IvfIndex.build, median of the setup rebuilds"),
    layer("operators.bm25_search_ms_p50", "ms", "lower", Seq(PIPE), Seq("read_class_p50_ratio"),
      "InvertedIndex.search, top 10"),
    layer("operators.ann_search_ms_p50", "ms", "lower", Seq(PIPE), Seq("read_p50_ms"),
      "IvfIndex.search, top 10"),
    layer("operators.bm25_bucket_share", "ratio", "lower", Seq(PIPE), Seq("read_p50_ms"),
      "planned / total index parts (lastPruning), BM25"),
    layer("operators.ann_cluster_share", "ratio", "lower", Seq(PIPE), Seq("read_p50_ms"),
      "planned / total index parts (lastPruning), ANN"),
    layer("operators.ann_recall_at_10", "ratio", "higher", Seq(PIPE), Nil,
      "overlap with the exact brute-force top 10 of the same query vector, " +
        "mean over the timed searches (each search is also checked against " +
        "Pipeline.RecallFloor, the run's mean against MeanRecallFloor)"),
    // spark, from the benchmark's SparkListener (per timed operation)
    layer("spark.jobs_per_read", "count", "lower", All, Seq("read_p50_ms"),
      "Spark jobs per read operation (0 on the kv short-circuit)"),
    layer("spark.tasks_per_read", "count", "lower", All, Seq("read_p50_ms"),
      "Spark tasks per read operation"),
    layer("spark.jobs_per_op", "count", "lower", All, Seq("read_p50_ms", "bulk_rows_per_s"),
      "Spark jobs per timed operation"),
    layer("spark.tasks_per_op", "count", "lower", All, Seq("read_p50_ms", "bulk_rows_per_s"),
      "Spark tasks per timed operation"),
    layer("spark.executor_cpu_ms_per_op", "ms", "lower", All, Seq("read_p50_ms", "bulk_rows_per_s"),
      "task executorCpuTime per timed operation"),
    layer("spark.gc_ms_per_op", "ms", "lower", All, Seq("read_p50_ms", "bulk_rows_per_s"),
      "task jvmGCTime per timed operation"),
    layer("spark.shuffle_write_bytes_per_op", "bytes", "lower", All,
      Seq("read_p50_ms", "bulk_rows_per_s"), "per timed operation"),
    layer("spark.shuffle_read_bytes_per_op", "bytes", "lower", All,
      Seq("read_p50_ms", "bulk_rows_per_s"), "per timed operation"),
    layer("spark.spill_bytes_per_op", "bytes", "lower", All, Seq("read_p50_ms"),
      "memory + disk bytes spilled per timed operation"),
    layer("spark.input_bytes_per_op", "bytes", "lower", All, Seq("read_p50_ms"),
      "task input bytes per timed operation"),
    layer("jvm.driver_gc_ms_per_s", "ms/s", "lower", All, Seq("read_p50_ms"),
      "driver GC time (GC MXBeans) per second of timed phase"),
    // trace bookkeeping
    layer("trace.reads", "count", "higher", All, Nil,
      "read samples behind the traced percentiles"),
    layer("trace.mergetree_self_share", "ratio", "lower", All, Nil,
      "self time of mergetree spans / traced wall time"),
    layer("trace.sources_self_share", "ratio", "lower", All, Nil,
      "self time of sources spans / traced wall time"),
    layer("trace.functions_self_share", "ratio", "lower", All, Nil,
      "self time of functions spans / traced wall time"),
    layer("trace.operators_self_share", "ratio", "lower", All, Nil,
      "self time of operators spans / traced wall time"),
    layer("trace.queries_self_share", "ratio", "lower", All, Nil,
      "self time of queries spans / traced wall time"),
    layer("trace.spark_self_share", "ratio", "lower", All, Nil,
      "Spark job time (union of job intervals) / traced wall time"),
    layer("trace.unattributed_share", "ratio", "lower", All, Nil,
      "share of traced wall time no program layer's self time accounts for"),
    layer("trace.overhead_pct", "%", "lower", All, Nil,
      "read_p50 of traced units over read_p50 of interleaved untraced units, minus 1"))

  /** Layers whose span self time is reported (the `trace.*_self_share` rows). */
  val ProgramLayers: Seq[String] =
    Seq("mergetree", "sources", "functions", "operators", "queries", "spark")

  /** Reference median latency (ms) of each read class: the median over
    * seeds 41-45 of untraced 8 s runs of this benchmark's first version on a
    * 4-core x86-64 host (local[4], 2 GB driver heap). `read_class_p50_ratio`
    * divides by these, so a uniformly faster or slower host scales every
    * class alike and a class weighs by how far it is above its usual
    * latency.
    */
  val RefP50Ms: Map[(String, String), Double] = Map(
    (KV, "lookup") -> 0.0415, (KV, "scan") -> 0.0497,
    (SQL, "point") -> 146.4, (SQL, "range") -> 106.1, (SQL, "agg") -> 211.2,
    (SQL, "final") -> 319.7, (SQL, "topk") -> 70.5, (SQL, "join_final") -> 334.7,
    (PIPE, "bm25") -> 346.0, (PIPE, "ann") -> 553.5)

  def forMode(traced: Boolean): Seq[Metric] = if (traced) perLayer else endToEnd
}
