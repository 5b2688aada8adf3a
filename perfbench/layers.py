"""Names of the per-layer metrics every traced run reports (0 where a
workload does not reach the layer)."""

# the __spark_entry__ queries whose work sits in functions/ kernels and in
# the exact-percentile path of operators/stats.py
HEAVY_QUERIES = (
    "minhash_lsh", "simhash_near_dup", "dedup_jaccard", "dedup_embedding", "semantic_dedup",
    "contamination", "dedup_keep_best", "incremental_dedup", "quantile_profile",
    "outlier_fences", "referential_bloom", "bpe_count",
)

PER_LAYER = (
    "sources.input_mb", "sources.input_records", "sources.scan_time_s", "sources.doc_scans",
    "fused.call_s", "fused.exec_s", "fused.jobs", "fused.stages",
    "runner.call_s", "runner.jobs", "runner.stages", "runner.driver_gap_s",
    "checkpoint.read_s", "checkpoint.noop_resume_s", "checkpoint.skipped_frac",
    "checkpoint.append_mb", "checkpoint.files",
    *(f"operators.{fn}.exec_s" for fn in (
        "schema_assert", "column_stats", "uniqueness_check", "fd_check",
        "referential_check", "drift_check", "span_grammar_check",
    )),
    *(f"functions.{q}.exec_s" for q in HEAVY_QUERIES),
    "streaming.add_batch_ms", "streaming.planning_ms", "streaming.wal_ms",
    "streaming.trigger_overhead_ms", "streaming.batch_p50_ms.drift",
    "streaming.batch_p50_ms.span_grammar", "streaming.batch_p50_ms.schema_assert",
    "spark.exec_run_s", "spark.exec_cpu_s", "spark.cpu_util", "spark.gc_s", "spark.tasks",
    "spark.jobs", "spark.shuffle_write_mb", "spark.shuffle_read_mb", "spark.fetch_wait_s",
    "spark.spill_mb", "spark.peak_exec_mem_mb", "spark.py_sent_mb", "spark.py_recv_mb",
    "spark.py_run_s", "spark.py_boot_s", "spark.driver_gap_s",
    "host.wall_s", "host.cpu_s", "host.steal_frac",
    "setup.jvm_s", "setup.warmup_s", "trace.run_p50_s", "trace.overhead_frac",
)

