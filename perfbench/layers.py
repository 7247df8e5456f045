"""Names of the per-layer metrics a traced run prints, in BENCHMARK.json
order. A workload that does not exercise a layer reports 0 for it (see
README.md for which workload moves which metric)."""

MODULES = ("relational", "finance", "llmdata", "dedup_advanced", "corpus_ops", "ml", "reference_surface")

ALL = (
    "session.get_spark_s",
    "io.warm_tables_s",
    "queries.construct_s",
    "queries.execute_s",
    "queries.py4j_calls",
    *(f"queries.{m}.{p}_s" for m in MODULES for p in ("construct", "execute")),
    "catalyst.analysis_ms",
    "catalyst.optimization_ms",
    "catalyst.planning_ms",
    "spark.jobs",
    "spark.tasks",
    "spark.shuffle_read_mb",
    "spark.shuffle_write_mb",
    "spark.spill_mb",
    "streaming.batches",
    "streaming.batch_p50_s",
    "streaming.plan_s",
    "streaming.source_s",
    "streaming.add_batch_s",
    "streaming.commit_s",
    "streaming.rows_per_batch",
    "streaming.state_rows",
    "streaming.state_mb",
    "sinks.write_s",
    "sinks.table_mb",
    "candles.drain_s",
    "stateful.drain_s",
    "monitor.check_s",
    "generator.late_max_s",
    "trace.overhead_pct",
    "trace.accounted_pct",
)
