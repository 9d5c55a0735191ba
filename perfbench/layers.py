"""Catalog of the per-layer metrics the traced runs record."""

#: Operator modules reported as ``operators.<module>.s``: the module of
#: each query's operator, ``registry`` for queries that are not plain
#: operator wrappers.
OPERATOR_MODULES = (
    "aggregates", "dedup", "entities", "graph", "registry", "relational",
    "similarity", "temporal", "textstats", "trend", "windows",
)

#: Every per-layer metric any workload records, with its unit. The
#: traced run prints those ``BENCHMARK.json`` lists; the run record
#: keeps all of them. A layer a workload does not call reads 0.
LAYER_UNITS = {
    "session.get_spark_s": "s",
    "tables.load_table_s": "s",
    "registry.build_s": "s/op",
    "registry.build_jobs": "count/op",
    "catalyst.analysis_s": "s/op",
    "catalyst.optimization_s": "s/op",
    "catalyst.planning_s": "s/op",
    "spark.jobs": "count/op",
    "spark.stages": "count/op",
    "spark.tasks": "count/op",
    "spark.no_job_s": "s/op",
    "spark.executor_run_s": "s/op",
    "spark.executor_cpu_s": "s/op",
    "spark.gc_s": "s/op",
    "spark.task_busy_ratio": "ratio",
    "spark.input_bytes": "B/op",
    "spark.shuffle_write_bytes": "B/op",
    "spark.shuffle_read_bytes": "B/op",
    "spark.shuffle_fetch_wait_s": "s/op",
    "spark.spill_bytes": "B/op",
    "spark.task_skew": "ratio",
    **{f"operators.{m}.s": "s" for m in OPERATOR_MODULES},
    "python_worker.bytes_sent": "B/op",
    "python_worker.bytes_returned": "B/op",
    "streaming.triggers": "count",
    "streaming.trigger_s_p50": "s",
    "streaming.add_batch_s": "s",
    "streaming.latest_offset_s": "s",
    "streaming.query_planning_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.commit_offsets_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_memory_bytes": "B",
    "streaming.state_commit_s": "s",
    "streaming.backlog_files_max": "count",
    "sinks.write_s": "s",
    "generator.late_s_max": "s",
    "txnlog.write_commit_s": "s",
    "txnlog.commit_retries": "count",
    "txnlog.read_snapshot_s": "s",
    "bloom.write_sidecar_s": "s",
    "bloom.prune_s": "s",
    "bloom.files_kept_ratio": "ratio",
    "txnlog.compact_s": "s",
    "txnlog.vacuum_s": "s",
    "txnlog.live_files": "count",
    "txnlog.manifest_bytes": "B",
    "txnlog.bytes_on_disk": "B",
    "txnlog.write_amplification": "ratio",
    "trace.spans": "count",
}
