"""Closed-loop batch workloads: one client runs a fixed query list back
to back, in whole passes. The number of passes follows from the run's
seconds and the nominal pass time (``common.rounds``), so every run at
the same ``--seconds`` does the same operations.

Each timed operation is the query build (``QUERIES[name](spark, dir)``)
plus its execution, collected to the driver. Every query of the list
runs once on the small warm-up tables during set-up, so first-run code
generation and JIT compilation stay out of the timed window. The
collected rows are checked against DuckDB on the same generated tables
after the timed passes, so every output of the run is checked.
"""

from __future__ import annotations

import os
import time
from collections import defaultdict

from perfbench import gen
from perfbench.common import Ctx, rounds, tree_cpu_s
from perfbench.layers import OPERATOR_MODULES
from perfbench.stats import mix_mean_of_medians

#: The paper's trend analytics, one query each: decay
#: (``streaming_decay_trend``), JSON parsing, Count-Min and distinct-count
#: sketches, the pandas-UDF path (``sentiment_score``) and windows. The
#: first run of a query in a JVM costs 1-6 s on 4 cores and a warm run
#: 0.5-2 s; every timed query is warmed in set-up, so a longer list would
#: not fit a run's time budget.
TREND_QUERIES = [
    "streaming_decay_trend", "json_extract", "cms_topk_sketch",
    "approx_distinct_check", "sentiment_score", "window_tumbling",
]

LLM_QUERIES = [
    "dedup_exact", "dedup_minhash_check", "dedup_simhash_check",
    "ngram_jaccard_check", "dedup_clusters", "tfidf_cosine_pairs",
    "winnow_fingerprints", "decontaminate_ngram", "sim_search",
    "ann_recall_check", "embed_neardup_check", "quality_filter",
    "pipeline_curate",
]

#: Nominal seconds of one warm pass on 4 cores.
PASS_S = {"trend_queries": 6.0, "llm_curation": 40.0}



def operator_module(fn) -> str:
    """Module of the operator a registry query wraps (``registry`` when
    the query is not a plain ``_q`` wrapper)."""
    impl = getattr(fn, "__query_impl__", None)
    if impl is None:
        return "registry"
    return impl[0].__module__.rsplit(".", 1)[-1]


def check_cms_sketch(spark, con, rows) -> None:
    """``cms_topk_sketch`` has no oracle SQL: check each per-source
    Count-Min sketch against exact DuckDB token counts. A CMS never
    under-counts, and its total equals the number of tokens added."""
    exact = defaultdict(dict)
    for source, token, n in con.execute(
        "SELECT source, token, count(*) FROM (SELECT source, "
        "unnest(string_split(text, ' ')) AS token FROM documents) GROUP BY ALL"
    ).fetchall():
        exact[source][token] = n
    if sorted(r[0] for r in rows) != sorted(exact):
        raise AssertionError("cms_topk_sketch: sources differ from the oracle")
    cms_cls = spark._jvm.org.apache.spark.util.sketch.CountMinSketch
    for source, blob in rows:
        cms = cms_cls.readFrom(bytearray(blob))
        want_total = sum(exact[source].values())
        if cms.totalCount() != want_total:
            raise AssertionError(
                f"cms_topk_sketch[{source}]: total {cms.totalCount()} != {want_total}"
            )
        for token, n in exact[source].items():
            if cms.estimateCount(token) < n:
                raise AssertionError(f"cms_topk_sketch[{source}]: {token} under-counted")


def run(ctx: Ctx, names: list[str]) -> dict:
    oracle = ctx.oracle_utils()
    assert_results_match, run_spark = oracle.assert_results_match, oracle.run_spark

    from big_data_trend_analysis_spark.plans import registry
    from big_data_trend_analysis_spark.plans.registry import ORACLE_SQL, QUERIES

    unchecked = [n for n in names if n not in ORACLE_SQL and n != "cms_topk_sketch"]
    if unchecked:
        raise SystemExit(f"queries without a correctness check: {unchecked}")

    with ctx.generating():
        data = gen.cached_tables(ctx.cache, ctx.args.seed)
        warm_dir = gen.cached_tables(ctx.cache, ctx.args.seed, gen.WARM_SIZES)
    ctx.inputs = {"tables": gen.SIZES, "dir_bytes": _dir_bytes(data)}

    def session_warm(spark) -> None:
        run_spark(QUERIES[names[0]](spark, warm_dir))

    def workload_warm(spark) -> None:
        for name in names[1:]:
            run_spark(QUERIES[name](spark, warm_dir))
        spark.catalog.clearCache()

    ctx.setup(session_warm, workload_warm)
    spark = ctx.spark
    con = oracle.duckdb_connection(data)
    expected = {n: oracle.run_oracle(con, ORACLE_SQL[n]) for n in names if n in ORACLE_SQL}

    tracer = ctx.tracer
    obs = None
    layer = defaultdict(float)
    groups: list[str] = []
    saved = (registry.load_table, registry.tune_session)
    if tracer.enabled:
        from perfbench import sparkobs

        obs = sparkobs.SparkObserver(spark)
        registry.load_table = tracer.wrap("tables.load_table", registry.load_table)
        registry.tune_session = tracer.wrap("session.tune_session", registry.tune_session)

    samples: list[float] = []
    per_query: list[tuple[str, float]] = []
    per_module = defaultdict(float)
    results: list[tuple[str, str, object]] = []  # (op id, query, rows)
    cpu = defaultdict(list)  # query -> CPU seconds of each run of it
    passes = rounds(ctx.args.seconds, PASS_S[ctx.args.workload])
    t_start = time.perf_counter()
    try:
        for p in range(passes):
            for name in names:
                spark.catalog.clearCache()
                op_id = f"p{p}.{name}"
                ctx.attempt()
                if obs is not None:
                    marker = obs.sql_marker()
                    w0 = sparkobs.wall_ms()
                    obs.set_group(op_id + ".build")
                    groups.append(op_id + ".build")
                c0 = tree_cpu_s()
                t0 = time.perf_counter()
                try:
                    with tracer.span("op"):
                        with tracer.span("registry.build"):
                            df = QUERIES[name](spark, data)
                        if obs is not None:
                            obs.set_group(op_id + ".exec")
                            groups.append(op_id + ".exec")
                        with tracer.span("execute"):
                            result = run_spark(df)
                except Exception as exc:  # noqa: BLE001 - counted, reported
                    ctx.fail(f"{op_id}: {type(exc).__name__}: {exc}"[:500])
                    continue
                elapsed = time.perf_counter() - t0
                cpu[name].append(tree_cpu_s() - c0)
                samples.append(elapsed)
                per_query.append((op_id, elapsed))
                per_module[operator_module(QUERIES[name])] += elapsed
                results.append((op_id, name, result))
                if obs is not None:
                    _observe(obs, layer, df, op_id, marker, w0)
    finally:
        registry.load_table, registry.tune_session = saved
    wall = time.perf_counter() - t_start

    for op_id, name, result in results:
        try:
            if name == "cms_topk_sketch":
                check_cms_sketch(spark, con, result[1])
            else:
                assert_results_match(result, expected[name], name)
        except AssertionError as exc:
            ctx.fail(f"{op_id}: {exc}"[:500])

    if obs is not None:
        sparkobs.attribute_jobs(obs.jobs_seen, groups)
        _finish_layers(ctx, layer, len(samples), wall, per_module, passes)
    return {
        "latency_samples": samples,
        "ops_per_s": len(samples) / wall,
        "cpu_s_per_op": mix_mean_of_medians(cpu),
        "passes": passes,
        "wall_s": wall,
        "timed_s": sum(samples),
        "per_query_s": per_query,
        "named": {"query_s": samples, "queries_per_s": len(samples) / wall},
    }


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(path, n)) for n in os.listdir(path)
        if n.endswith(".parquet")
    )


def _observe(obs, layer, df, op_id, marker, w0) -> None:
    from perfbench import sparkobs

    w1 = sparkobs.wall_ms()
    jobs = obs.new_jobs()
    build = [j for j in jobs if sparkobs.job_group(j) == op_id + ".build"]
    layer["registry.build_jobs"] += len(build)
    for key, value in obs.job_counters(jobs, w0, w1).items():
        layer[key] += value
    for key, value in sparkobs.catalyst_phases(df).items():
        layer[key] += value
    for key, value in obs.python_worker_bytes(marker).items():
        layer[key] += value


def _finish_layers(ctx, layer, n_ops, wall, per_module, passes) -> None:
    from perfbench.sparkobs import per_op
    from perfbench.stats import layer_totals

    spans = layer_totals(ctx.tracer.spans)
    out = per_op(layer, n_ops, wall)
    build = spans.get("registry.build", {"total_s": 0.0})
    out["registry.build_s"] = build["total_s"] / max(n_ops, 1)
    loads = spans.get("tables.load_table", {"calls": 0, "total_s": 0.0})
    out["tables.load_table_s"] = loads["total_s"] / loads["calls"] if loads["calls"] else 0.0
    for module in OPERATOR_MODULES:
        out[f"operators.{module}.s"] = per_module.get(module, 0.0) / max(passes, 1)
    ctx.layer.update(out)
