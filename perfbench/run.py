#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload trend_queries --seed 42 --seconds 10 --trace 0

Run from the repository root. Earlier stdout lines name every metric of
the workload with its unit; the last line is one JSON object with the
keys ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics of ``BENCHMARK.json`` with ``--trace 0``, its
per-layer metrics with ``--trace 1``). A full record with provenance is
written to ``perfbench/results/runs/``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

WORKLOADS = ("trend_queries", "llm_curation", "tweet_stream", "txnlog_rw")



def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _check_program() -> None:
    """Fail fast, before any set-up, when the engine is not present."""
    import importlib

    for module in ("pyspark", "duckdb"):
        importlib.import_module(module)
    engine = importlib.import_module("big_data_trend_analysis_spark")
    if not os.path.abspath(engine.__file__).startswith(ROOT + os.sep):
        raise SystemExit(f"engine imported from {engine.__file__}, not from {ROOT}")
    if not os.path.exists(os.path.join(ROOT, "tests", "oracle_utils.py")):
        raise SystemExit("tests/oracle_utils.py missing: cannot check outputs")


def main(argv=None) -> int:
    args = parse_args(argv)
    spec = load_spec()
    _check_program()

    from perfbench import common, stats

    work = common.prepare_env(ROOT)
    os.chdir(work)
    ctx = common.Ctx(args, ROOT, work, T_PROCESS)
    try:
        if args.workload in ("trend_queries", "llm_curation"):
            from perfbench import batch

            names = batch.TREND_QUERIES if args.workload == "trend_queries" else batch.LLM_QUERIES
            out = batch.run(ctx, names)
        elif args.workload == "tweet_stream":
            from perfbench import stream

            out = stream.run(ctx)
        else:
            from perfbench import txnlog

            out = txnlog.run(ctx)
        peak_rss = ctx.peak_rss_mb()
        record = {"provenance": common.provenance(ctx)}
    finally:
        ctx.shutdown()
        os.chdir(ROOT)
        ctx.cleanup()

    e2e = {
        "setup_s": ctx.setup_s,
        "setup_wall_s": ctx.setup_wall_s,
        "latency_s_p50": stats.percentile(out["latency_samples"], 0.5),
        "ops_per_s": out["ops_per_s"],
        "cpu_s_per_op": out["cpu_s_per_op"],
        "peak_rss_mb": peak_rss,
    }
    failed = min(ctx.failed, ctx.attempted)
    named = _named_metrics(args.workload, out, e2e, failed, ctx.attempted)
    for name, (value, unit, n) in named.items():
        shown = "n/a (too few samples)" if value is None else f"{value:.6g}"
        suffix = f"  [n={n}]" if n is not None else ""
        print(f"{name:28s} {shown} {unit}{suffix}")

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    if args.trace:
        values = _layer_values(ctx)
    else:
        values = e2e
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    result = stats.validate_result(
        {
            "correct": ctx.failed == 0,
            "attempted": ctx.attempted,
            "failed": failed,
            "metrics": metrics,
        },
        [m["name"] for m in wanted],
    )
    record.update(
        {
            "result": result,
            "end_to_end": e2e,
            "named": {k: {"value": v, "unit": u, "n": n} for k, (v, u, n) in named.items()},
            "inputs": ctx.inputs,
            "setup_s": ctx.setup_s,
            "gen_s": ctx.gen_s,
            "warmup_s": ctx.warmup_s,
            "failures": ctx.failures[:50],
            "detail": {k: v for k, v in out.items() if k not in ("latency_samples", "named")},
        }
    )
    if args.trace:
        record["layers"] = stats.layer_totals(ctx.tracer.spans)
        record["per_layer"] = {k: values[k] for k in sorted(values)}
        record["spans"] = ctx.tracer.spans
    _write_record(args, record)
    print(json.dumps(result))
    return 0


def _named_metrics(workload, out, e2e, failed, attempted) -> dict:
    """The workload's end-to-end metrics under their own names:
    ``name -> (value, unit, sample count)``."""
    from perfbench.common import summarize

    rows = {"setup_s": (e2e["setup_s"], "s", None), "setup_wall_s": (e2e["setup_wall_s"], "s", None)}
    tails = (0.5, 0.99) if workload == "tweet_stream" else (0.5, 0.9)
    for base, value in out["named"].items():
        if isinstance(value, list):
            summary = summarize(value, tails)
            for q in summary:
                if q != "n":
                    rows[f"{base}_{q}"] = (summary[q], "s", summary["n"])
        else:
            rows[base] = (value, "1/s" if base.endswith("_per_s") else "ratio", None)
    rows["cpu_s_per_op"] = (e2e["cpu_s_per_op"], "s", None)
    rows["failed_ratio"] = (failed / attempted if attempted else 1.0, "ratio", attempted)
    rows["peak_rss_mb"] = (e2e["peak_rss_mb"], "MB", None)
    return rows


def _layer_values(ctx) -> dict:
    """Every per-layer metric of ``LAYER_UNITS``."""
    from perfbench.layers import LAYER_UNITS

    values = dict.fromkeys(LAYER_UNITS, 0.0)
    values["session.get_spark_s"] = ctx.get_spark_s
    values.update(ctx.layer)
    values["trace.spans"] = len(ctx.tracer.spans)
    unknown = set(values) - set(LAYER_UNITS)
    if unknown:
        raise RuntimeError(f"per-layer values without a declared unit: {sorted(unknown)}")
    return values


def _write_record(args, record) -> None:
    out_dir = os.path.join(ROOT, "perfbench", "results", "runs")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True, default=str)


if __name__ == "__main__":
    sys.exit(main())
