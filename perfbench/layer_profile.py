#!/usr/bin/env python3
"""Per-layer profile of every workload, untraced and traced.

    python3 perfbench/layer_profile.py [--seed 42] [--seconds 10] [--pairs 3] [--out perfbench/results/profile_head.json]

For each workload it runs ``run.py`` in ``--pairs`` pairs, one run
with ``--trace 0`` and one with ``--trace 1``, alternating which runs
first, and writes one machine-readable file with the provenance of
every run, the end-to-end metrics of the median untraced run, the
per-layer metrics and the self time of every span name of the median
traced run, and the tracing overhead: the median over the pairs of
(traced - untraced) / untraced time of the timed window, with the
quartile spread of those ratios. Because run-to-run noise of a shared
host can exceed the overhead, the file also holds the same ratio of
``cpu_s_per_op``, which excludes the time the hypervisor gives other
guests, and the span bookkeeping cost measured directly: spans inside
the timed window times the cost of one span, timed here.

The self times of the spans inside the timed window add up to the
traced window. ``accounted`` holds when that sum is within
``TOLERANCE`` of the median untraced window. The script exits with
code 1 unless, for every workload, the results are correct, the self
times are accounted and the overhead is within ``TOLERANCE``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import stats  # noqa: E402
from perfbench.tracing import Tracer  # noqa: E402
from perfbench.run import WORKLOADS, load_spec  # noqa: E402

#: Largest share of the untraced timed window by which the traced
#: window, and the self times that make it up, may differ from it.
TOLERANCE = 0.10

#: Span names that open the timed window of each workload.
TIMED_ROOTS = {
    "trend_queries": ("op",),
    "llm_curation": ("op",),
    "tweet_stream": ("backlog", "paced"),
    "txnlog_rw": ("op.commit", "op.read", "op.lookup", "op.compact",
                  "op.sidecar", "op.vacuum", "op.time_travel"),
}


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if proc.returncode != 0:
        raise SystemExit(f"{' '.join(cmd)} failed:\n{proc.stderr[-3000:]}")
    spec = load_spec()
    wanted = [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]
    stats.read_result(proc.stdout, wanted)
    path = os.path.join(ROOT, "perfbench", "results", "runs",
                        f"{workload}-seed{seed}-trace{trace}.json")
    with open(path) as f:
        return json.load(f)


def _timed_spans(spans: list[dict], roots: tuple[str, ...]):
    """Every span in the trees under the timed roots."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    todo = [s for s in spans if s["parent"] is None and s["name"] in roots]
    while todo:
        s = todo.pop()
        yield s
        todo.extend(children.get(s["id"], []))


def blocking_self_times(spans: list[dict], roots: tuple[str, ...]) -> dict[str, float]:
    """Self time per span name over the trees under the timed roots."""
    own = stats.self_times(spans)
    out: dict[str, float] = {}
    for s in _timed_spans(spans, roots):
        out[s["name"]] = out.get(s["name"], 0.0) + own[s["id"]]
    return out


def timed_span_counts(spans: list[dict], roots: tuple[str, ...]) -> dict[str, int]:
    """Number of spans per name over the trees under the timed roots."""
    out: dict[str, int] = {}
    for s in _timed_spans(spans, roots):
        out[s["name"]] = out.get(s["name"], 0) + 1
    return out


def _median_run(runs: list[dict]) -> dict:
    """The run whose timed window is the median (lower median for an
    even count)."""
    order = sorted(runs, key=lambda r: r["detail"]["timed_s"])
    return order[(len(order) - 1) // 2]


def span_cost_s(n: int = 50_000) -> float:
    """Seconds one traced span costs: entering, timing and recording it."""
    tracer = Tracer(True, "cost")
    t0 = time.perf_counter()
    for _ in range(n):
        with tracer.span("x"):
            pass
    return (time.perf_counter() - t0) / n


def tracing_summary(untraced: list[float], traced: list[float], self_sum: float) -> dict:
    """Tracing overhead from pairs of timed windows (one untraced, one
    traced per pair), and whether ``self_sum``, the self times along
    the timed window of a traced run, accounts for the median untraced
    window within ``TOLERANCE``."""
    ratios = [(t - u) / u for u, t in zip(untraced, traced)]
    untraced_s = statistics.median(untraced)
    overhead = statistics.median(ratios)
    spread = None
    if len(ratios) >= 2:
        q1, _, q3 = statistics.quantiles(ratios, n=4)
        spread = q3 - q1
    return {
        "pairs": [
            {"untraced_timed_s": u, "traced_timed_s": t, "overhead_ratio": r}
            for u, t, r in zip(untraced, traced, ratios)
        ],
        "untraced_timed_s": untraced_s,
        "traced_timed_s": statistics.median(traced),
        "overhead_ratio": overhead,
        "overhead_ratio_spread": spread,
        "tolerance": TOLERANCE,
        "overhead_within_tolerance": abs(overhead) <= TOLERANCE,
        "overhead_non_negative": overhead >= 0.0,
        "blocking_self_sum_s": self_sum,
        "self_sum_minus_untraced_s": self_sum - untraced_s,
        "accounted": abs(self_sum - untraced_s) <= TOLERANCE * untraced_s,
    }


def profile(workload: str, seed: int, seconds: int, pairs: int) -> dict:
    plain_runs, traced_runs = [], []
    for i in range(pairs):
        for trace in (0, 1) if i % 2 == 0 else (1, 0):
            (traced_runs if trace else plain_runs).append(run_once(workload, seed, seconds, trace))
    plain, traced = _median_run(plain_runs), _median_run(traced_runs)
    blocking = blocking_self_times(traced["spans"], TIMED_ROOTS[workload])
    timed_spans = sum(timed_span_counts(traced["spans"], TIMED_ROOTS[workload]).values())
    runs = plain_runs + traced_runs
    summary = tracing_summary(
        [r["detail"]["timed_s"] for r in plain_runs],
        [r["detail"]["timed_s"] for r in traced_runs],
        sum(blocking.values()),
    )
    cpu_ratios = [
        (t["end_to_end"]["cpu_s_per_op"] - u["end_to_end"]["cpu_s_per_op"])
        / u["end_to_end"]["cpu_s_per_op"]
        for u, t in zip(plain_runs, traced_runs)
    ]
    cost = span_cost_s()
    summary.update({
        "cpu_overhead_ratios": cpu_ratios,
        "cpu_overhead_ratio": statistics.median(cpu_ratios),
        "timed_spans": timed_spans,
        "span_cost_s": cost,
        "span_bookkeeping_s": timed_spans * cost,
        "span_bookkeeping_ratio": timed_spans * cost / summary["untraced_timed_s"],
    })
    return {
        "provenance": {"untraced": [r["provenance"] for r in plain_runs],
                       "traced": [r["provenance"] for r in traced_runs]},
        "correct": all(r["result"]["correct"] for r in runs),
        "attempted": sum(r["result"]["attempted"] for r in runs),
        "failed": sum(r["result"]["failed"] for r in runs),
        "end_to_end": plain["end_to_end"],
        "named": plain["named"],
        "inputs": plain["inputs"],
        "per_layer": traced["per_layer"],
        "span_layers": traced["layers"],
        "blocking_self_s": blocking,
        "tracing": summary,
    }


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seed", type=int, default=42)
    # 10 s gives the stream's paced phase several triggers.
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--pairs", type=int, default=3)
    p.add_argument("--workloads", nargs="*", default=list(WORKLOADS))
    p.add_argument("--out", default=os.path.join(ROOT, "perfbench", "results", "profile_head.json"))
    args = p.parse_args()
    out = {"seed": args.seed, "seconds": args.seconds, "pairs": args.pairs, "workloads": {}}
    for workload in args.workloads:
        print(f"profiling {workload} ...", file=sys.stderr, flush=True)
        out["workloads"][workload] = profile(workload, args.seed, args.seconds, args.pairs)
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    ok = True
    for name, row in out["workloads"].items():
        t = row["tracing"]
        ok = ok and row["correct"] and t["overhead_within_tolerance"] and t["accounted"]
        print(f"{name:14s} correct={row['correct']} timed {t['untraced_timed_s']:.2f}s "
              f"traced {t['traced_timed_s']:.2f}s overhead {t['overhead_ratio']:+.1%} "
              f"(pair spread {t['overhead_ratio_spread'] or 0:.1%}, CPU per op "
              f"{t['cpu_overhead_ratio']:+.1%}, span bookkeeping "
              f"{t['span_bookkeeping_ratio']:.3%}) accounted={t['accounted']}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
