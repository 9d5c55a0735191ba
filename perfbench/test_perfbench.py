"""The benchmark's own tests: ``python -m pytest perfbench -q``.

Everything except the job-group test runs without a JVM.
"""

from __future__ import annotations

import json
import math
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import stats  # noqa: E402
from perfbench.sparkobs import attribute_jobs, parse_size  # noqa: E402
from perfbench.tracing import Tracer  # noqa: E402

# -- percentiles -----------------------------------------------------------------


@pytest.mark.parametrize("q, need", [(0.75, 40), (0.9, 100), (0.99, 1000)])
def test_tail_needs_ten_samples_beyond_it(q, need):
    with pytest.raises(stats.NotEnoughSamples):
        stats.percentile(range(need - 1), q)
    value = stats.percentile(range(need), q)
    assert sum(1 for x in range(need) if x > value) >= stats.MIN_BEYOND


def test_tail_never_reported_from_few_samples():
    for n in range(1, 300):
        xs = list(range(n))
        for q in (0.6, 0.75, 0.9, 0.95, 0.99):
            try:
                value = stats.percentile(xs, q)
            except stats.NotEnoughSamples:
                continue
            assert sum(1 for x in xs if x > value) >= 10, (n, q)


def test_median_and_nearest_rank():
    assert stats.percentile([3.0], 0.5) == 3.0
    assert stats.percentile([5, 1, 4, 2, 3], 0.5) == 3
    assert stats.percentile(range(1, 101), 0.9) == 90
    with pytest.raises(stats.NotEnoughSamples):
        stats.percentile([], 0.5)
    with pytest.raises(ValueError):
        stats.percentile([1, 2], 1.5)


def test_summary_leaves_unsupported_tails_empty():
    from perfbench.common import summarize

    out = summarize([0.1] * 20, (0.5, 0.9))
    assert out == {"n": 20, "p50": 0.1, "p90": None}


# -- run length and CPU time ------------------------------------------------------


def test_mix_mean_ignores_a_burst_and_weights_kinds_by_count():
    mix = {"commit": [1.0, 1.0, 9.0], "lookup": [0.1] * 6}
    assert stats.mix_mean_of_medians(mix) == pytest.approx((3 * 1.0 + 6 * 0.1) / 9)
    with pytest.raises(stats.NotEnoughSamples):
        stats.mix_mean_of_medians({"commit": []})


def test_rounds_depend_only_on_seconds():
    from perfbench.common import rounds

    assert rounds(18, 6.0) == 3
    assert rounds(12, 6.0) == 2
    assert rounds(13, 6.0) == 3
    assert rounds(1, 6.0) == 1


def test_tree_cpu_counts_live_and_reaped_children():
    import subprocess

    from perfbench.common import tree_cpu_s

    burn = [sys.executable, "-c", "import time\nt = time.process_time()\n"
            "while time.process_time() - t < 0.3: pass\n"
            "import sys; sys.stdout.write('x'); sys.stdout.flush(); sys.stdin.read()"]
    before = tree_cpu_s()
    child = subprocess.Popen(burn, stdin=subprocess.PIPE, stdout=subprocess.PIPE)
    assert child.stdout.read(1) == b"x"
    live = tree_cpu_s() - before
    child.stdin.close()
    child.wait()
    reaped = tree_cpu_s() - before
    assert live >= 0.25
    assert reaped >= 0.25


# -- self time ------------------------------------------------------------------


def _span(i, start, end, parent=None, name="x"):
    return {"id": i, "name": name, "start": start, "end": end, "parent": parent, "run": "r"}


def test_self_time_subtracts_union_of_direct_children():
    spans = [
        _span(1, 0.0, 10.0, name="op"),
        _span(2, 1.0, 3.0, 1, "a"),
        _span(3, 2.0, 5.0, 1, "b"),  # overlaps a: counted once
        _span(4, 9.0, 12.0, 1, "c"),  # runs past its parent: clipped
        _span(5, 1.5, 2.5, 2, "d"),  # grandchild: only a's business
    ]
    own = stats.self_times(spans)
    assert own[1] == pytest.approx(10.0 - (4.0 + 1.0))
    assert own[2] == pytest.approx(2.0 - 1.0)
    assert own[3] == pytest.approx(3.0)
    assert own[5] == pytest.approx(1.0)


def test_self_times_sum_to_root_duration_for_nested_spans():
    spans = [
        _span(1, 0.0, 8.0),
        _span(2, 0.5, 4.0, 1),
        _span(3, 1.0, 2.0, 2),
        _span(4, 4.0, 7.5, 1),
    ]
    assert sum(stats.self_times(spans).values()) == pytest.approx(8.0)


def test_tracing_summary_fails_outside_the_tolerance():
    from perfbench.layer_profile import TOLERANCE, tracing_summary

    # A traced window shorter than the untraced one is host noise, not a
    # measured overhead: neither check may pass.
    fast = tracing_summary([27.3], [18.8], 18.8)
    assert not fast["overhead_within_tolerance"] and not fast["overhead_non_negative"]
    assert not fast["accounted"]
    # Medians over pairs: one noisy pair does not decide.
    ok = tracing_summary([10.0, 10.2, 9.9], [10.3, 9.0, 10.1], 10.3)
    assert ok["overhead_ratio"] == pytest.approx(0.2 / 9.9)
    assert ok["overhead_within_tolerance"] and ok["overhead_non_negative"] and ok["accounted"]
    too_slow = tracing_summary([10.0], [10.0 * (1 + 2 * TOLERANCE)], 12.0)
    assert not too_slow["overhead_within_tolerance"] and not too_slow["accounted"]


def test_layer_totals_group_by_name():
    spans = [_span(1, 0, 4, name="op"), _span(2, 1, 2, 1, "build"), _span(3, 2, 3, 1, "build")]
    totals = stats.layer_totals(spans)
    assert totals["build"] == {"calls": 2, "total_s": 2, "self_s": 2}
    assert totals["op"]["self_s"] == 2


def test_tracer_records_parents_and_is_free_when_off():
    tracer = Tracer(True, "run")
    with tracer.span("op"):
        with tracer.span("build"):
            pass
        tracer.wrap("exec", lambda: None)()
    by_name = {s["name"]: s for s in tracer.spans}
    assert by_name["build"]["parent"] == by_name["op"]["id"]
    assert by_name["exec"]["parent"] == by_name["op"]["id"]
    assert by_name["op"]["parent"] is None
    assert {s["run"] for s in tracer.spans} == {"run"}

    off = Tracer(False, "run")
    fn = object()
    assert off.wrap("x", fn) is fn
    with off.span("op"):
        pass
    assert off.spans == []


# -- job-group attribution ------------------------------------------------------


def test_attribution_rejects_unattributed_unknown_and_shared_jobs():
    groups = ["q1", "q2"]
    assert attribute_jobs([(0, "q1"), (1, "q2"), (2, "q2")], groups) == {"q1": [0], "q2": [1, 2]}
    with pytest.raises(ValueError, match="no job group"):
        attribute_jobs([(0, "q1"), (1, None)], groups)
    with pytest.raises(ValueError, match="unknown group"):
        attribute_jobs([(0, "q3")], groups)
    with pytest.raises(ValueError, match="listed twice"):
        attribute_jobs([(0, "q1"), (0, "q2")], groups)


def test_job_groups_attribute_every_job_of_real_queries(tmp_path):
    pyspark = pytest.importorskip("pyspark")
    del pyspark
    from pyspark.sql import SparkSession

    from perfbench.sparkobs import SparkObserver

    spark = (
        SparkSession.builder.master("local[2]").appName("perfbench-test")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.local.dir", str(tmp_path))
        .getOrCreate()
    )
    try:
        obs = SparkObserver(spark)
        groups = []
        for i in range(3):
            group = f"q{i}"
            obs.set_group(group)
            groups.append(group)
            df = spark.range(10_000 * (i + 1)).selectExpr("id % 7 AS k").groupBy("k").count()
            assert len(df.collect()) == 7
            obs.new_jobs()
        by_group = attribute_jobs(obs.jobs_seen, groups)
        assert all(by_group[g] for g in groups)
        ids = [j for g in groups for j in by_group[g]]
        assert len(ids) == len(set(ids))
    finally:
        spark.stop()


# -- result reader ----------------------------------------------------------------


def _result(**metrics):
    return {
        "correct": True, "attempted": 3, "failed": 0,
        "metrics": {k: {"value": v, "unit": "s"} for k, v in metrics.items()},
    }


def test_reader_accepts_a_valid_result():
    line = json.dumps(_result(latency_s_p50=0.5, setup_s=2.0))
    out = stats.read_result("noise\n" + line + "\n", ["latency_s_p50", "setup_s"])
    assert out["metrics"]["setup_s"]["value"] == 2.0


@pytest.mark.parametrize(
    "bad",
    [
        _result(latency_s_p50="0.5"),
        _result(latency_s_p50=None),
        _result(latency_s_p50=True),
        _result(latency_s_p50=math.nan),
        _result(latency_s_p50=math.inf),
        {k: v for k, v in _result(latency_s_p50=1.0).items() if k != "failed"},
        dict(_result(latency_s_p50=1.0), attempted=0),
        dict(_result(latency_s_p50=1.0), failed=4),
        dict(_result(latency_s_p50=1.0), attempted=2.5),
        dict(_result(latency_s_p50=1.0), correct="yes"),
        {"correct": True, "attempted": 1, "failed": 0,
         "metrics": {"latency_s_p50": {"value": 1.0}}},
    ],
)
def test_reader_fails_loudly_on_bad_values(bad):
    with pytest.raises(ValueError):
        stats.validate_result(json.loads(json.dumps(bad, allow_nan=True)))


def test_reader_fails_on_missing_metric_and_non_json():
    with pytest.raises(ValueError, match="missing"):
        stats.read_result(json.dumps(_result(setup_s=1.0)), ["setup_s", "latency_s_p50"])
    with pytest.raises(ValueError, match="unexpected"):
        stats.read_result(json.dumps(_result(setup_s=1.0, extra=2.0)), ["setup_s"])
    with pytest.raises(ValueError):
        stats.read_result("setup_s 1.0 s\n")
    with pytest.raises(ValueError):
        stats.read_result("")


def test_size_metric_parser():
    assert parse_size("1047.0 B") == 1047
    assert parse_size("2.0 KiB") == 2048
    assert parse_size("total (min, med, max (stageId: taskId))\n3.0 MiB (1.0 MiB, ...)") == 3 * 1024**2
    with pytest.raises(ValueError):
        parse_size("n/a")


# -- the declared benchmark --------------------------------------------------------


def test_benchmark_json_matches_the_runner():
    from perfbench import run
    from perfbench.layers import LAYER_UNITS

    spec = run.load_spec()
    assert spec["command"] == ["python3", "perfbench/run.py"]
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    assert set(e2e) == {"setup_s", "cpu_s_per_op"}
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in spec["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    for m in spec["per_layer"]:
        assert LAYER_UNITS[m["name"]] == m["unit"], m["name"]
