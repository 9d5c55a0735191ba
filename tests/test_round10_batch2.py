"""Planted-case unit tests for the round-10 second batch: the TPC-H
completion plan shapes, the OLS/chi-square/winsorize statistics tier,
U-shaped attribution, Holt smoothing, the FK audit, normalization-aware
exact dedup, n-gram novelty, and the txnlog RESTORE/OPTIMIZE closure.

Value parity against DuckDB is covered by test_oracle_parity's
parametrization (every new query is oracle-backed); these tests pin
SEMANTICS on hand-built inputs where the right answer is computed by
arithmetic, not by another engine.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------- stats


def test_ols_recovers_a_perfect_line(spark):
    """y = 2x + 3 daily counts → slope 2, intercept 3, r² = 1."""
    from big_data_trend_analysis_spark.operators.aggregates import (
        ols_regression_group,
    )

    rows = []
    for d in range(10):
        # day 2024-01-01+d carries exactly 2d+3 events of type 'lin'
        for i in range(2 * d + 3):
            rows.append((d * 1000 + i, f"2024-01-{d + 1:02d} 12:00:00", "lin"))
    events = spark.createDataFrame(
        rows, "event_id long, ts_s string, event_type string"
    ).select("event_id", F.col("ts_s").cast("timestamp").alias("ts"), "event_type")
    out = ols_regression_group(events).collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_days == 10
    assert r.slope_per_day == 2.0
    assert r.intercept_at_anchor == 3.0
    assert r.r2 == 1.0


def test_ols_degenerate_single_day_is_null(spark):
    from big_data_trend_analysis_spark.operators.aggregates import (
        ols_regression_group,
    )

    events = spark.createDataFrame(
        [(1, "2024-01-05 00:00:00", "solo")],
        "event_id long, ts_s string, event_type string",
    ).select("event_id", F.col("ts_s").cast("timestamp").alias("ts"), "event_type")
    r = ols_regression_group(events).collect()[0]
    assert r.n_days == 1
    assert r.slope_per_day is None and r.intercept_at_anchor is None
    assert r.r2 is None


def test_chi_square_zero_under_exact_independence(spark):
    """A perfectly balanced 2×2 layout has chi² = 0 and V = 0."""
    from big_data_trend_analysis_spark.operators.aggregates import (
        chi_square_independence,
    )

    rows = []
    eid = 0
    # Mon 2024-01-01, Tue 2024-01-02: same type mix on both days
    for day in ("2024-01-01", "2024-01-02"):
        for etype, n in (("a", 10), ("b", 30)):
            for _ in range(n):
                rows.append((eid, f"{day} 09:00:00", etype))
                eid += 1
    events = spark.createDataFrame(
        rows, "event_id long, ts_s string, event_type string"
    ).select("event_id", F.col("ts_s").cast("timestamp").alias("ts"), "event_type")
    r = chi_square_independence(events).collect()[0]
    assert r.n == 80
    assert r.n_row_levels == 2 and r.n_col_levels == 2
    assert r.dof == 1
    assert r.chi2 == 0.0
    assert r.cramers_v == 0.0


def test_winsorize_picks_exact_order_statistics(spark):
    """n = 20 values 1..20 → k05 = 1st smallest, k95 = 19th smallest."""
    from big_data_trend_analysis_spark.operators.aggregates import (
        winsorize_features,
    )

    events = spark.createDataFrame(
        [(i, "g", float(i)) for i in range(1, 21)],
        "event_id long, event_type string, value double",
    )
    out = {r.event_id: r for r in winsorize_features(events).collect()}
    assert out[5].p05 == 1.0 and out[5].p95 == 19.0
    assert out[20].clipped == 19.0 and out[20].was_clipped is True
    assert out[1].clipped == 1.0 and out[1].was_clipped is False
    assert out[10].clipped == 10.0 and out[10].was_clipped is False


# ------------------------------------------------------- attribution


def _ev(rows):
    return [
        (i, f"2024-01-01 00:{m:02d}:00", u, t) for i, (m, u, t) in enumerate(rows)
    ]


def test_attribution_u_shape_credits(spark):
    """view, click, view, purchase → 0.4 / 0.2 / 0.4; a lone touch
    takes 1.0; touches after the final purchase are unattributed."""
    from big_data_trend_analysis_spark.operators.temporal import (
        attribution_position_based,
    )

    rows = _ev(
        [
            # user 1: three touches then a purchase (0.4/0.2/0.4)
            (1, 1, "view"),
            (2, 1, "click"),
            (3, 1, "view"),
            (4, 1, "purchase"),
            # user 1: one touch then a purchase (1.0), then a dangling
            # touch that must be dropped
            (5, 1, "click"),
            (6, 1, "purchase"),
            (7, 1, "view"),
            # user 2: two touches then a purchase (0.5 each)
            (1, 2, "view"),
            (2, 2, "click"),
            (3, 2, "purchase"),
        ]
    )
    events = spark.createDataFrame(
        rows, "event_id long, ts_s string, user_id long, event_type string"
    ).select(
        "event_id",
        F.col("ts_s").cast("timestamp").alias("ts"),
        "user_id",
        "event_type",
    )
    out = {r.event_type: r for r in attribution_position_based(events).collect()}
    # view: 0.4 (first) + 0.4 (last) + 0.5 (pair) = 1.3 over 3 journeys
    assert out["view"].total_credit == pytest.approx(1.3)
    assert out["view"].n_touches == 3  # the dangling 4th view dropped
    # click: 0.2 (middle) + 1.0 (solo) + 0.5 (pair) = 1.7
    assert out["click"].total_credit == pytest.approx(1.7)
    assert out["click"].n_conversions_touched == 3


# --------------------------------------------------------------- holt


def test_holt_tracks_a_linear_series_exactly(spark):
    """On y = 10, 12, 14, ... Holt's level equals y and the one-step
    forecast equals the NEXT y — the defining property of the linear
    method on a linear series."""
    from big_data_trend_analysis_spark.operators.temporal import (
        holt_linear_forecast,
    )

    rows = []
    eid = 0
    for d in range(5):
        for _ in range(10 + 2 * d):
            rows.append((eid, f"2024-01-{d + 1:02d} 01:00:00", "lin"))
            eid += 1
    events = spark.createDataFrame(
        rows, "event_id long, ts_s string, event_type string"
    ).select("event_id", F.col("ts_s").cast("timestamp").alias("ts"), "event_type")
    out = sorted(holt_linear_forecast(events).collect(), key=lambda r: r.day)
    assert [r.y for r in out] == [10.0, 12.0, 14.0, 16.0, 18.0]
    assert [r.level for r in out] == [10.0, 12.0, 14.0, 16.0, 18.0]
    assert all(r.trend == 2.0 for r in out)
    assert [r.one_step_ahead for r in out][:-1] == [r.y for r in out][1:]


def test_holt_single_day_series_emits_null_trend(spark):
    from big_data_trend_analysis_spark.operators.temporal import (
        holt_linear_forecast,
    )

    events = spark.createDataFrame(
        [(1, "2024-01-01 01:00:00", "solo")],
        "event_id long, ts_s string, event_type string",
    ).select("event_id", F.col("ts_s").cast("timestamp").alias("ts"), "event_type")
    r = holt_linear_forecast(events).collect()[0]
    assert r.level == 1.0 and r.trend is None and r.one_step_ahead is None


# ------------------------------------------------------------ fk audit


def test_referential_integrity_counts_orphans_and_unreferenced(spark):
    from big_data_trend_analysis_spark.operators.relational import (
        referential_integrity_check,
    )

    lineitem = spark.createDataFrame(
        [(1, 1, 1), (2, 1, 1), (99, 1, 1)],  # order 99 is dangling
        "l_orderkey long, l_partkey long, l_suppkey long",
    )
    orders = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 10)],  # order 3 unreferenced; cust 10 ok
        "o_orderkey long, o_custkey long",
    )
    customer = spark.createDataFrame([(10, 0)], "c_custkey long, c_nationkey int")
    part = spark.createDataFrame([(1,)], "p_partkey long")
    supplier = spark.createDataFrame([(1, 0)], "s_suppkey long, s_nationkey int")
    nation = spark.createDataFrame([(0,)], "n_nationkey int")
    out = {
        r.relation: r
        for r in referential_integrity_check(
            lineitem, orders, customer, part, supplier, nation
        ).collect()
    }
    lo = out["lineitem.l_orderkey->orders"]
    assert lo.child_rows == 3 and lo.child_keys == 3
    assert lo.orphan_keys == 1  # order 99
    assert lo.parent_keys == 3 and lo.unreferenced_parent_keys == 1
    assert out["orders.o_custkey->customer"].orphan_keys == 0


# ---------------------------------------------------- dedup/novelty


def test_dedup_exact_normalized_collapses_reformatted_copies(spark):
    from big_data_trend_analysis_spark.operators.dedup import (
        dedup_exact_normalized,
    )

    docs = spark.createDataFrame(
        [
            (1, "Hello, World!"),
            (2, "hello world"),
            (3, "HELLO   WORLD"),
            (4, "a different doc"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dedup_exact_normalized(docs).collect()}
    assert set(out) == {1, 4}
    assert out[1].n_copies == 3
    assert out[1].n_distinct_raw == 3  # three raw spellings collapsed
    assert out[4].n_copies == 1 and out[4].n_distinct_raw == 1


def test_ngram_novelty_bounds(spark):
    """Two identical docs share every trigram (novelty 0); a doc with
    a unique vocabulary scores 1."""
    from big_data_trend_analysis_spark.operators.textstats import (
        ngram_novelty_score,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c d e"),
            (2, "a b c d e"),
            (3, "x y z w v"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in ngram_novelty_score(docs).collect()}
    assert out[1].novelty == 0.0 and out[2].novelty == 0.0
    assert out[3].novelty == 1.0
    assert out[3].n_grams == 3 and out[3].n_unique == 3


# -------------------------------------------------------------- txnlog


def test_txnlog_restore_is_a_new_commit_with_old_content(spark, tmp_path):
    from big_data_trend_analysis_spark.sources.txnlog import TxnLog

    log = TxnLog(str(tmp_path / "t"))
    df1 = spark.range(10).selectExpr("id", "id * 2 AS v")
    df2 = spark.range(10, 20).selectExpr("id", "id * 2 AS v")
    log.write_commit(df1)
    log.write_commit(df2)
    v = log.restore(0)
    assert v == 2
    assert log.latest_version() == 2
    # latest content == v0 content; v1 still readable pinned
    assert log.read_snapshot(spark).count() == 10
    assert log.read_snapshot(spark, 1).count() == 20
    # no-op restore refused
    with pytest.raises(ValueError, match="no-op"):
        log.restore(2)


def test_txnlog_restore_reverts_schema_and_spec(spark, tmp_path):
    from big_data_trend_analysis_spark.sources.txnlog import TxnLog

    log = TxnLog(str(tmp_path / "t"))
    log.write_commit(spark.range(5).selectExpr("id"))
    log.write_commit(
        spark.range(5, 8).selectExpr("id", "id * 10 AS extra"),
    )
    log.restore(0)
    latest = log.manifest(log.latest_version())
    assert latest["schema"] == log.manifest(0)["schema"]
    assert log.read_snapshot(spark).columns == ["id"]


def test_txnlog_compact_respects_partition_groups(spark, tmp_path):
    from big_data_trend_analysis_spark.sources.txnlog import TxnLog

    log = TxnLog(str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(i, "even" if i % 2 == 0 else "odd") for i in range(100)],
        "id long, parity string",
    )
    log.write_commit(df.filter("id < 50"), partition_by=["parity"])
    log.write_commit(df.filter("id >= 50"), partition_by=["parity"])
    assert len(log.manifest(1)["files"]) == 4  # 2 commits × 2 values
    stats = log.compact(spark, target_files=1)
    assert stats["files_before"] == 4 and stats["files_after"] == 2
    assert stats["files_rewritten"] == 4
    # data identical, manifest-side pruning still works per value
    assert log.read_snapshot(spark).count() == 100
    pruned = log.read_snapshot(spark, partition_filter={"parity": "even"})
    assert pruned.filter("parity = 'even'").count() == 50
    # the pre-compaction version still reads its own 4-file list
    assert log.read_snapshot(spark, 1).count() == 100
    # idempotent: nothing left to rewrite
    assert log.compact(spark, target_files=1)["version"] == -1


def test_txnlog_compact_keeps_zone_maps(spark, tmp_path):
    """Compacted files carry footer min/max for the columns every
    member had stats for, so a range probe still prunes after an
    OPTIMIZE."""
    from big_data_trend_analysis_spark.sources.txnlog import TxnLog

    log = TxnLog(str(tmp_path / "t"))
    # two partition groups with disjoint id ranges
    df = spark.range(100).selectExpr("id", "IF(id < 50, 'low', 'high') AS band")
    for lo, hi in ((0, 25), (25, 50), (50, 75), (75, 100)):
        log.write_commit(
            df.filter(f"id >= {lo} AND id < {hi}"),
            partition_by=["band"],
            collect_stats=["id"],
        )
    assert len(log.snapshot_files(range_filter={"id": (10, 20)})) == 1
    stats = log.compact(spark, target_files=1)
    assert stats["files_before"] == 4 and stats["files_after"] == 2
    man = log.manifest(stats["version"])
    assert sorted(man["file_stats"][f]["id"] for f in man["files"]) == [
        [0, 49],
        [50, 99],
    ]
    kept = log.snapshot_files(range_filter={"id": (10, 20)})
    assert len(kept) == 1
    assert (
        log.read_snapshot(spark, range_filter={"id": (10, 20)})
        .filter("id BETWEEN 10 AND 20")
        .count()
        == 11
    )
    # a column only some members carried stats for gets none
    log.write_commit(df.filter("id < 10"), partition_by=["band"])
    log.write_commit(df.filter("id < 10"), partition_by=["band"])
    v = log.compact(spark, target_files=1)["version"]
    (low,) = log.manifest(v)["added"]  # only the 'low' group is rewritten
    assert low not in log.manifest(v)["file_stats"]


# --------------------------------------------------------- TPC-H plans


def test_tpch_q9_broadcasts_dimensions(spark):
    """The six-way tree must broadcast the dim sides, never SMJ them."""
    from big_data_trend_analysis_spark.plans.registry import QUERIES

    plan = (
        QUERIES["sql_tpch_q9"](spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution()
        .explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    )
    assert plan.count("BroadcastHashJoin") >= 3


def test_tpch_q20_decorrelates_the_quantity_subquery(spark):
    """The doubly-correlated SUM must become an aggregate-then-join,
    never a per-row rescan (no nested-loop artifacts in the plan)."""
    from big_data_trend_analysis_spark.plans.registry import QUERIES

    plan = (
        QUERIES["sql_tpch_q20"](spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution()
        .explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


# ------------------------------------------------- batch 3: txnlog+QN


def test_txnlog_range_filter_prunes_by_footer_stats(spark, tmp_path):
    from big_data_trend_analysis_spark.sources.txnlog import TxnLog

    log = TxnLog(str(tmp_path / "t"))
    for lo in (0, 100, 200, 300):
        log.write_commit(
            spark.range(lo, lo + 100).selectExpr("id", "id * 2 AS v"),
            collect_stats=["id"],
        )
    assert len(log.snapshot_files()) == 4
    # [min,max] intervals are disjoint per file: id <= 150 needs 2
    assert len(log.snapshot_files(range_filter={"id": (None, 150)})) == 2
    assert len(log.snapshot_files(range_filter={"id": (250, None)})) == 2
    assert len(log.snapshot_files(range_filter={"id": (150, 250)})) == 2
    # a column without recorded stats is conservatively kept
    assert len(log.snapshot_files(range_filter={"v": (0, 1)})) == 4
    # read honors the pruned list and row-level filtering still applies
    got = (
        log.read_snapshot(spark, range_filter={"id": (None, 150)})
        .filter("id <= 150")
        .count()
    )
    assert got == 151


def test_txnlog_stats_carry_forward_and_drop_on_remove(spark, tmp_path):
    from big_data_trend_analysis_spark.sources.txnlog import TxnLog

    log = TxnLog(str(tmp_path / "t"))
    log.write_commit(spark.range(0, 50).selectExpr("id"), collect_stats=["id"])
    first_files = log.manifest(0)["files"]
    log.write_commit(spark.range(50, 100).selectExpr("id"), collect_stats=["id"])
    # v1 carries v0's stats forward
    assert set(log.manifest(1)["file_stats"]) >= set(first_files)
    # removing a file drops its stats from the next manifest
    log.commit(add=[], remove=[first_files[0]])
    assert first_files[0] not in (log.manifest(2).get("file_stats") or {})


def test_txnlog_history_reports_the_commit_audit(spark, tmp_path):
    from big_data_trend_analysis_spark.sources.txnlog import TxnLog

    log = TxnLog(str(tmp_path / "t"))
    log.write_commit(spark.range(5).selectExpr("id"), n_files=2,
                     committed_at="2024-06-01T00:00:00")
    log.write_commit(spark.range(5, 8).selectExpr("id", "id AS extra"),
                     committed_at="2024-06-02T00:00:00")
    log.evolve_partition_spec(["extra"])
    rows = {r.version: r for r in log.history(spark).collect()}
    assert rows[0].n_files == 2 and rows[0].n_added == 2
    assert rows[0].schema_evolved is False
    assert rows[1].n_files == 3 and rows[1].schema_evolved is True
    assert rows[2].n_added == 0 and rows[2].partition_spec == "extra"
    assert rows[2].schema_evolved is False


def test_quantile_normalization_makes_groups_globally_distributed(spark):
    """Two groups with shifted scales both map onto the global order
    statistics; a group identical to the global shape keeps its rank
    order, and min/max map to global min/max."""
    from big_data_trend_analysis_spark.operators.aggregates import (
        quantile_normalization,
    )

    rows = [(i, "lo", float(i)) for i in range(10)] + [
        (100 + i, "hi", float(1000 + i)) for i in range(10)
    ]
    events = spark.createDataFrame(
        rows, "event_id long, event_type string, value double"
    )
    out = {r.event_id: r for r in quantile_normalization(events).collect()}
    # group rank r of n=10 -> global k = ceil(r*20/10) = 2r
    assert out[0].global_k == 2 and out[0].qn_value == 1.0
    assert out[9].global_k == 20 and out[9].qn_value == 1009.0
    # the 'hi' group gets the SAME normalized values rank for rank
    assert out[100].qn_value == 1.0 and out[109].qn_value == 1009.0


def test_txnlog_restore_clears_spec_of_unpartitioned_target(spark, tmp_path):
    """Review finding: restoring an UNPARTITIONED target onto a
    partitioned current must CLEAR the spec (commit's None means
    'inherit', so restore passes the explicit CLEAR_METADATA marker)."""
    from big_data_trend_analysis_spark.sources.txnlog import TxnLog

    log = TxnLog(str(tmp_path / "t"))
    log.write_commit(spark.range(5).selectExpr("id", "id % 2 AS k"))
    log.write_commit(
        spark.range(5, 9).selectExpr("id", "id % 2 AS k"),
        partition_by=["k"],
    )
    assert log.partition_spec() == ["k"]
    log.restore(0)
    assert log.partition_spec() is None  # faithful revert, not inherit
    assert log.read_snapshot(spark).count() == 5
