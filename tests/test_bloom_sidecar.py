"""Incremental bloom sidecars: every sidecar ``write_bloom_sidecar``
builds from an earlier one must equal a from-scratch rebuild of the
same version — same entries, geometry and bits, with a recorded
distinct count ``n`` never below the true one — while scanning only
the files the earlier sidecar cannot supply."""

from __future__ import annotations

import os
import shutil

from big_data_trend_analysis_spark.sources.bloom import (
    bloom_prune_files,
    write_bloom_sidecar,
)
from big_data_trend_analysis_spark.sources.txnlog import TxnLog

COLS = ["user", "tag"]


def _batch(spark, lo: int, hi: int, mod: int = 7, offset: int = 0):
    """Rows ``lo..hi-1``: ``mod`` users from ``offset`` on, 3 tags."""
    return spark.range(lo, hi).selectExpr(
        "id",
        f"id % {mod} + {offset} AS user",
        "concat('t', CAST(id % 3 AS STRING)) AS tag",
    )


def _rebuild(log: TxnLog, spark, scratch, **kw) -> dict:
    """The sidecar of the log's latest version built with no earlier
    sidecar, on a copy of the table without ``_blooms``."""
    shutil.rmtree(scratch, ignore_errors=True)
    shutil.copytree(log.root, scratch, ignore=shutil.ignore_patterns("_blooms"))
    return write_bloom_sidecar(spark, TxnLog(str(scratch)), COLS, **kw)


def _assert_equivalent(inc: dict, full: dict) -> None:
    assert inc.keys() == full.keys()
    for rel, per_col in full.items():
        assert inc[rel].keys() == per_col.keys(), rel
        for col, rec in per_col.items():
            got = inc[rel][col]
            assert (got["m"], got["k"], got["bits"]) == (
                rec["m"],
                rec["k"],
                rec["bits"],
            ), (rel, col)
            assert got["n"] >= rec["n"], (rel, col)


def test_incremental_sidecar_equals_full_rebuild(spark, tmp_path):
    log = TxnLog(str(tmp_path / "t"))
    scratch = tmp_path / "rebuild"

    def step(**kw):
        inc = write_bloom_sidecar(spark, log, COLS, **kw)
        _assert_equivalent(inc, _rebuild(log, spark, scratch, **kw))
        return inc

    log.write_commit(_batch(spark, 0, 20))
    step()
    log.write_commit(_batch(spark, 20, 40, mod=11, offset=100))
    step()
    # compaction: the compacted file's bloom is the OR of its members'
    v = log.compact(spark, target_files=1)["version"]
    assert len(log.manifest(v)["compacted_from"]) == 1
    inc = step()
    (rel,) = log.manifest(v)["files"]
    assert inc[rel]["user"]["n"] == 7 + 11  # the members' sum
    log.write_commit(_batch(spark, 40, 60, mod=5, offset=200))
    step()
    # a second compaction ORs an already OR-ed member
    log.compact(spark, target_files=1)
    step()
    log.vacuum(retain_versions=2)
    log.write_commit(_batch(spark, 60, 80, mod=13))
    step()
    # restore brings back files the newest sidecar does not hold
    log.restore(log.earliest_version())
    step()
    # a lower ceiling drops blooms whose n exceeds it, as a rebuild does
    inc = step(max_distinct=6)
    assert any("user" not in per_col for per_col in inc.values())
    # and then a compaction whose members' n sum exceeds it rescans
    log.write_commit(_batch(spark, 80, 85, mod=3))
    step(max_distinct=6)
    log.compact(spark, target_files=1)
    step(max_distinct=6)


def test_compaction_whose_union_exceeds_the_ceiling_gets_no_bloom(spark, tmp_path):
    """Members of 5 users each fit a ceiling of 6; their union of 10
    does not, so the compacted file must carry no user bloom, as a
    rebuild would — while its tag bloom (3 + 3 <= 6) is OR-ed."""
    log = TxnLog(str(tmp_path / "t"))
    log.write_commit(_batch(spark, 0, 10, mod=5))
    log.write_commit(_batch(spark, 0, 10, mod=5, offset=5))
    write_bloom_sidecar(spark, log, COLS, max_distinct=6)
    log.compact(spark, target_files=1)
    inc = write_bloom_sidecar(spark, log, COLS, max_distinct=6)
    (rel,) = inc
    assert "user" not in inc[rel] and inc[rel]["tag"]["n"] == 6
    _assert_equivalent(
        inc, _rebuild(log, spark, tmp_path / "rebuild", max_distinct=6)
    )


def test_partitioned_compaction_sidecar_equals_full_rebuild(spark, tmp_path):
    log = TxnLog(str(tmp_path / "t"))
    scratch = tmp_path / "rebuild"
    for lo, hi in ((0, 30), (30, 60), (60, 90)):
        log.write_commit(_batch(spark, lo, hi, offset=lo), partition_by=["tag"])
    write_bloom_sidecar(spark, log, COLS)
    # one output per group: every group takes the OR path
    v = log.compact(spark, target_files=1)["version"]
    assert len(log.manifest(v)["compacted_from"]) == 3
    _assert_equivalent(
        write_bloom_sidecar(spark, log, COLS), _rebuild(log, spark, scratch)
    )
    # two outputs per group: no compaction record, every output scanned
    for lo, hi in ((90, 120), (120, 150)):
        log.write_commit(_batch(spark, lo, hi), partition_by=["tag"])
    write_bloom_sidecar(spark, log, COLS)
    v = log.compact(spark, target_files=2)["version"]
    assert "compacted_from" not in log.manifest(v)
    _assert_equivalent(
        write_bloom_sidecar(spark, log, COLS), _rebuild(log, spark, scratch)
    )


def test_merge_rewrite_is_scanned_not_ored(spark, tmp_path):
    """A copy-on-write rewrite has a compaction's add/remove shape but
    new values: its file must be scanned, so a probe for a value only
    the new file holds keeps it."""
    log = TxnLog(str(tmp_path / "t"))
    log.write_commit(_batch(spark, 0, 10))
    write_bloom_sidecar(spark, log, COLS)
    (old,) = log.manifest(0)["files"]
    log.write_commit(_batch(spark, 0, 10, offset=1000), remove=[old])
    assert "compacted_from" not in log.manifest(1)
    write_bloom_sidecar(spark, log, COLS)
    assert bloom_prune_files(log, {"user": 1003}) == log.snapshot_files()
    assert bloom_prune_files(log, {"user": 3}) == []


def test_sidecars_below_earliest_version_are_deleted(spark, tmp_path):
    log = TxnLog(str(tmp_path / "t"))
    for lo in range(0, 40, 10):
        log.write_commit(_batch(spark, lo, lo + 10))
        write_bloom_sidecar(spark, log, COLS)
    log.vacuum(retain_versions=2)
    log.write_commit(_batch(spark, 40, 50))
    write_bloom_sidecar(spark, log, COLS)
    left = sorted(os.listdir(os.path.join(log.root, "_blooms")))
    assert log.earliest_version() == 2
    assert left == ["v2.json", "v3.json", "v4.json"]


def _jobs(spark, group: str, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_sidecar_scans_only_new_files(spark, tmp_path):
    """Job counts, which host load cannot move: a sidecar for a
    one-file append to a 3-file snapshot runs the jobs of that one
    file, and the sidecar after a compaction runs none."""
    log = TxnLog(str(tmp_path / "t"))
    log.write_commit(_batch(spark, 0, 20))
    one_file = _jobs(
        spark, "bloom-one-file", lambda: write_bloom_sidecar(spark, log, ["user"])
    )
    assert one_file > 0
    for lo in (20, 40):
        log.write_commit(_batch(spark, lo, lo + 20))
        write_bloom_sidecar(spark, log, ["user"])
    log.write_commit(_batch(spark, 60, 80))
    assert len(log.snapshot_files()) == 4
    appended = _jobs(
        spark, "bloom-append", lambda: write_bloom_sidecar(spark, log, ["user"])
    )
    assert appended == one_file
    log.compact(spark, target_files=1)
    compacted = _jobs(
        spark, "bloom-compact", lambda: write_bloom_sidecar(spark, log, ["user"])
    )
    assert compacted == 0
