"""Closed-loop transaction-log workload: one client calls ``TxnLog``
directly, in whole cycles. The number of cycles follows from the run's
seconds and the nominal cycle time (``common.rounds``), so every run at
the same ``--seconds`` does the same operations.

One cycle is ``COMMITS_PER_CYCLE`` rounds of

- commit: ``write_commit`` of one seeded event batch, then
  ``write_bloom_sidecar`` so the new version can prune point lookups;
- read: an aggregate over ``read_snapshot`` of the latest version;
- ``LOOKUPS_PER_COMMIT`` point lookups: ``bloom_prune_files`` for one
  user, then a read of the kept files only;

followed by ``compact`` to one file (plus a sidecar for the compacted
version), ``vacuum`` and one time-travel read of a version pinned by
timestamp. Every read is checked against DuckDB over the batches
committed up to the version it read, after the timed cycles. One whole
cycle on a small table runs during set-up, so first-run code generation
and JIT compilation of every operation stay out of the timed window.

Where the mix comes from:

- ``BATCH_ROWS``: one micro-batch of a 1 s trigger at 2,000 events/s,
  the paced rate of the stream workload, i.e. what a streaming append
  commits per trigger.
- ``COMMITS_PER_CYCLE`` and compaction to one file: the engine's own
  compaction gate (query ``txnlog_compact_files`` in ``plans.registry``)
  compacts two commits with ``compact(target_files=1)``. Every cycle
  holds at least three files (the last compacted file, or none, plus two
  new ones), so every compaction rewrites.
- ``RETAIN_VERSIONS``: the compacted version and the one before it, so
  a time-travel read can land on either side of a compaction. From the
  second cycle on, vacuum deletes the previous cycle's small files.
- ``USERS``: a point-lookup key must be selective at file granularity
  for a bloom filter to prune, as a user id of a large service is: with
  100,000 users a user sits in a given 2,000-row file with about 2 %
  probability.
- ``LOOKUPS_PER_COMMIT`` and one snapshot read per commit: chosen, not
  measured, so that reads outnumber writes as on a serving table.

``commit_s_p50`` is the median commit latency (one operation class);
``ops_per_s`` and ``cpu_s_per_op`` count every operation.
"""

from __future__ import annotations

import datetime as dt
import os
import time

import numpy as np
import pyarrow as pa

from perfbench import gen
from perfbench.common import Ctx, rounds, tree_cpu_s
from perfbench.stats import mix_mean_of_medians

BATCH_ROWS = 2_000
USERS = 100_000
COMMITS_PER_CYCLE = 2
LOOKUPS_PER_COMMIT = 2
RETAIN_VERSIONS = 2
#: Nominal seconds of one warm cycle on 4 cores.
CYCLE_S = 6.0

#: Latency class of each operation kind.
OP_CLASS = {
    "commit": "commit", "read": "read", "time_travel": "read", "lookup": "lookup",
    "compact": "maintain", "sidecar": "maintain", "vacuum": "maintain",
}

AGG_SQL = "SELECT kind, count(*) AS n, sum(amount) AS total FROM t GROUP BY kind"


def _stamp(version: int) -> str:
    base = dt.datetime(2024, 1, 1)
    return (base + dt.timedelta(seconds=version)).strftime("%Y-%m-%dT%H:%M:%S")


class DiskMeter:
    """Bytes written under a directory: each file counted once, when it
    first appears, at the size it had then."""

    def __init__(self, root: str):
        self.root = root
        self.seen: set[str] = set()
        self.written = 0

    def scan(self) -> None:
        for dirpath, _, names in os.walk(self.root):
            for name in names:
                path = os.path.join(dirpath, name)
                if path not in self.seen:
                    self.seen.add(path)
                    self.written += os.path.getsize(path)

    def on_disk(self) -> int:
        total = 0
        for dirpath, _, names in os.walk(self.root):
            total += sum(os.path.getsize(os.path.join(dirpath, n)) for n in names)
        return total


def run(ctx: Ctx) -> dict:
    import duckdb
    from pyspark.sql import functions as F

    from big_data_trend_analysis_spark.sources import bloom
    from big_data_trend_analysis_spark.sources.txnlog import TxnLog

    tracer = ctx.tracer
    rng = np.random.default_rng(ctx.args.seed)

    # Batches are drawn on demand from the seeded stream; drawing the
    # first cycle here keeps generation out of the first set-up.
    with ctx.generating():
        pending = [gen.txn_batch(rng, i * BATCH_ROWS, BATCH_ROWS, USERS) for i in range(COMMITS_PER_CYCLE)]
    ctx.inputs = {
        "batch_rows": BATCH_ROWS, "users": USERS,
        "commits_per_cycle": COMMITS_PER_CYCLE, "lookups_per_commit": LOOKUPS_PER_COMMIT,
        "cycles": rounds(ctx.args.seconds, CYCLE_S), "retain_versions": RETAIN_VERSIONS,
    }

    def agg(df):
        return df.groupBy("kind").agg(F.count(F.lit(1)).alias("n"), F.sum("amount").alias("total"))

    small = [gen.txn_batch(np.random.default_rng(i), i * 100, 100, USERS).to_pandas()
             for i in range(COMMITS_PER_CYCLE)]

    def session_warm(spark) -> None:
        agg(spark.createDataFrame(small[0])).collect()

    def workload_warm(spark) -> None:
        """One untimed cycle of every operation on a small table."""
        log = TxnLog(os.path.join(ctx.work, "warm"))
        for batch in small:
            v = log.write_commit(spark.createDataFrame(batch), n_files=1,
                                 committed_at=_stamp(log.latest_version() + 1))
            bloom.write_bloom_sidecar(spark, log, ["user_id"], version=v)
            agg(log.read_snapshot(spark)).collect()
            user = int(batch["user_id"].iloc[0])
            files = bloom.bloom_prune_files(log, {"user_id": user})
            spark.read.parquet(*files).where(F.col("user_id") == user).select("id", "amount").collect()
        stats = log.compact(spark, target_files=1, committed_at=_stamp(log.latest_version() + 1))
        bloom.write_bloom_sidecar(spark, log, ["user_id"], version=stats["version"])
        log.vacuum(retain_versions=RETAIN_VERSIONS)
        agg(log.read_snapshot(spark, version=log.version_at(_stamp(1)))).collect()

    ctx.setup(session_warm, workload_warm)
    spark = ctx.spark

    oracle = ctx.oracle_utils()
    assert_results_match, run_spark = oracle.assert_results_match, oracle.run_spark

    root = os.path.join(ctx.work, "txn")
    log = TxnLog(root)
    meter = DiskMeter(root)
    con = duckdb.connect()
    committed: list[pa.Table] = []  # every batch ever committed, in order
    rows_at: dict[int, int] = {}  # version -> number of batches it holds
    user_bytes = 0

    write_commit = tracer.wrap("txnlog.write_commit", log.write_commit)
    read_snapshot = tracer.wrap("txnlog.read_snapshot", log.read_snapshot)
    compact = tracer.wrap("txnlog.compact", log.compact)
    vacuum = tracer.wrap("txnlog.vacuum", log.vacuum)
    version_at = tracer.wrap("txnlog.version_at", log.version_at)
    write_sidecar = tracer.wrap("bloom.write_sidecar", bloom.write_bloom_sidecar)
    prune = tracer.wrap("bloom.prune", bloom.bloom_prune_files)

    obs = None
    groups: list[str] = []
    layer: dict[str, float] = {}
    if tracer.enabled:
        from perfbench import sparkobs

        obs = sparkobs.SparkObserver(spark)

    def expected(n_batches: int, sql: str):
        con.register("t", pa.concat_tables(committed[:n_batches]))
        cur = con.execute(sql)
        return [d[0] for d in cur.description], cur.fetchall()

    lat: dict[str, list[float]] = {"commit": [], "read": [], "lookup": [], "maintain": []}
    cpu: dict[str, list[float]] = {kind: [] for kind in OP_CLASS}  # CPU seconds per operation
    kept = considered = 0
    seq = [0]

    def op(kind: str, fn, *args):
        """Time one operation; returns its result or None on failure."""
        ctx.attempt()
        seq[0] += 1
        if obs is not None:
            group = f"{seq[0]}.{kind}"
            obs.set_group(group)
            groups.append(group)
            w0 = sparkobs.wall_ms()
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            with tracer.span(f"op.{kind}"):
                out = fn(*args)
        except Exception as exc:  # noqa: BLE001 - counted, reported
            ctx.fail(f"{kind}#{seq[0]}: {type(exc).__name__}: {exc}"[:500])
            return None
        lat[OP_CLASS[kind]].append(time.perf_counter() - t0)
        cpu[kind].append(tree_cpu_s() - c0)
        if obs is not None:
            for key, value in obs.job_counters(obs.new_jobs(), w0, sparkobs.wall_ms()).items():
                layer[key] = layer.get(key, 0.0) + value
        return out

    to_check: list[tuple[str, object, int, str]] = []  # (what, rows, batches, oracle SQL)

    def check(what, got, n_batches, sql) -> None:
        """Queue one read for the check after the timed cycles."""
        to_check.append((what, got, n_batches, sql))

    def do_commit(batch):
        v = write_commit(spark.createDataFrame(batch.to_pandas()), n_files=1,
                         committed_at=_stamp(log.latest_version() + 1))
        write_sidecar(spark, log, ["user_id"], version=v)
        return v

    def do_lookup(user):
        files = prune(log, {"user_id": user})
        rows = spark.read.parquet(*files).where(F.col("user_id") == user).select("id", "amount")
        return len(files), run_spark(rows)

    cycles = rounds(ctx.args.seconds, CYCLE_S)
    t_start = time.perf_counter()
    for cycle in range(cycles):
        batches = pending or [
            gen.txn_batch(rng, len(committed) * BATCH_ROWS + i * BATCH_ROWS, BATCH_ROWS, USERS)
            for i in range(COMMITS_PER_CYCLE)
        ]
        pending = []
        for batch in batches:
            v = op("commit", do_commit, batch)
            if v is None:
                continue
            committed.append(batch)
            user_bytes += batch.nbytes
            rows_at[v] = len(committed)
            meter.scan()

            got = op("read", lambda: run_spark(agg(read_snapshot(spark))))
            if got is not None:
                check(f"read@v{v}", got, len(committed), AGG_SQL)
            for _ in range(LOOKUPS_PER_COMMIT):
                src = committed[int(rng.integers(0, len(committed)))]
                user = int(src.column("user_id")[int(rng.integers(0, src.num_rows))].as_py())
                found = op("lookup", do_lookup, user)
                if found is None:
                    continue
                n_files, got = found
                kept += n_files
                considered += len(log.snapshot_files())
                check(f"lookup user {user}@v{v}", got, len(committed),
                      f"SELECT id, amount FROM t WHERE user_id = {user}")
        stats = op("compact", lambda: compact(spark, target_files=1, committed_at=_stamp(log.latest_version() + 1)))
        if stats is not None:
            if stats["version"] < 0:
                ctx.fail(f"compact in cycle {cycle} rewrote nothing")
            else:
                rows_at[stats["version"]] = len(committed)
                op("sidecar", lambda: write_sidecar(spark, log, ["user_id"], version=stats["version"]))
        op("vacuum", lambda: vacuum(retain_versions=RETAIN_VERSIONS))
        meter.scan()
        live = sorted(v for v in rows_at if v >= log.earliest_version())
        pinned = live[int(rng.integers(0, len(live)))]
        got = op("time_travel", lambda: run_spark(agg(read_snapshot(spark, version=version_at(_stamp(pinned))))))
        if got is not None:
            check(f"time travel to v{pinned}", got, rows_at[pinned], AGG_SQL)
    wall = time.perf_counter() - t_start

    for what, got, n_batches, sql in to_check:
        try:
            assert_results_match(got, expected(n_batches, sql), what)
        except AssertionError as exc:
            ctx.fail(str(exc)[:500])

    n_ops = sum(len(xs) for xs in lat.values())
    write_amp = meter.written / user_bytes if user_bytes else 0.0
    if obs is not None:
        sparkobs.attribute_jobs(obs.jobs_seen, groups)
        _txn_layers(ctx, layer, n_ops, wall, kept, considered, log, meter, write_amp)
    return {
        "latency_samples": lat["commit"],
        "ops_per_s": n_ops / wall,
        "cpu_s_per_op": mix_mean_of_medians(cpu),
        "cycles": cycles,
        "wall_s": wall,
        "timed_s": sum(x for xs in lat.values() for x in xs),
        "commits": len(lat["commit"]),
        "named": {
            "commit_s": lat["commit"],
            "read_s": lat["read"] + lat["lookup"],
            "ops_per_s": n_ops / wall,
            "write_amplification": write_amp,
        },
    }


def _txn_layers(ctx, layer, n_ops, wall, kept, considered, log, meter, write_amp) -> None:
    import json

    from perfbench.sparkobs import per_op
    from perfbench.stats import layer_totals

    spans = layer_totals(ctx.tracer.spans)

    def mean(name):
        row = spans.get(name)
        return row["total_s"] / row["calls"] if row else 0.0

    out = per_op(layer, n_ops, wall)
    latest = log.latest_version()
    manifest_path = log._manifest_file(latest)
    out.update(
        {
            "txnlog.write_commit_s": mean("txnlog.write_commit"),
            "txnlog.commit_retries": 0,
            "txnlog.read_snapshot_s": mean("txnlog.read_snapshot"),
            "bloom.write_sidecar_s": mean("bloom.write_sidecar"),
            "bloom.prune_s": mean("bloom.prune"),
            "bloom.files_kept_ratio": kept / considered if considered else 0.0,
            "txnlog.compact_s": mean("txnlog.compact"),
            "txnlog.vacuum_s": mean("txnlog.vacuum"),
            "txnlog.live_files": len(json.load(open(manifest_path))["files"]),
            "txnlog.manifest_bytes": os.path.getsize(manifest_path),
            "txnlog.bytes_on_disk": meter.on_disk(),
            "txnlog.write_amplification": write_amp,
        }
    )
    ctx.layer.update(out)
