"""Bloom-filter file skipping for the txn-log lakehouse layer.

Zone maps (``TxnLog.snapshot_files(range_filter=...)`` — the Iceberg
column-stats mechanic, in-gate via ``txnlog_stats_skipping``) prune
RANGE predicates, but they are useless for EQUALITY probes on columns
whose values interleave across files: every file's [min, max] covers
the probe. That is exactly the dictionary/bloom gap Parquet fills with
column bloom filters and Delta fills with bloom-filter indexes — a
per-file bit set that answers "is value v DEFINITELY ABSENT from this
file?" so point lookups skip files the zone map cannot.

Kept deliberately OUTSIDE ``TxnLog`` as a sidecar index (the Delta
bloom-index shape: an auxiliary structure, not a manifest field) —
the sidecar lives at ``<root>/_blooms/v<version>.json`` and composes
with any snapshot the log exposes.

Determinism: positions come from md5 over ``"<seed>:<value>"`` (the
engine's portable-hash convention — no JVM/Python hash involved), so
the same corpus always builds the same bit set and a pruning decision
replays bit-identically anywhere.

Scale posture: files are immutable (every commit writes a fresh
``c<uuid>`` directory with mode ``error``), so a sidecar only builds
what the version's delta needs — the semi-naive step. A (file, column)
bloom already in the newest earlier sidecar is copied when its
geometry matches and its recorded distinct count ``n`` is within this
call's ceiling; a file ``TxnLog.compact`` rewrote from members that
all have such blooms gets the OR of their bits (the bloom of a union
is the OR of the blooms, so this equals a rebuild; ``n`` becomes the
members' sum, an upper bound); only the remaining files are scanned —
ONE column-pruned, single-task read per file under the manifest's
pinned schema, collapsing to its distinct probe-column values (one
Spark job per file and column). So a one-file append costs one file's
scan and a compaction costs none. Files whose distinct count exceeds
``max_distinct`` get NO bloom and are conservatively kept by every
probe (the superset guarantee — pruning may only shrink the scan,
never drop a row); they are rescanned by every sidecar, since there is
no entry to reuse. Probing is driver-side O(manifest), the same cost
class as reading the manifest.
"""

from __future__ import annotations

import hashlib
import json
import os
import re

from pyspark.sql import SparkSession
from pyspark.sql.types import StructType

from big_data_trend_analysis_spark.sources.txnlog import TxnLog

#: Default bloom geometry: 4096 bits / 3 hashes, 512 bytes per (file,
#: column). The false-positive rate at n distinct values is
#: (1 - e^(-kn/m))^k: below 1e-6 only up to about 14 values, 3.5e-4 at
#: 100, about 0.45 at 2,000 and about 1 long before the 100,000
#: ceiling — so on files of thousands of distinct values most absent
#: probes still keep the file (never a false negative, only less
#: pruning).
BLOOM_BITS = 4096
BLOOM_HASHES = 3

#: Per-file distinct-value ceiling: above this the bloom is skipped
#: (file conservatively kept) — the _BOUNDED_SAMPLE_MAX discipline,
#: so building the index never collects an unbounded relation.
BLOOM_MAX_DISTINCT = 100_000


def _positions(value, m_bits: int = BLOOM_BITS, k: int = BLOOM_HASHES):
    """The k deterministic bit positions of a value (md5-seeded)."""
    return [
        int(
            hashlib.md5(f"{seed}:{value}".encode()).hexdigest()[:8], 16
        )
        % m_bits
        for seed in range(k)
    ]


def _sidecar_path(root: str, version: int) -> str:
    return os.path.join(root, "_blooms", f"v{version}.json")


_SIDECAR_RE = re.compile(r"^v(\d+)\.json$")


def _sidecar_versions(root: str) -> list[int]:
    try:
        names = os.listdir(os.path.join(root, "_blooms"))
    except FileNotFoundError:
        return []
    return [int(m.group(1)) for n in names if (m := _SIDECAR_RE.match(n))]


def write_bloom_sidecar(
    spark: SparkSession,
    log: TxnLog,
    cols: list[str],
    version: int | None = None,
    m_bits: int = BLOOM_BITS,
    k: int = BLOOM_HASHES,
    max_distinct: int = BLOOM_MAX_DISTINCT,
) -> dict:
    """Build per-file blooms for ``cols`` over a snapshot's files.

    Returns the sidecar dict ``{rel: {col: {"m", "k", "n", "bits"(hex)}}}``
    (files over the distinct ceiling carry no entry for that column;
    ``n`` is the file's distinct count, or an upper bound for a
    compacted file's OR-ed bloom). Only files the newest earlier
    sidecar cannot supply are scanned (see the module's scale
    posture); the bits always equal a from-scratch rebuild. Sidecars
    of versions the log no longer retains are deleted.
    """
    if version is None:
        version = log.latest_version()
    manifest = log.manifest(version)
    earlier = [n for n in _sidecar_versions(log.root) if n <= version]
    prior: dict = {}
    members_of: dict[str, list[str]] = {}
    if earlier:
        prior_version = max(earlier)
        with open(_sidecar_path(log.root, prior_version)) as f:
            prior = json.load(f)
        # compaction records live only in the compacting version's
        # manifest, so look at every retained version since the prior
        first = max(prior_version + 1, log.earliest_version())
        for v in range(first, version + 1):
            members_of.update(log.manifest(v).get("compacted_from") or {})

    def reusable(rel: str, col: str) -> dict | None:
        rec = prior.get(rel, {}).get(col)
        if (
            rec is not None
            and rec["m"] == m_bits
            and rec["k"] == k
            and rec.get("n", max_distinct + 1) <= max_distinct
        ):
            return rec
        return None

    def merged(members: list[str], col: str) -> dict | None:
        recs = [reusable(rel, col) for rel in members]
        if not recs or None in recs:
            return None
        n = sum(rec["n"] for rec in recs)
        if n > max_distinct:
            return None
        acc = 0
        for rec in recs:
            acc |= int(rec["bits"], 16)
        width = len(recs[0]["bits"])
        return {"m": m_bits, "k": k, "n": n, "bits": f"{acc:0{width}x}"}

    reader = spark.read
    if schema_json := manifest.get("schema"):
        reader = reader.schema(StructType.fromJson(json.loads(schema_json)))
    sidecar: dict = {}
    for rel in manifest["files"]:
        df = None
        per_col: dict = {}
        for col in cols:
            rec = reusable(rel, col)
            if rec is None and rel in members_of:
                rec = merged(members_of[rel], col)
            if rec is None:
                if df is None:
                    # one partition: the distinct needs no Exchange, so
                    # a file's scan is a single job
                    df = reader.parquet(
                        os.path.join(log.root, rel)
                    ).coalesce(1)
                vals = [
                    r[0]
                    for r in df.select(col)
                    .distinct()
                    .limit(max_distinct + 1)
                    .collect()
                ]
                if len(vals) > max_distinct:
                    continue  # no bloom -> conservative keep
                bits = bytearray(m_bits // 8)
                for v in vals:
                    if v is None:
                        continue
                    for pos in _positions(v, m_bits, k):
                        bits[pos // 8] |= 1 << (pos % 8)
                rec = {"m": m_bits, "k": k, "n": len(vals), "bits": bits.hex()}
            per_col[col] = rec
        sidecar[rel] = per_col
    out = _sidecar_path(log.root, version)
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out + ".tmp", "w") as f:
        json.dump(sidecar, f, sort_keys=True)
    os.replace(out + ".tmp", out)
    earliest = log.earliest_version()
    for n in _sidecar_versions(log.root):
        if n < earliest:
            os.remove(_sidecar_path(log.root, n))
    return sidecar


def bloom_prune_files(
    log: TxnLog,
    equality_filter: dict,
    version: int | None = None,
) -> list[str]:
    """Absolute paths of snapshot files that MIGHT contain every
    probed value — a file is skipped only when it has a bloom for the
    column and ALL k bits of the probe are clear (definitely absent);
    files without a sidecar entry are conservatively kept."""
    if version is None:
        version = log.latest_version()
    path = _sidecar_path(log.root, version)
    sidecar = {}
    if os.path.exists(path):
        with open(path) as f:
            sidecar = json.load(f)
    kept = []
    for abs_path in log.snapshot_files(version):
        rel = os.path.relpath(abs_path, log.root)
        entry = sidecar.get(rel, {})
        keep = True
        for col, value in equality_filter.items():
            rec = entry.get(col)
            if rec is None:
                continue  # no bloom -> conservative keep
            bits = bytes.fromhex(rec["bits"])
            hit = all(
                bits[pos // 8] & (1 << (pos % 8))
                for pos in _positions(value, rec["m"], rec["k"])
            )
            if not hit:
                keep = False
                break
        if keep:
            kept.append(abs_path)
    return kept
