"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed gives
byte-identical inputs, and the engine only ever sees the files written
here.

- ``write_tables``: the ten catalog tables (``sources.tables.TABLES``)
  in the fixture schema documented in FIXTURES.md, at the row counts of
  the sf0.01 fixture (``SIZES``). Distributions follow the fixture:
  word-bag documents over one 30-word vocabulary with injected exact
  and near duplicates, unit-norm 64-d embeddings, exponential event
  gaps and values, and a TPC-H-style star schema.
- ``tweet_lines``: JSON-lines tweets in the reference's Kafka message
  shape (``text``, ``created_at``, ``sentiment``, ``entities``).
- ``txn_batch``: one append batch for the transaction-log workload.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Bump when the generated bytes change, so cached inputs are rebuilt.
GEN_VERSION = 1

#: Row counts per table (sf0.01 fixture shape).
SIZES = {
    "region": 5,
    "nation": 25,
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}

#: Smaller shape for warm-up queries (not measured).
WARM_SIZES = {k: max(5, v // 10) for k, v in SIZES.items()} | {
    "region": 5,
    "nation": 25,
}

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.42, 0.145, 0.145, 0.145, 0.145]
SENTIMENTS = ["Positive", "Negative", "Neutral"]
HASHTAGS = ["#spark", "#kafka", "#flink", "#duckdb", "#trend", "#data"]

_EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")
_DAY0_1995 = np.datetime64("1995-01-01", "D")


def _ts_us(values) -> pa.Array:
    return pa.array(np.asarray(values, dtype="datetime64[us]"), pa.timestamp("us"))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    words = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n):
        kind = rng.random()
        if i > 10 and kind < 0.01:
            texts.append(texts[rng.integers(0, i)])  # exact duplicate
            continue
        if i > 10 and kind < 0.06:
            base = texts[rng.integers(0, i)].split(" ")
            base.insert(int(rng.integers(0, len(base) + 1)), "dup")
            texts.append(" ".join(base))  # near duplicate
            continue
        length = int(rng.integers(8, 100))
        texts.append(" ".join(words[rng.integers(0, len(words), length)]))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_P).tolist(), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    vecs = rng.standard_normal((n, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
        }
    )


def _events(rng: np.random.Generator, n: int, users: int) -> pa.Table:
    span_s = 30 * 86_400
    gaps = rng.exponential(span_s / n, n)
    offs_us = (np.cumsum(gaps) * 1e6).astype(np.int64)
    offs_us = np.minimum(offs_us, span_s * 1_000_000 - 1)
    value = np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": _ts_us(_EPOCH_2024 + offs_us.astype("timedelta64[us]")),
            "user_id": pa.array(rng.integers(0, users, n).astype(np.int64)),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n).tolist(), pa.string()),
            "value": pa.array(value),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()
            ),
        }
    )


def _days(rng: np.random.Generator, n: int, lo: int, hi: int) -> pa.Array:
    days = _DAY0_1995 + rng.integers(lo, hi, n).astype("timedelta64[D]")
    return _ts_us(days.astype("datetime64[us]"))


def _star(rng: np.random.Generator, sizes: dict[str, int]) -> dict[str, pa.Table]:
    nc, ns, np_, no, nl = (
        sizes[t] for t in ("customer", "supplier", "part", "orders", "lineitem")
    )
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)  # noqa: E731
    out = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                "r_name": pa.array(REGIONS),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
                "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
                "c_acctbal": pa.array(money(-999.99, 9999.99, nc)),
                "c_mktsegment": pa.array(rng.choice(SEGMENTS, nc).tolist()),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
                "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
                "s_acctbal": pa.array(money(-999.99, 9999.99, ns)),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(np_, dtype=np.int64)),
                "p_name": pa.array(
                    [
                        f"{ADJECTIVES[a]} {NOUNS[b]}"
                        for a, b in rng.integers(0, 8, (np_, 2))
                    ]
                ),
                "p_brand": pa.array(
                    [f"Brand#{b}" for b in rng.integers(1, 26, np_)]
                ),
                "p_type": pa.array(rng.choice(PART_TYPES, np_).tolist()),
                "p_size": pa.array(rng.integers(1, 51, np_).astype(np.int32)),
                "p_retailprice": pa.array(
                    np.round(900.0 + (np.arange(np_) % 1000) / 10.0, 2)
                ),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
                "o_custkey": pa.array(rng.integers(0, nc, no).astype(np.int64)),
                "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], no).tolist()),
                "o_totalprice": pa.array(money(1000.0, 500000.0, no)),
                "o_orderdate": _days(rng, no, 0, 2404),
                "o_orderpriority": pa.array(rng.choice(PRIORITIES, no).tolist()),
            }
        ),
    }
    qty = rng.integers(1, 51, nl).astype(np.float64)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl).astype(np.int64)),
            "l_partkey": pa.array(rng.integers(0, np_, nl).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, ns, nl).astype(np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(
                np.round(qty * rng.uniform(900.0, 2100.0, nl), 2)
            ),
            "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl).tolist()),
            "l_linestatus": pa.array(rng.choice(["F", "O"], nl).tolist()),
            "l_shipdate": _days(rng, nl, 1, 2499),
        }
    )
    return out


def write_tables(out_dir: str, seed: int, sizes: dict[str, int] = SIZES) -> dict:
    """Write all catalog tables for ``seed`` into ``out_dir``.

    Returns ``{table: {"rows", "bytes"}}``. Each table draws from its
    own child stream of the seed, so changing one table's generator
    leaves the others' bytes unchanged.
    """
    os.makedirs(out_dir, exist_ok=True)
    streams = np.random.SeedSequence(seed).spawn(4)
    rngs = [np.random.default_rng(s) for s in streams]
    tables = _star(rngs[0], sizes)
    tables["events"] = _events(rngs[1], sizes["events"], users=150)
    tables["documents"] = _documents(rngs[2], sizes["documents"])
    tables["embeddings"] = _embeddings(rngs[3], sizes["embeddings"])
    info = {}
    for name, table in tables.items():
        assert table.num_rows == sizes[name], (name, table.num_rows)
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        info[name] = {"rows": table.num_rows, "bytes": os.path.getsize(path)}
    return info


def cached_tables(cache_root: str, seed: int, sizes: dict[str, int] = SIZES) -> str:
    """Generate the tables for ``seed`` once into a cache directory and
    return it. A ``_SUCCESS`` marker makes half-written sets invisible."""
    tag = "warm" if sizes is WARM_SIZES else "full"
    out = os.path.join(cache_root, f"v{GEN_VERSION}-{tag}-seed{seed}")
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        tmp = f"{out}.tmp{os.getpid()}"
        info = write_tables(tmp, seed, sizes)
        with open(os.path.join(tmp, "_SUCCESS"), "w") as f:
            json.dump(info, f, sort_keys=True)
        if os.path.exists(out):
            import shutil

            shutil.rmtree(out)
        os.replace(tmp, out)
    return out


def tweet_lines(
    rng: np.random.Generator, n: int, created_at: dt.datetime
) -> tuple[list[str], list[str]]:
    """``n`` tweets stamped ``created_at`` (UTC, microsecond precision).

    Returns ``(json_lines, texts)``."""
    stamp = created_at.strftime("%Y-%m-%dT%H:%M:%S.%fZ")
    words = np.array(VOCAB + HASHTAGS)
    lines, texts = [], []
    lengths = rng.integers(4, 16, n)
    sentiments = rng.choice(SENTIMENTS, n)
    for i in range(n):
        toks = words[rng.integers(0, len(words), lengths[i])].tolist()
        text = " ".join(toks)
        ents = sorted({t for t in toks if t.startswith("#")})
        texts.append(text)
        lines.append(
            json.dumps(
                {
                    "text": text,
                    "created_at": stamp,
                    "sentiment": str(sentiments[i]),
                    "entities": ents,
                }
            )
        )
    return lines, texts


def txn_batch(rng: np.random.Generator, first_id: int, n: int, users: int) -> pa.Table:
    """One append batch: ``id`` is globally unique, ``user_id`` is the
    point-lookup key (spread thinly over files, so blooms can prune)."""
    return pa.table(
        {
            "id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
            "user_id": pa.array(rng.integers(0, users, n).astype(np.int64)),
            "kind": pa.array(rng.choice(EVENT_TYPES, n).tolist(), pa.string()),
            "amount": pa.array(np.round(rng.exponential(50.0, n), 2)),
        }
    )
