"""Seeded synthetic inputs for the benchmark.

Writes the ten fixture tables (the TPC-H-like star schema, the ``events``
stream and the LLM-pipeline ``documents``/``embeddings`` tables) as one
Parquet file each, with the schemas, key domains and value distributions of
the repository's fixture tiers (FIXTURES.md). Row counts scale with ``sf``
like the fixtures: lineitem = 6M·sf, orders = 1.5M·sf, events = 1M·sf.

The same (seed, sf) always yields byte-identical values, so a run can be
repeated exactly; a different seed gives different rows of the same shape.
The directory is named ``sf<scale>`` because the package picks some plan
shapes from that name.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY", "HOUSEHOLD"]
ADJECTIVES = ["blue", "old", "red", "small", "new", "large", "hot", "cold"]
NOUNS = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
EMBED_DIM = 64
NEAR_DUP_FRAC = 0.05

_US_PER_DAY = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform amounts with two decimals (exact cents, as in the fixtures)."""
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _ts(micros: np.ndarray) -> pa.Array:
    return pa.array(micros, type=pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p)
    return pa.DictionaryArray.from_arrays(pa.array(idx, pa.int32()), pa.array(values)).cast(pa.string())


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lengths.sum()))
    texts, pos = [], 0
    for k in lengths:
        texts.append(" ".join(VOCAB[w] for w in words[pos:pos + k]))
        pos += k
    # Near-duplicates: a copy of another document with one extra token. Two
    # copies of the same base make an exact-duplicate pair, as in the fixtures.
    n_dup = int(n * NEAR_DUP_FRAC)
    slots = rng.choice(n, size=n_dup, replace=False)
    originals = np.setdiff1d(np.arange(n), slots)
    for slot, base in zip(slots, rng.choice(originals, size=n_dup)):
        texts[slot] = texts[base] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in ids]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    x = rng.standard_normal((n, EMBED_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(x.ravel()), EMBED_DIM)
        .cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables for (seed, sf), built in memory."""
    rng = np.random.default_rng([seed, round(sf * 1_000_000)])
    n_cust = max(1, round(150_000 * sf))
    n_supp = max(1, round(10_000 * sf))
    n_part = max(1, round(200_000 * sf))
    n_ord = max(1, round(1_500_000 * sf))
    n_line = max(1, round(6_000_000 * sf))
    n_evt = max(1, round(1_000_000 * sf))
    n_users = max(1, round(15_000 * sf))
    n_docs = max(500, round(50_000 * sf))
    n_vecs = max(500, round(20_000 * sf))

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    keys = np.arange(n_cust, dtype=np.int64)
    out["customer"] = pa.table({
        "c_custkey": keys,
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    keys = np.arange(n_supp, dtype=np.int64)
    out["supplier"] = pa.table({
        "s_suppkey": keys,
        "s_name": [f"Supplier#{k:09d}" for k in keys],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    keys = np.arange(n_part, dtype=np.int64)
    names = [f"{a} {b}" for a in ADJECTIVES for b in NOUNS]
    out["part"] = pa.table({
        "p_partkey": keys,
        "p_name": _pick(rng, names, n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": (9000 + keys % 1000) / 10.0,
    })
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": _pick(rng, ["O", "F", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2404, n_ord) * _US_PER_DAY),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["O", "F"], n_line),
        "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, 2499, n_line) * _US_PER_DAY),
    })
    # Strictly increasing timestamps over 30 days, as a stream table has.
    ts = np.sort(rng.choice(30 * _US_PER_DAY, size=n_evt, replace=False))
    out["events"] = pa.table({
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": _ts(_EPOCH_2024 + ts),
        "user_id": rng.integers(0, n_users, n_evt, dtype=np.int64),
        "event_type": _pick(rng, EVENT_TYPES, n_evt),
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]),
    })
    out["documents"] = _documents(rng, n_docs)
    out["embeddings"] = _embeddings(rng, n_vecs)
    return out


def write(root: str, seed: int, sf: float) -> str:
    """Write the tables for (seed, sf) under ``root/sf<sf>`` and return that
    directory. Existing files are overwritten."""
    sf_dir = os.path.join(root, f"sf{sf:g}")
    os.makedirs(sf_dir, exist_ok=True)
    for name, table in tables(seed, sf).items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
    return sf_dir



# Delta batches: a seeded multiplicative hash of l_orderkey, written as one
# SQL expression so Spark, DuckDB and NumPy assign every row the same batch
# (all operands are non-negative and stay far below 2**63).
_HASH_MUL, _HASH_MOD = 2654435761, 4294967311


def batch_expr(salt: int, n: int) -> str:
    return f"(l_orderkey * {_HASH_MUL} + {salt}) % {_HASH_MOD} % {n}"


def batch_of(orderkeys: np.ndarray, salt: int, n: int) -> np.ndarray:
    return (orderkeys.astype(np.int64) * _HASH_MUL + salt) % _HASH_MOD % n
