"""Seeded input generation for the benchmark.

``write_fixtures`` writes the ten tables the registered queries read
(``<dir>/<table>.parquet``) with the shapes and value distributions of the
engine's test fixtures: a TPC-H-like star schema whose row counts scale
with ``sf``, an ``events`` stream, a ``documents`` corpus with planted
near and exact duplicates, and unit-norm ``embeddings``.

``cdc_base`` and ``cdc_batches`` generate the change stream the ``cdc``
workload applies.

Everything is a pure function of the seed: the same seed gives
byte-identical inputs.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ORDER_STATUS = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.40, 0.15, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

EPOCH_1995 = np.datetime64("1995-01-01", "us")
EPOCH_2024 = np.datetime64("2024-01-01", "us")
US_PER_DAY = 86_400 * 1_000_000


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform prices with two decimals, as exact binary-rounded doubles."""
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _days(rng: np.random.Generator, lo: int, hi: int, n: int) -> np.ndarray:
    return EPOCH_1995 + rng.integers(lo, hi, n).astype("timedelta64[D]")


def fixture_tables(sf: float, seed: int) -> dict[str, dict[str, pa.Array]]:
    """Columns of every fixture table at scale factor ``sf``."""
    rng = np.random.default_rng([seed, int(round(sf * 1_000_000))])
    n_cust = max(int(150_000 * sf), 10)
    n_ord = max(int(1_500_000 * sf), 100)
    n_line = max(int(6_000_000 * sf), 400)
    n_part = max(int(200_000 * sf), 20)
    n_supp = max(int(10_000 * sf), 5)
    n_events = max(int(1_000_000 * sf), 100)
    n_docs = max(int(50_000 * sf), 500)
    n_vecs = max(int(20_000 * sf), 500)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    out: dict[str, dict[str, pa.Array]] = {}
    out["region"] = {
        "r_regionkey": pa.array(np.arange(5), i32),
        "r_name": pa.array(REGIONS, s),
    }
    out["nation"] = {
        "n_nationkey": pa.array(np.arange(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": pa.array(np.arange(25) % 5, i32),
    }
    out["customer"] = {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], s),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(_cents(rng, -999.99, 9999.99, n_cust), f64),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)], s),
    }
    out["supplier"] = {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], s),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(_cents(rng, -999.99, 9999.99, n_supp), f64),
    }
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    pk = np.arange(n_part)
    out["part"] = {
        "p_partkey": pa.array(pk, i64),
        "p_name": pa.array(names[rng.integers(0, len(names), n_part)], s),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], s),
        "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, n_part)], s),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900 + (pk % 1000) * 0.1, 1), f64),
    }
    out["orders"] = {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(np.array(ORDER_STATUS)[rng.integers(0, 3, n_ord)], s),
        "o_totalprice": pa.array(_cents(rng, 1000.0, 500_000.0, n_ord), f64),
        "o_orderdate": pa.array(_days(rng, 0, 2404, n_ord), ts),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)], s),
    }
    out["lineitem"] = {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(float), f64),
        "l_extendedprice": pa.array(_cents(rng, 900.0, 105_000.0, n_line), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0, f64),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)], s),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_line)], s),
        "l_shipdate": pa.array(_days(rng, 1, 2499, n_line), ts),
    }
    gaps = rng.exponential(30 * US_PER_DAY / n_events, n_events).astype(np.int64)
    out["events"] = {
        "event_id": pa.array(np.arange(n_events), i64),
        "ts": pa.array(EPOCH_2024 + np.cumsum(gaps).astype("timedelta64[us]"), ts),
        "user_id": pa.array(rng.integers(0, max(n_cust // 10, 1), n_events), i64),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)], s),
        "value": pa.array(np.round(rng.exponential(50.0, n_events), 2), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)], s),
    }
    out["documents"] = _documents(rng, n_docs)
    vecs = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = {
        "vec_id": pa.array(np.arange(n_vecs), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), i32),
    }
    return out


def _documents(rng: np.random.Generator, n: int) -> dict[str, pa.Array]:
    """Random-word documents; 5% are another document plus ' dup' (near
    duplicates) and one in 625 is an exact copy of another."""
    vocab = np.array(VOCAB)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))])
        for _ in range(n)
    ]
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    for i in rng.choice(n, n // 625, replace=False):
        texts[i] = texts[int(rng.integers(0, n))]
    return {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=LANG_P)], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def write_fixtures(out_dir: str, sf: float, seed: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, cols in fixture_tables(sf, seed).items():
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# cdc change stream
# ---------------------------------------------------------------------------

CDC_SCHEMA = pa.schema([
    ("o_orderkey", pa.int64()),
    ("o_custkey", pa.int64()),
    ("o_orderstatus", pa.string()),
    ("o_totalprice", pa.float64()),
    ("o_orderpriority", pa.string()),
])
LINE_SCHEMA = pa.schema([
    ("l_orderkey", pa.int64()),
    ("l_linenumber", pa.int32()),
    ("l_quantity", pa.float64()),
    ("l_extendedprice", pa.float64()),
])


@dataclass(frozen=True)
class Batch:
    """One change batch. ``orders`` holds distinct keys; those at or above
    ``first_new_key`` are new, the rest update existing keys. ``lines``
    are the lineitem rows of the new keys."""

    orders: pa.Table
    first_new_key: int
    lines: pa.Table


def _orders(rng: np.random.Generator, keys: np.ndarray) -> pa.Table:
    n = len(keys)
    return pa.table({
        "o_orderkey": pa.array(keys, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, 15_000, n), pa.int64()),
        "o_orderstatus": pa.array(np.array(ORDER_STATUS)[rng.integers(0, 3, n)]),
        "o_totalprice": pa.array(_cents(rng, 1000.0, 500_000.0, n)),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n)]),
    }, schema=CDC_SCHEMA)


def cdc_base(n_rows: int, seed: int) -> pa.Table:
    """The base table: ``n_rows`` orders keyed 0..n_rows-1."""
    return _orders(np.random.default_rng([seed, 1]), np.arange(n_rows))


def cdc_batches(n_base: int, batch_rows: int, seed: int, update_frac: float = 0.7):
    """Endless stream of change batches of ``batch_rows`` distinct keys:
    ``update_frac`` of them existing keys (base or earlier inserts), the
    rest fresh keys above every key used so far."""
    rng = np.random.default_rng([seed, 2])
    next_key = n_base
    n_upd = int(round(batch_rows * update_frac))
    while True:
        upd = rng.choice(next_key, n_upd, replace=False)
        new = np.arange(next_key, next_key + batch_rows - n_upd)
        per_key = rng.integers(1, 4, len(new))
        line_keys = np.repeat(new, per_key)
        lines = pa.table({
            "l_orderkey": pa.array(line_keys, pa.int64()),
            "l_linenumber": pa.array(
                np.concatenate([np.arange(1, k + 1) for k in per_key]), pa.int32()
            ),
            "l_quantity": pa.array(rng.integers(1, 51, len(line_keys)).astype(float)),
            "l_extendedprice": pa.array(_cents(rng, 900.0, 105_000.0, len(line_keys))),
        }, schema=LINE_SCHEMA)
        yield Batch(_orders(rng, np.concatenate([upd, new])), next_key, lines)
        next_key += len(new)
