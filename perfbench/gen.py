"""Seeded input generators.

The serving corpus (vectors, Zipf-skewed users, payloads) and the request
stream come from the ``numpy`` generator built from ``--seed``; the registry
tables come from the fixed ``TABLE_SEED``.  The engine only ever sees the
generated inputs.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np

# The reference harness's committed run (BASELINE.md "Measured": 500
# vectors, 50 users; payload fields of scripts/performance_test.py:293-297)
DIM = 512
N_POINTS = 500
N_USERS = 50
N_CATEGORIES = 10
# "similar" probes mix a stored vector at s = 0.9 and must come back above
# threshold 0.5 (performance_test.py:57-71,375-394; tests/test_invariants.py)
SIMILARITY = 0.9
# Assumption: the reference assigns users round-robin
# (``test_user_{i % num_users}``, performance_test.py:291); the users here
# are drawn with Zipf skew instead, at exponent 1, so that user filters
# select very different numbers of points.
ZIPF_S = 1.0


def normalize(v: np.ndarray) -> np.ndarray:
    """Row-wise ``x / max(||x||, 1e-12)`` in float64, the store's write-time
    normalization (``functions.vector.l2_normalize_sql``)."""
    v = np.asarray(v, dtype=np.float64)
    n = np.sqrt((v * v).sum(axis=-1, keepdims=True))
    return v / np.maximum(n, 1e-12)


class Corpus:
    """Reference-shaped points (scripts/performance_test.py:40-71): unit
    Gaussian vectors, users ``test_user_{i}``, payload ``test_id`` and
    ``category_<i % 10>``.  ``similar`` makes the reference's "similar"
    vectors ``s*b + (1-s)*n``, re-normalized."""

    def __init__(self, rng: np.random.Generator, n: int = N_POINTS, dim: int = DIM):
        self.rng = rng
        self.dim = dim
        w = 1.0 / np.arange(1, N_USERS + 1) ** ZIPF_S
        self.user_p = w / w.sum()
        self.vectors = self.gaussian(n)
        self.ids = [f"pt_{i:07d}" for i in range(1, n + 1)]
        self.users = np.array([self.user() for _ in range(n)])
        self.metas = [self.meta(i) for i in self.ids]

    def gaussian(self, n: int) -> np.ndarray:
        return normalize(self.rng.standard_normal((n, self.dim)))

    def similar(self, bases: np.ndarray) -> np.ndarray:
        noise = self.gaussian(len(bases))
        return normalize(SIMILARITY * bases + (1 - SIMILARITY) * noise)

    def user(self) -> str:
        return f"test_user_{self.rng.choice(N_USERS, p=self.user_p)}"

    def meta(self, pid: str) -> dict:
        n = int(pid[3:])
        return {"test_id": str(n), "category": f"category_{n % N_CATEGORIES}"}


# ---------------------------------------------------------------------------
# registry tables (TESTDATA.md / FIXTURES.md schemas)
# ---------------------------------------------------------------------------

TABLE_SEED = 42
TABLE_ROWS = {
    "customer": 300,
    "supplier": 20,
    "part": 400,
    "orders": 3000,
    "lineitem": 12000,
    "events": 2000,
    "documents": 300,
    "embeddings": 300,
}
_WORDS = (
    "a the row column table key value part data hash join merge sort scan "
    "filter group agg order window batch stream query spark vector line "
    "customer small big fast slow"
).split()
_LANGS = ["en", "es", "zh", "de", "fr"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def _days(rng, n, start: dt.date, end: dt.date) -> np.ndarray:
    span = (end - start).days
    d0 = np.datetime64(start.isoformat(), "us")
    return d0 + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def write_tables(rng: np.random.Generator, out_dir: str) -> None:
    """One parquet file per table under ``out_dir``, sized by TABLE_ROWS."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    n = TABLE_ROWS
    ts_us = pa.timestamp("us")

    def put(name: str, cols: dict, types: dict) -> None:
        arrays = {c: pa.array(v, type=types[c]) for c, v in cols.items()}
        pq.write_table(pa.table(arrays), os.path.join(out_dir, f"{name}.parquet"))

    def money(lo, hi, k):
        return np.round(rng.uniform(lo, hi, k), 2)

    put(
        "region",
        {"r_regionkey": range(5), "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
        {"r_regionkey": pa.int32(), "r_name": pa.string()},
    )
    put(
        "nation",
        {
            "n_nationkey": range(25),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": [i % 5 for i in range(25)],
        },
        {"n_nationkey": pa.int32(), "n_name": pa.string(), "n_regionkey": pa.int32()},
    )
    c = n["customer"]
    put(
        "customer",
        {
            "c_custkey": np.arange(c),
            "c_name": [f"Customer#{i:09d}" for i in range(c)],
            "c_nationkey": rng.integers(0, 25, c),
            "c_acctbal": money(-999.99, 9999.99, c),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], c
            ),
        },
        {"c_custkey": pa.int64(), "c_name": pa.string(), "c_nationkey": pa.int32(),
         "c_acctbal": pa.float64(), "c_mktsegment": pa.string()},
    )
    s = n["supplier"]
    put(
        "supplier",
        {
            "s_suppkey": np.arange(s),
            "s_name": [f"Supplier#{i:09d}" for i in range(s)],
            "s_nationkey": rng.integers(0, 25, s),
            "s_acctbal": money(-999.99, 9999.99, s),
        },
        {"s_suppkey": pa.int64(), "s_name": pa.string(), "s_nationkey": pa.int32(),
         "s_acctbal": pa.float64()},
    )
    p = n["part"]
    adj = ["small", "red", "blue", "hot", "cold", "old", "new", "big"]
    noun = ["ring", "widget", "bolt", "gear", "anvil", "rod", "plate", "nut"]
    put(
        "part",
        {
            "p_partkey": np.arange(p),
            "p_name": [f"{adj[a]} {noun[b]}" for a, b in zip(rng.integers(0, 8, p), rng.integers(0, 8, p))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, p)],
            "p_type": rng.choice(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"], p),
            "p_size": rng.integers(1, 51, p),
            "p_retailprice": np.round(900 + (np.arange(p) % 1000) / 10, 1),
        },
        {"p_partkey": pa.int64(), "p_name": pa.string(), "p_brand": pa.string(),
         "p_type": pa.string(), "p_size": pa.int32(), "p_retailprice": pa.float64()},
    )
    o = n["orders"]
    put(
        "orders",
        {
            "o_orderkey": np.arange(o),
            "o_custkey": rng.integers(0, c, o),
            "o_orderstatus": rng.choice(["F", "O", "P"], o),
            "o_totalprice": money(1000, 500000, o),
            "o_orderdate": _days(rng, o, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], o
            ),
        },
        {"o_orderkey": pa.int64(), "o_custkey": pa.int64(), "o_orderstatus": pa.string(),
         "o_totalprice": pa.float64(), "o_orderdate": ts_us, "o_orderpriority": pa.string()},
    )
    li = n["lineitem"]
    put(
        "lineitem",
        {
            "l_orderkey": rng.integers(0, o, li),
            "l_partkey": rng.integers(0, p, li),
            "l_suppkey": rng.integers(0, s, li),
            "l_linenumber": rng.integers(1, 8, li),
            "l_quantity": rng.integers(1, 51, li).astype(np.float64),
            "l_extendedprice": money(900, 105000, li),
            "l_discount": rng.integers(0, 11, li) / 100,
            "l_tax": rng.integers(0, 9, li) / 100,
            "l_returnflag": rng.choice(["A", "N", "R"], li),
            "l_linestatus": rng.choice(["O", "F"], li),
            "l_shipdate": _days(rng, li, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
        },
        {"l_orderkey": pa.int64(), "l_partkey": pa.int64(), "l_suppkey": pa.int64(),
         "l_linenumber": pa.int32(), "l_quantity": pa.float64(), "l_extendedprice": pa.float64(),
         "l_discount": pa.float64(), "l_tax": pa.float64(), "l_returnflag": pa.string(),
         "l_linestatus": pa.string(), "l_shipdate": ts_us},
    )
    e = n["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    put(
        "events",
        {
            "event_id": np.arange(e),
            "ts": t0 + np.sort(rng.integers(0, 30 * 86400 * 10**6, e)).astype("timedelta64[us]"),
            "user_id": rng.integers(0, max(10, e // 60), e),
            "event_type": rng.choice(["click", "view", "purchase", "signup", "error"], e),
            "value": np.round(rng.exponential(50.0, e), 2) + 0.01,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
        },
        {"event_id": pa.int64(), "ts": ts_us, "user_id": pa.int64(), "event_type": pa.string(),
         "value": pa.float64(), "props": pa.string()},
    )
    d = n["documents"]
    texts: list[str] = []
    for i in range(d):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            t = texts[rng.integers(0, i)] + (" dup" if rng.random() < 0.8 else "")
        else:
            t = " ".join(rng.choice(_WORDS, rng.integers(10, 90)))
        texts.append(t)
    put(
        "documents",
        {
            "doc_id": np.arange(d),
            "text": texts,
            "lang": rng.choice(_LANGS, d, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(d)],
            "n_chars": [len(t) for t in texts],
        },
        {"doc_id": pa.int64(), "text": pa.string(), "lang": pa.string(), "source": pa.string(),
         "n_chars": pa.int64()},
    )
    m = n["embeddings"]
    emb = normalize(rng.standard_normal((m, 64))).astype(np.float32)
    put(
        "embeddings",
        {"vec_id": np.arange(m), "embedding": list(emb), "label": rng.integers(0, 10, m)},
        {"vec_id": pa.int64(), "embedding": pa.list_(pa.float32()), "label": pa.int32()},
    )
