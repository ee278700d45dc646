"""Seeded corpus generator for the benchmark.

Writes the ten engine tables (FIXTURES.md §4-5) as one parquet file
each, in the ``{dir}/{table}.parquet`` layout ``sources.tables`` reads.
Row counts scale with ``sf`` the way the fixtures in TESTDATA.md do
(lineitem = 6M × sf); values follow the same generator grains: money
at cent grain, quantities integral, order and ship dates at day grain,
event timestamps at microsecond grain and sorted. The same
``(seed, sf)`` always gives byte-identical tables.

Also writes the river wire format (FIXTURES.md §2): newline-delimited
JSON objects whose five fields are all strings.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("small", "red", "blue", "hot", "old", "large", "new", "cold")
PART_NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
EMBED_DIM = 64

_DAY_US = 86_400_000_000


def _days_since_epoch(y: int, m: int, d: int) -> int:
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "D").astype(np.int64))


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _day_ts(rng: np.random.Generator, first: tuple, last: tuple, n: int) -> pa.Array:
    lo, hi = _days_since_epoch(*first), _days_since_epoch(*last)
    days = rng.integers(lo, hi + 1, n).astype(np.int64)
    return pa.array(days * _DAY_US, pa.timestamp("us"))


def _pick(rng: np.random.Generator, values, n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.DictionaryArray.from_arrays(pa.array(idx, pa.int32()), pa.array(values)).cast(pa.string())


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables for one (seed, sf) as pyarrow tables."""
    rng = np.random.default_rng([seed, int(round(sf * 1_000_000))])
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = max(6_000, int(6_000_000 * sf))
    n_evt = max(1_000, int(1_000_000 * sf))
    n_users = max(15, n_cust // 10)
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(REGIONS)}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(_cents(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(_cents(rng, -999.99, 9999.99, n_supp)),
        }
    )
    pk = np.arange(n_part, dtype=np.int64)
    adj, noun = rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(pk),
            "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) / 10.0, 2)),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
            "o_totalprice": pa.array(_cents(rng, 1000.0, 500000.0, n_ord)),
            "o_orderdate": _day_ts(rng, (1995, 1, 1), (2001, 8, 1), n_ord),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line).astype(np.int64)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
            "l_extendedprice": pa.array(_cents(rng, 900.0, 105000.0, n_line)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": _pick(rng, ("A", "N", "R"), n_line),
            "l_linestatus": _pick(rng, ("F", "O"), n_line),
            "l_shipdate": _day_ts(rng, (1995, 1, 2), (2001, 11, 4), n_line),
        }
    )
    t0 = _days_since_epoch(2024, 1, 1) * _DAY_US
    ts = np.sort(rng.integers(t0, t0 + 30 * _DAY_US, n_evt))
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_evt, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_evt).astype(np.int64)),
            "event_type": _pick(rng, EVENT_TYPES, n_evt),
            "value": pa.array(np.maximum(np.round(rng.exponential(50.0, n_evt), 2), 0.01)),
            "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_evt)]),
        }
    )
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            # Near-duplicate of an earlier document: what the dedup
            # families exist to find.
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(WORDS[w] for w in rng.integers(0, len(WORDS), int(rng.integers(10, 100)))))
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n_docs, p=LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )
    labels = rng.integers(0, 10, n_vecs).astype(np.int32)
    centers = rng.normal(0.0, 0.15, (10, EMBED_DIM))
    x = centers[labels] + rng.normal(0.0, 1.0, (n_vecs, EMBED_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": pa.array(labels),
        }
    )
    return out


def write_corpus(path: str, seed: int, sf: float) -> None:
    """Write the (seed, sf) corpus under ``path``."""
    os.makedirs(path, exist_ok=True)
    for name, tbl in tables(seed, sf).items():
        pq.write_table(tbl, os.path.join(path, f"{name}.parquet"))


# --- river wire format ------------------------------------------------------

WATERBODIES = tuple(
    f"{a}{' ' + b if b else ''}_{n:03d}"
    for a, b, n in (
        (
            ("CARRIGAHORIG", "AVONMORE", "YELLOW", "SUIR", "NORE", "BARROW", "BOYNE", "MOY")[i % 8],
            ("STREAM", "RIVER", "(FOXFORD)", "")[i // 8 % 4],
            10 * (i // 32 + 1) + i % 7,
        )
        for i in range(160)
    )
)
MONTHS = tuple(f"{y:04d}-{m:02d}-01" for y in range(2007, 2024) for m in range(1, 13))[:196]


def wire_rows(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` reference-wire JSON lines: five all-string fields."""
    sensor = rng.integers(0, len(WATERBODIES), n)
    month = rng.integers(0, len(MONTHS), n)
    ph = np.clip(rng.normal(7.55, 0.6, n), 4.7, 9.8)
    do = np.clip(rng.normal(58.3, 30.0, n), 0.0, 198.0)
    cond = np.clip(rng.lognormal(5.6, 0.75, n), 33.0, 4200.0)
    return [
        json.dumps(
            {
                "FullDate": MONTHS[m],
                "WaterbodyName": WATERBODIES[s],
                "pH": f"{p:.2f}",
                "Dissolved Oxygen": f"{d:.1f}",
                "Conductivity @25°C": f"{c:.1f}",
            },
            ensure_ascii=False,
        )
        for s, m, p, d, c in zip(sensor, month, ph, do, cond)
    ]
