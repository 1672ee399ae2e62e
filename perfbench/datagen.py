"""Seeded synthetic corpus in the engine's fixture schema.

Writes the ten tables the registry reads (``region`` … ``embeddings``) as
one parquet file each, with the column names, types and value domains of
the engine's test fixtures: a TPC-H-like star schema, a month of ``events``
whose ``ts`` is parquet TIMESTAMP(NANOS) in event-id order, word-soup
``documents`` with planted exact duplicates, and 64-dim float32
``embeddings``. Row counts scale with ``sf`` the way the fixtures do
(lineitem = 6M x sf).

The same (seed, sf) always gives byte-identical values, so a run's inputs
are a pure function of its ``--seed``. Only numpy and pyarrow are used:
the engine under test never touches its own inputs before the run.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
_PART_NOUN = ["widget", "bolt", "ring", "gear", "plate", "rod", "gizmo", "anvil"]
_PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_LANGS = ["en", "fr", "de", "es", "zh"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_VOCAB = (
    "key agg scan slow table part a merge window order column join vector row "
    "the query stream value hash batch sort data big filter dup fast spark "
    "line small customer group"
).split()

_DAY_MS = 86_400_000
_EPOCH_1995_MS = 788_918_400_000  # 1995-01-01
_ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01
_EVENTS_T0_NS = 1_704_067_200_000_000_000  # 2024-01-01
_EVENTS_SPAN_US = 30 * 86_400 * 1_000_000


def _n(base: int, sf: float, floor: int = 1) -> int:
    return max(floor, int(round(base * sf)))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    # Not rounded to cents: sums of cent values divided by counts land
    # exactly on a rounding boundary now and then, and the two engines'
    # summation orders then round them apart.
    return rng.uniform(lo, hi, n)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)
    ).cast(pa.string())


def _tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = _n(150_000, sf, 10)
    n_supp = _n(10_000, sf, 5)
    n_part = _n(200_000, sf, 20)
    n_ord = _n(1_500_000, sf, 100)
    n_line = _n(6_000_000, sf, 400)
    n_ev = _n(1_000_000, sf, 100)
    n_users = _n(15_000, sf, 10)
    n_docs = _n(50_000, sf, 500)
    n_emb = _n(20_000, sf, 500)

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": _pick(rng, names, n_part),
            "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
            "p_type": _pick(rng, _PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
        }
    )
    order_day = rng.integers(0, _ORDER_DAYS, n_ord)
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": pa.array(
                _EPOCH_1995_MS + order_day * _DAY_MS, pa.timestamp("ms")
            ),
            "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
        }
    )
    l_order = rng.integers(0, n_ord, n_line)
    ship_day = order_day[l_order] + rng.integers(1, 95, n_line)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(l_order, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": pa.array(
                _EPOCH_1995_MS + ship_day * _DAY_MS, pa.timestamp("ms")
            ),
        }
    )
    ts_us = np.sort(rng.integers(0, _EVENTS_SPAN_US, n_ev))
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(_EVENTS_T0_NS + ts_us * 1000, pa.timestamp("ns")),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": _pick(rng, _EVENT_TYPES, n_ev),
            "value": np.round(np.minimum(rng.exponential(50.0, n_ev), 490.0) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    lengths = rng.integers(10, 100, n_docs)
    words = rng.integers(0, len(_VOCAB), int(lengths.sum()))
    texts, pos = [], 0
    for length in lengths:
        texts.append(" ".join(_VOCAB[w] for w in words[pos : pos + length]))
        pos += length
    n_dup = max(1, n_docs // 625)
    for src, dst in zip(
        rng.choice(n_docs // 2, n_dup, replace=False),
        n_docs // 2 + rng.choice(n_docs - n_docs // 2, n_dup, replace=False),
    ):
        texts[dst] = texts[src]
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": _pick(rng, _LANGS, n_docs, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    emb = (rng.standard_normal((n_emb, 64)) * 0.12).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(emb.ravel(), pa.float32()), 64
            ).cast(pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
        }
    )
    return out


def write_corpus(out_dir: str, seed: int, sf: float) -> int:
    """Write the corpus for (seed, sf) into ``out_dir``; return its bytes."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, table in _tables(seed, sf).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total
