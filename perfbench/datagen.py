"""Seeded generator for the benchmark's input tables.

Writes the ten tables the query registry reads (``region nation
customer supplier part orders lineitem events documents embeddings``),
one parquet file each, with the column names, types and value domains
of the engine's reference testdata (``l_extendedprice`` is in whole
units, see :func:`build_table`).  Row counts scale with ``sf`` the
way that testdata does (``lineitem`` = 6,000,000 x sf).  Every value is
drawn from ``numpy.random.default_rng(seed)``: the same ``(sf, seed)``
writes the same bytes.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ALL_TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "hot", "large", "small", "red", "cold", "shiny", "old"]
_PART_NOUN = ["anvil", "bolt", "gear", "ring", "widget", "spring", "valve", "nut"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a the row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window spark part group "
    "big sort query fast join hash"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.42, 0.145, 0.145, 0.145, 0.145]
_EMB_DIM = 64
_US_PER_DAY = 86_400 * 1_000_000


def _epoch_us(y: int, m: int, d: int) -> int:
    return int(datetime(y, m, d, tzinfo=timezone.utc).timestamp()) * 1_000_000


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, y: int, m: int, d: int, span: int, n: int) -> pa.Array:
    us = _epoch_us(y, m, d) + rng.integers(0, span, n) * _US_PER_DAY
    return pa.array(us, pa.timestamp("us"))


def _pick(rng, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def table_sizes(sf: float) -> dict[str, int]:
    return {
        "customer": int(150_000 * sf),
        "supplier": max(10, int(10_000 * sf)),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "users": max(15, int(15_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _documents(rng, n: int) -> pa.Table:
    lens = rng.integers(10, 100, n)
    words = np.asarray(_WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(_WORDS), k)]) for k in lens]
    # ~5% near-duplicates: an earlier document re-published with one
    # appended token, the shape the LSH / SemDeDup jobs look for
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(rng, _LANGS, n, _LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.fromiter((len(t) for t in texts), np.int64, n)),
    })


def _embeddings(rng, n: int) -> pa.Table:
    v = rng.standard_normal((n, _EMB_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(v.ravel()), _EMB_DIM
        ).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def build_table(name: str, sf: float, rng) -> pa.Table:
    n = table_sizes(sf)
    i64 = lambda k: pa.array(np.arange(k, dtype=np.int64))  # noqa: E731
    if name == "region":
        return pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(_REGIONS),
        })
    if name == "nation":
        keys = np.arange(25, dtype=np.int32)
        return pa.table({
            "n_nationkey": pa.array(keys),
            "n_name": pa.array([f"NATION_{k}" for k in keys]),
            "n_regionkey": pa.array(keys % 5),
        })
    if name == "customer":
        k = n["customer"]
        return pa.table({
            "c_custkey": i64(k),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(k)]),
            "c_nationkey": pa.array(rng.integers(0, 25, k).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, k)),
            "c_mktsegment": _pick(rng, _SEGMENTS, k),
        })
    if name == "supplier":
        k = n["supplier"]
        return pa.table({
            "s_suppkey": i64(k),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(k)]),
            "s_nationkey": pa.array(rng.integers(0, 25, k).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, k)),
        })
    if name == "part":
        k = n["part"]
        names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
        return pa.table({
            "p_partkey": i64(k),
            "p_name": _pick(rng, names, k),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, k)]),
            "p_type": _pick(rng, _PART_TYPES, k),
            "p_size": pa.array(rng.integers(1, 51, k).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900 + (np.arange(k) % 1000) / 10, 2)),
        })
    if name == "orders":
        k = n["orders"]
        return pa.table({
            "o_orderkey": i64(k),
            "o_custkey": pa.array(rng.integers(0, n["customer"], k)),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], k),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, k)),
            "o_orderdate": _days(rng, 1995, 1, 1, 2405, k),
            "o_orderpriority": _pick(rng, _PRIORITIES, k),
        })
    if name == "lineitem":
        k = n["lineitem"]
        return pa.table({
            "l_orderkey": pa.array(rng.integers(0, n["orders"], k)),
            "l_partkey": pa.array(rng.integers(0, n["part"], k)),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], k)),
            "l_linenumber": pa.array(rng.integers(1, 8, k).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, k).astype(np.float64)),
            # whole units, so revenue = price * (1 - discount) has two
            # decimals and its rounded sums never sit on a half-cent tie,
            # which the engine (rounding the decimal) and DuckDB (rounding
            # the binary double) break in opposite directions
            "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105_000.0, k))),
            "l_discount": pa.array(np.round(rng.uniform(0, 0.1, k), 2)),
            "l_tax": pa.array(np.round(rng.uniform(0, 0.08, k), 2)),
            "l_returnflag": _pick(rng, ["A", "N", "R"], k),
            "l_linestatus": _pick(rng, ["F", "O"], k),
            "l_shipdate": _days(rng, 1995, 1, 2, 2499, k),
        })
    if name == "events":
        k = n["events"]
        start = _epoch_us(2024, 1, 1)
        ts = np.sort(rng.integers(start, start + 30 * _US_PER_DAY, k))
        return pa.table({
            "event_id": i64(k),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n["users"], k)),
            "event_type": _pick(rng, _EVENT_TYPES, k),
            "value": pa.array(np.round(rng.exponential(50.0, k), 2)),
            "props": pa.array([f'{{"k": {v}}}' for v in rng.integers(0, 100, k)]),
        })
    if name == "documents":
        return _documents(rng, n["documents"])
    if name == "embeddings":
        return _embeddings(rng, n["embeddings"])
    raise ValueError(f"unknown table: {name!r}")


def write_tables(
    out_dir: str, sf: float, seed: int, tables=ALL_TABLES
) -> dict[str, int]:
    """Write ``tables`` under ``out_dir`` as ``<name>.parquet``; returns
    their row counts.  Each table draws from its own child stream of
    ``seed``, so asking for a subset does not change any table's bytes."""
    os.makedirs(out_dir, exist_ok=True)
    streams = np.random.SeedSequence(seed).spawn(len(ALL_TABLES))
    rows = {}
    for name in tables:
        rng = np.random.default_rng(streams[ALL_TABLES.index(name)])
        t = build_table(name, sf, rng)
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = t.num_rows
    return rows
