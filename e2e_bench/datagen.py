"""Seeded synthetic inputs in the schema of the engine's fixture tables.

The benchmark may read only what its checkout holds, so it generates its
tables instead of reading external fixtures. Shapes follow FIXTURES.md:
a TPC-H-like star schema, an ``events`` stream spread over 30 days, and
a ``documents`` corpus of word soup with near-duplicates (a copy of an
earlier document plus the word ``dup``) and a few exact duplicates.
Row counts scale linearly with ``sf`` (sf=0.1 gives 600k lineitem rows,
100k events and 5k documents). The same ``(sf, seed)`` always writes the
same bytes.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "es", "zh", "de", "fr")
LANG_P = (0.41, 0.15, 0.15, 0.14, 0.15)
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("SMALL", "MEDIUM", "LARGE", "ECONOMY", "STANDARD", "PROMO")
PART_ADJ = ("small", "hot", "cold", "old", "new", "red", "blue", "large")
PART_NOUN = ("widget", "gizmo", "gear", "rod", "anvil", "ring", "bolt")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
EVENTS_START = dt.datetime(2024, 1, 1)
EVENT_DAYS = 30


def _ts(days_since_epoch: np.ndarray) -> pa.Array:
    us = days_since_epoch.astype("int64") * 86_400_000_000
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def star_schema(out_dir: str, sf: float, seed: int) -> None:
    rng = np.random.default_rng([seed, 1])
    n_cust = max(int(150_000 * sf), 150)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 200)
    n_ord = max(int(1_500_000 * sf), 1500)
    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), n_part)]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), n_part)]
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
    })
    day0 = (dt.date(1995, 1, 1) - dt.date(1970, 1, 1)).days
    odays = day0 + rng.integers(0, 2404, n_ord)  # through 2001-08-01
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _ts(odays),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    # ~4 lines per order; (l_orderkey, l_linenumber) is unique.
    n_lines = rng.integers(1, 8, n_ord)
    target = int(6_000_000 * sf) or 6000
    scale = target / n_lines.sum()
    n_lines = np.maximum(1, np.round(n_lines * scale)).astype(int)
    okey = np.repeat(np.arange(n_ord), n_lines)
    starts = np.repeat(np.cumsum(n_lines) - n_lines, n_lines)
    lnum = np.arange(len(okey)) - starts + 1
    n_li = len(okey)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": _money(rng, 900, 100000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(odays[okey] + rng.integers(1, 122, n_li)),
    })


def events_table(sf: float, seed: int) -> pa.Table:
    """``events``: ids in time order, 30 days from 2024-01-01."""
    rng = np.random.default_rng([seed, 2])
    n = max(int(1_000_000 * sf), 1000)
    span_us = EVENT_DAYS * 86_400_000_000
    base_us = int((EVENTS_START - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n)) + base_us
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(int(15_000 * sf), 15), n), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": _money(rng, 0, 560, n),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def documents_table(sf: float, seed: int) -> pa.Table:
    """``documents``: 10-100 words each; 5% are a near-duplicate of an
    earlier document (its text plus ``dup``), 0.2% an exact copy."""
    rng = np.random.default_rng([seed, 3])
    n = max(int(50_000 * sf), 500)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 20 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 20 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            ws = rng.integers(0, len(WORDS), int(rng.integers(10, 101)))
            texts.append(" ".join(WORDS[w] for w in ws))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def generate(out_dir: str, sf: float, seed: int) -> str:
    """Write every table under ``out_dir``; returns ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    star_schema(out_dir, sf, seed)
    pq.write_table(events_table(sf, seed), os.path.join(out_dir, "events.parquet"))
    pq.write_table(documents_table(sf, seed), os.path.join(out_dir, "documents.parquet"))
    return out_dir


def cached_tables(cache_root: str, sf: float, seed: int) -> str:
    """The tables for ``(sf, seed)`` under ``cache_root``, generated on
    first use. The directory name carries a digest of this file, so a
    changed generator never reuses old tables."""
    import hashlib
    import shutil

    with open(__file__, "rb") as f:
        digest = hashlib.sha256(f.read()).hexdigest()[:12]
    out = os.path.join(cache_root, f"tables-sf{sf}-seed{seed}-{digest}")
    if not os.path.isdir(out):
        tmp = f"{out}.tmp{os.getpid()}"
        generate(tmp, sf, seed)
        try:
            os.rename(tmp, out)
        except OSError:  # another run generated it first
            shutil.rmtree(tmp, ignore_errors=True)
    return out
