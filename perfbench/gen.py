"""Seeded benchmark inputs: the ten star-schema tables plus Format A text.

The program receives only the directory written here. The tables have
the columns, physical types, value domains and per-scale-factor row
counts of the star-schema testdata described in TESTDATA.md, but every
value is drawn from ``numpy.random.default_rng(seed)``: a seed fully
determines the inputs, and nothing outside the checkout is read.
Documents include 5% near-copies of earlier ones, so dedup has pairs
to find.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_NAMES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
             "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
DOC_VOCAB = (
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window", "sum",
)
EMB_DIM = 64
NEAR_DUP_SHARE = 0.05

# rows per unit scale factor, as in the testdata (sf0.1: 600k lineitem);
# documents and embeddings have floors, as there
PER_SF = {
    "customer": 150_000, "supplier": 10_000, "part": 200_000,
    "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
    "users": 15_000, "documents": 50_000, "embeddings": 20_000,
}
FLOORS = {"documents": 500, "embeddings": 500}

_DAY_US = 86_400 * 1_000_000


def _epoch_us(y: int, m: int, d: int) -> int:
    return (dt.date(y, m, d) - dt.date(1970, 1, 1)).days * _DAY_US


def table_sizes(sf: float) -> dict[str, int]:
    """Rows per table at scale factor ``sf``."""
    return {
        t: max(FLOORS.get(t, 1), int(round(n * sf)))
        for t, n in PER_SF.items()
    }


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values, pa.string())
    ).cast(pa.string())


def _days(rng, start: tuple, n_days: int, n: int) -> pa.Array:
    us = _epoch_us(*start) + rng.integers(0, n_days, n) * _DAY_US
    return pa.array(us, pa.timestamp("us"))


def _tables(rng, size: dict[str, int]) -> dict[str, pa.Table]:
    """The eight scaled tables, keys dense from 0."""
    nc, ns, np_, no, nl, ne, nd, nv = (
        size[t] for t in ("customer", "supplier", "part", "orders",
                          "lineitem", "events", "documents", "embeddings")
    )
    ck = np.arange(nc, dtype=np.int64)
    sk = np.arange(ns, dtype=np.int64)
    pk = np.arange(np_, dtype=np.int64)
    customer = pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": _pick(rng, SEGMENTS, nc),
    })
    supplier = pa.table({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    part = pa.table({
        "p_partkey": pk,
        "p_name": _pick(rng, names, np_),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], np_),
        "p_type": _pick(rng, PART_TYPES, np_),
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": np.round(900.0 + rng.integers(0, 1000, np_) * 0.1, 1),
    })
    orders = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), no),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _days(rng, (1995, 1, 1), 2404, no),
        "o_orderpriority": _pick(rng, PRIORITIES, no),
    })
    qty = rng.integers(1, 51, nl).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": rng.integers(0, no, nl),
        "l_partkey": rng.integers(0, np_, nl),
        "l_suppkey": rng.integers(0, ns, nl),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": _pick(rng, ("A", "N", "R"), nl),
        "l_linestatus": _pick(rng, ("F", "O"), nl),
        "l_shipdate": _days(rng, (1995, 1, 2), 2498, nl),
    })
    ts = _epoch_us(2024, 1, 1) + rng.integers(0, 30 * _DAY_US, ne)
    events = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(np.sort(ts), pa.timestamp("us")),
        "user_id": rng.integers(0, size["users"], ne),
        "event_type": _pick(rng, EVENT_TYPES, ne),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, ne), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    n_tok = rng.integers(10, 100, nd)
    words = rng.integers(0, len(DOC_VOCAB), int(n_tok.sum()))
    cuts = np.concatenate([[0], np.cumsum(n_tok)])
    text = [
        " ".join(DOC_VOCAB[j] for j in words[cuts[i]:cuts[i + 1]])
        for i in range(nd)
    ]
    # a share of documents are near-copies of an earlier one (about one
    # token in 20 replaced), so the dedup keys have pairs to find
    for i in np.flatnonzero(rng.random(nd) < NEAR_DUP_SHARE):
        if i == 0:
            continue
        toks = text[rng.integers(0, i)].split()
        for pos in rng.integers(0, len(toks), max(1, len(toks) // 20)):
            toks[pos] = DOC_VOCAB[rng.integers(0, len(DOC_VOCAB))]
        text[i] = " ".join(toks)
    documents = pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": text,
        "lang": _pick(rng, LANGS, nd, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    })
    vec = rng.normal(0.0, 1.0, (nv, EMB_DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    embeddings = pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vec.ravel(), pa.float32()), EMB_DIM
        ).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
    })
    return {
        "customer": customer, "supplier": supplier, "part": part,
        "orders": orders, "lineitem": lineitem, "events": events,
        "documents": documents, "embeddings": embeddings,
    }


def write_tables(out_dir: str, seed: int, sf: float) -> None:
    """Write the ten tables for (seed, sf) as parquet files."""
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": list(REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
    }
    tables.update(_tables(np.random.default_rng(seed), table_sizes(sf)))
    for t in TABLE_NAMES:
        pq.write_table(tables[t], os.path.join(out_dir, f"{t}.parquet"))


def write_billings_a(spark, out_dir: str, seed: int, n: int) -> None:
    """Render ``sources.generator.gen_billings`` as Format A text lines."""
    from bigdata1_spark.sources.generator import billing_lines, gen_billings

    billing_lines(gen_billings(spark, n=n, seed=seed)).coalesce(4) \
        .write.mode("overwrite").text(os.path.join(out_dir, "billings_a"))


def ensure_inputs(spark, cache_root: str, seed: int, sf: float,
                  billings: int) -> dict:
    """Return the manifest of the input directory for these parameters,
    generating it first unless a complete one is cached. The manifest is
    written last, so a directory without one is incomplete."""
    out_dir = os.path.join(cache_root, f"s{seed}_sf{sf}_b{billings}")
    manifest_path = os.path.join(out_dir, "MANIFEST.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as fh:
            manifest = json.load(fh)
        return _located(manifest, out_dir, cached=True)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    t0 = time.perf_counter()
    write_tables(out_dir, seed, sf)
    if billings:
        write_billings_a(spark, out_dir, seed, billings)
    rows = {
        t: pq.read_metadata(os.path.join(out_dir, f"{t}.parquet")).num_rows
        for t in TABLE_NAMES
    }
    if billings:
        rows["billings_a"] = billings
    nbytes = sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(out_dir) for f in files
    )
    manifest = {
        "seed": seed, "sf": sf, "rows": rows, "bytes": nbytes,
        "gen_s": time.perf_counter() - t0,
    }
    with open(manifest_path, "w") as fh:
        json.dump(manifest, fh, indent=1)
    return _located(manifest, out_dir, cached=False)


def _located(manifest: dict, out_dir: str, cached: bool) -> dict:
    return manifest | {
        "dir": out_dir, "cached": cached,
        "billings_path": os.path.join(out_dir, "billings_a"),
    }
