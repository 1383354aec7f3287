"""Seeded warehouse generator for the ``dashboard`` workload.

The warehouse has the ten tables the query registry reads (TPC-H-ish
star schema plus ``events``, ``documents`` and ``embeddings``), with
the column names and parquet types of the repository's synthetic test
warehouses (TESTDATA.md). A small base (sf0.01 row counts) is generated
from a fixed seed with NumPy, then replicated K-fold with the key-offset
scheme of ``scripts/scale_ladder.py``: copy ``i`` adds ``i * stride`` to
every synthetic key, so primary/foreign keys stay consistent and key
cardinality grows with K, while ``region``/``nation`` stay fixed.
``documents`` and ``embeddings`` get fresh content in every copy,
keyed by the run seed, so the exact-dup cascade cannot collapse
copies and a new seed changes content but not row counts.

Warehouses are cached per (seed, K) under a completion sentinel: a
build interrupted half way leaves no sentinel and is rebuilt.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from .oracle import oracle_digests

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()
SENTINEL = "COMPLETE"
ORACLE_FILE = "oracle.json"
BASE_SEED = 42
ROW_GROUP = 100_000

# base row counts (those of the sf0.01 test warehouse)
N_CUSTOMER = 1_500
N_SUPPLIER = 100
N_PART = 2_000
N_ORDERS = 15_000
N_LINEITEM = 60_000
N_EVENTS = 10_000
N_USERS = 150
N_DOCUMENTS = 500
N_EMBEDDINGS = 500
EMB_DIM = 64

# key column -> offset stride per replication copy (scripts/scale_ladder.py)
STRIDES = {
    "o_orderkey": 1_000_000,
    "l_orderkey": 1_000_000,
    "o_custkey": 100_000,
    "c_custkey": 100_000,
    "p_partkey": 100_000,
    "l_partkey": 100_000,
    "s_suppkey": 10_000,
    "l_suppkey": 10_000,
    "event_id": 10_000_000,
    "user_id": 10_000,
    "doc_id": 100_000,
    "vec_id": 100_000,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
PART_NOUN = ["bolt", "plate", "rod", "anvil", "ring", "gear", "widget", "gizmo"]
PART_TYPES = ["SMALL", "MEDIUM", "PROMO", "LARGE", "ECONOMY", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key "
    "query a scan batch"
).split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
N_DOC_SOURCES = 20
DUP_FRACTION = 0.05


def _days(rng: np.random.Generator, start: dt.date, span: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def base_relational() -> dict[str, pa.Table]:
    """The seed-independent base of the relational tables."""
    rng = np.random.default_rng(BASE_SEED)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    ck = np.arange(N_CUSTOMER, dtype=np.int64)
    t["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": rng.integers(0, 25, N_CUSTOMER).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, N_CUSTOMER)],
    })
    sk = np.arange(N_SUPPLIER, dtype=np.int64)
    t["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": rng.integers(0, 25, N_SUPPLIER).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER),
    })
    pk = np.arange(N_PART, dtype=np.int64)
    adj = np.array(PART_ADJ)[rng.integers(0, 8, N_PART)]
    noun = np.array(PART_NOUN)[rng.integers(0, 8, N_PART)]
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, N_PART)],
        "p_size": rng.integers(1, 51, N_PART).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
    })
    ok = np.arange(N_ORDERS, dtype=np.int64)
    t["orders"] = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, N_ORDERS)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, N_ORDERS),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), 2404, N_ORDERS),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, N_ORDERS)],
    })
    n = N_LINEITEM
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, N_ORDERS, n).astype(np.int64),
        "l_partkey": rng.integers(0, N_PART, n).astype(np.int64),
        "l_suppkey": rng.integers(0, N_SUPPLIER, n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), 2498, n),
    })
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, N_EVENTS))
    t["events"] = pa.table({
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": np.datetime64(dt.datetime(2024, 1, 1), "us") + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, N_USERS, N_EVENTS).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, N_EVENTS)],
        "value": np.round(rng.exponential(50.0, N_EVENTS), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
    })
    return t


def documents(seed: int, k: int) -> pa.Table:
    """K copies of the document corpus, every copy with fresh text.

    About 5% of documents are near-duplicates: a prefix of an earlier
    document of the same copy plus the token ``dup`` (the shape the
    test warehouses' corpus has)."""
    rng = np.random.default_rng([seed, 1])
    ids, texts, langs, sources = [], [], [], []
    for i in range(k):
        copy_texts: list[str] = []
        for d in range(N_DOCUMENTS):
            if d > 0 and rng.random() < DUP_FRACTION:
                words = copy_texts[int(rng.integers(0, d))].split(" ")
                cut = int(rng.integers(min(10, len(words)), len(words) + 1))
                text = " ".join(words[:cut] + ["dup"])
            else:
                n_words = int(rng.integers(10, 101))
                text = " ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB), n_words)])
            copy_texts.append(text)
            ids.append(d + i * STRIDES["doc_id"])
            langs.append(LANGS[int(rng.choice(5, p=LANG_P))])
            sources.append(f"src{d % N_DOC_SOURCES}")
        texts.extend(copy_texts)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": langs,
        "source": sources,
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })


def embeddings(seed: int, k: int) -> pa.Table:
    """K copies of unit-norm 64-dim float vectors, fresh per copy."""
    rng = np.random.default_rng([seed, 2])
    n = N_EMBEDDINGS * k
    vecs = rng.standard_normal((n, EMB_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    ids = (np.arange(N_EMBEDDINGS)[None, :] + STRIDES["vec_id"] * np.arange(k)[:, None]).ravel()
    return pa.table({
        "vec_id": ids.astype(np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32),
    })


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=ROW_GROUP)


def _replicate(con: duckdb.DuckDBPyConnection, src: str, dst: str, k: int) -> None:
    cols = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM '{src}'").fetchall()]
    proj = ", ".join(
        f"{c} + i * {STRIDES[c]} AS {c}" if c in STRIDES else c for c in cols
    )
    # single-threaded scan, so row_number() follows file order and the
    # output bytes are a pure function of the input
    con.execute(
        f"COPY (SELECT {proj} FROM "
        f"(SELECT *, row_number() OVER () AS rn_ FROM '{src}') b, range({k}) g(i) "
        f"ORDER BY i, rn_) "
        f"TO '{dst}' (FORMAT PARQUET, ROW_GROUP_SIZE {ROW_GROUP})"
    )


def build_warehouse(out: str, seed: int, k: int) -> None:
    """Write the (seed, K) warehouse tables to ``out``."""
    base = os.path.join(out, "_base")
    os.makedirs(base)
    con = duckdb.connect()
    con.execute("SET threads = 1")
    try:
        for name, table in base_relational().items():
            src = os.path.join(base, f"{name}.parquet")
            _write(table, src)
            dst = os.path.join(out, f"{name}.parquet")
            if name in ("region", "nation"):
                shutil.copyfile(src, dst)
            else:
                _replicate(con, src, dst, k)
    finally:
        con.close()
    shutil.rmtree(base)
    _write(documents(seed, k), os.path.join(out, "documents.parquet"))
    _write(embeddings(seed, k), os.path.join(out, "embeddings.parquet"))


def cached_warehouse(cache: str, seed: int, k: int, oracles: dict[str, str]) -> tuple[str, dict]:
    """The (seed, K) warehouse under ``cache`` and the oracle digests of
    ``oracles`` on it, built on first use. The build goes to a scratch
    directory that is renamed into place after the sentinel is
    written, so a build cut short is never mistaken for a complete one."""
    out = os.path.join(cache, f"warehouse-s{seed}-k{k}")
    if not os.path.isfile(os.path.join(out, SENTINEL)):
        partial = out + ".partial"
        for d in (out, partial):
            shutil.rmtree(d, ignore_errors=True)
        os.makedirs(partial)
        build_warehouse(partial, seed, k)
        digests = oracle_digests(partial, TABLES, oracles)
        with open(os.path.join(partial, ORACLE_FILE), "w") as fh:
            json.dump(digests, fh)
        with open(os.path.join(partial, SENTINEL), "w") as fh:
            fh.write(f"seed={seed} k={k}\n")
        os.replace(partial, out)
    with open(os.path.join(out, ORACLE_FILE)) as fh:
        digests = json.load(fh)
    missing = sorted(set(oracles) - set(digests))
    if missing:
        raise RuntimeError(f"cached oracle lacks {missing}; delete {out} to rebuild")
    return out, digests
