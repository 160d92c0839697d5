"""Seeded workload inputs, cached by generator content hash and seed.

Two corpora:

* transcripts -- ``tapes_spark.fixtures.write_transcripts`` at a fixed
  conversation count and median turn count; the seed is the fixture
  generator's seed.
* query tables -- the star schema plus ``events``, ``documents`` and
  ``embeddings`` that ``__spark_entry__.queries()`` reads, generated here
  with the row counts, columns, types and value distributions measured
  on the repository's sf0.01 test tables (TESTDATA.md); README.md
  compares the two.

A cache entry is keyed by the sha256 of the generating source files plus
the parameters and seed, so a changed generator never serves a stale
corpus.  Entries are written to a temp name and renamed into place, so an
interrupted run never leaves a half-written corpus behind.  Nothing here
runs inside a timed window.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

QUERY_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def _source_hash(*paths: str) -> str:
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def _cached(cache_dir: str, key: str, build) -> str:
    """Return ``cache_dir/key``, building it with ``build(tmp_path)`` first
    if it is missing."""
    path = os.path.join(cache_dir, key)
    if not os.path.exists(path):
        os.makedirs(cache_dir, exist_ok=True)
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        build(tmp)
        os.replace(tmp, path)
    return path


def transcripts(cache_dir: str, n_convs: int, median_turns: int,
                seed: int) -> str:
    """Path of a directory holding ``transcripts.parquet``."""
    import tapes_spark.fixtures as fx

    key = (f"tx-{_source_hash(fx.__file__)}-{n_convs}x{median_turns}"
           f"-s{seed}")

    def build(tmp: str) -> None:
        os.makedirs(tmp)
        fx.write_transcripts(
            os.path.join(tmp, "transcripts.parquet"),
            n_convs=n_convs, median_turns=median_turns, seed=seed,
        )

    return _cached(cache_dir, key, build)


def query_tables(cache_dir: str, scale: int, seed: int) -> str:
    """Path of a directory with one ``<table>.parquet`` per query table.
    *scale* is the events row count in thousands (10 = sf0.01 sizes)."""
    key = f"qt-{_source_hash(__file__)}-x{scale}-s{seed}"
    return _cached(
        cache_dir, key, lambda tmp: _write_query_tables(tmp, scale, seed)
    )


_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ("en", "en", "en", "zh", "es", "de", "fr")
_EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
_PART_ADJ = ("small", "large", "red", "blue", "hot", "old", "new")
_PART_NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil")
_MKT = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PTYPE = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PRIO = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")


def _ts(base: datetime, seconds: np.ndarray) -> pa.Array:
    us = np.round(seconds * 1e6).astype("int64")
    start = int((base - datetime(1970, 1, 1)).total_seconds() * 1e6)
    return pa.array(start + us, type=pa.timestamp("us"))


def _write_query_tables(out: str, scale: int, seed: int) -> None:
    rng = np.random.default_rng(seed)
    n_events = 1000 * scale
    n_orders = 1500 * scale
    n_lines = 6000 * scale
    n_parts = 200 * scale
    n_cust = 150 * scale
    n_supp = 10 * scale
    n_users = 15 * scale
    n_docs = 50 * scale
    n_vecs = 50 * scale
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(_REGIONS),
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    tables["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": [_MKT[i] for i in rng.integers(0, 5, n_cust)],
    })
    tables["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
    })
    tables["part"] = pa.table({
        "p_partkey": np.arange(n_parts, dtype="int64"),
        "p_name": [
            f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 7, n_parts),
                            rng.integers(0, 7, n_parts))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_parts)],
        "p_type": [_PTYPE[i] for i in rng.integers(0, 6, n_parts)],
        "p_size": pa.array(rng.integers(1, 51, n_parts), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_parts) % 1000) * 0.1, 2),
    })
    order_days = rng.integers(0, 2404, n_orders)
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(n_orders, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_orders),
        "o_orderstatus": [("F", "O", "P")[i]
                          for i in rng.integers(0, 3, n_orders)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_orders), 2),
        "o_orderdate": _ts(datetime(1995, 1, 1), order_days * 86400.0),
        "o_orderpriority": [_PRIO[i] for i in rng.integers(0, 5, n_orders)],
    })
    tables["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_orders, n_lines),
        "l_partkey": rng.integers(0, n_parts, n_lines),
        "l_suppkey": rng.integers(0, n_supp, n_lines),
        "l_linenumber": pa.array(rng.integers(1, 8, n_lines), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_lines).astype("float64"),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_lines), 2),
        "l_discount": rng.integers(0, 11, n_lines) / 100.0,
        "l_tax": rng.integers(0, 9, n_lines) / 100.0,
        "l_returnflag": [("A", "N", "R")[i]
                         for i in rng.integers(0, 3, n_lines)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_lines)],
        "l_shipdate": _ts(datetime(1995, 1, 1),
                          rng.integers(1, 2500, n_lines) * 86400.0),
    })
    gaps = rng.exponential(260.0, n_events)
    tables["events"] = pa.table({
        "event_id": np.arange(n_events, dtype="int64"),
        "ts": _ts(datetime(2024, 1, 1), np.cumsum(gaps)),
        "user_id": rng.integers(0, n_users, n_events),
        "event_type": [_EVENT_TYPES[i]
                       for i in rng.integers(0, 5, n_events)],
        "value": np.round(rng.exponential(50.0, n_events), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    texts = [
        " ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), n_tok))
        for n_tok in rng.integers(10, 100, n_docs)
    ]
    # near-duplicates: 5% of the documents are another one plus 1-2
    # marker tokens
    base = list(texts)
    for i in rng.choice(n_docs, n_docs // 20, replace=False):
        other = (int(i) + int(rng.integers(1, n_docs))) % n_docs
        texts[i] = base[other] + " dup" * int(rng.integers(1, 3))
    tables["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": [_LANGS[i] for i in rng.integers(0, len(_LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })
    # unit-norm vectors and labels drawn independently: the sf0.01 table's
    # per-label mean vectors are as short as those of random vectors
    dim = 64
    labels = rng.integers(0, 10, n_vecs)
    vecs = rng.normal(size=(n_vecs, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype="int64"),
        "embedding": pa.array(list(vecs.astype("float32")),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    os.makedirs(out)
    for name in QUERY_TABLES:
        pq.write_table(tables[name], os.path.join(out, f"{name}.parquet"))
