"""Deterministic synthetic tables for the benchmark.

Writes the ten parquet tables the query catalog reads (``agrobr_spark.io.
TABLES``): a TPC-H-like star schema, an ``events`` click stream, a
``documents`` text corpus with planted near-duplicates and an
``embeddings`` table of unit vectors. Row counts follow the catalog's
scale-factor convention (lineitem ~ 6M x sf); value ranges follow the
shapes the catalog's filters and oracles expect (order dates 1995-2001,
events in January 2024, a 30-word document vocabulary).

The tables depend only on ``sf`` and a fixed generator seed, so every
run of the benchmark reads the same bytes; the workload seed permutes
op order instead (see ``run.py``).
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_SEED = 42
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
EMB_DIM = 64
_DAY_US = 86_400_000_000


def _ts(days_since_epoch: np.ndarray) -> pa.Array:
    return pa.array(days_since_epoch.astype("int64") * _DAY_US, pa.timestamp("us"))


def _day(y: int, m: int, d: int) -> int:
    return (dt.date(y, m, d) - dt.date(1970, 1, 1)).days


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(GEN_SEED)
    n_cust = max(1, int(150_000 * sf))
    n_supp = max(1, int(10_000 * sf))
    n_part = max(1, int(200_000 * sf))
    n_ord = max(1, int(1_500_000 * sf))
    n_ev = max(1, int(1_000_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    n_users = max(1, int(15_000 * sf))
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
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
            rng.integers(0, 25, n_part)
        ],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    })

    o_day = rng.integers(_day(1995, 1, 1), _day(2001, 8, 1) + 1, n_ord)
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(o_day),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })

    # lines are not nested in orders: each line draws its order key, line
    # number and ship date (an order date plus 1-95 days) independently
    n_li = max(1, int(6_000_000 * sf))
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(rng.integers(_day(1995, 1, 1), _day(2001, 8, 1) + 1, n_li)
                          + rng.integers(1, 96, n_li)),
    })

    start_us = _day(2024, 1, 1) * _DAY_US
    ev_us = np.sort(rng.integers(start_us, start_us + 30 * _DAY_US, n_ev))
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": pa.array(ev_us, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })

    vocab = np.array(VOCAB)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), int(n))])
        for n in rng.integers(10, 101, n_docs)
    ]
    # planted near-duplicates: 5% of the documents are an earlier text
    # plus one marker token
    near = rng.choice(np.arange(1, n_docs), n_docs // 20, replace=False)
    for i in near:
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    out["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })

    vecs = rng.standard_normal((n_emb, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype="int64"),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })
    return out


def ensure(out_dir: str, sf: float) -> None:
    """Write the tables under ``out_dir`` unless a complete copy is there.
    The copy appears atomically (staged directory, then rename), so an
    interrupted run never leaves a partial table set behind."""
    if os.path.exists(os.path.join(out_dir, "_SUCCESS")):
        return
    stage = f"{out_dir}.tmp{os.getpid()}"
    shutil.rmtree(stage, ignore_errors=True)
    os.makedirs(stage)
    for name, tbl in tables(sf).items():
        pq.write_table(tbl, os.path.join(stage, f"{name}.parquet"))
    open(os.path.join(stage, "_SUCCESS"), "w").close()
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(os.path.dirname(out_dir) or ".", exist_ok=True)
    os.rename(stage, out_dir)

