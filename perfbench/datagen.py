"""Deterministic synthetic tables for the benchmark.

Writes the ten source tables the registry queries read (the TPC-H-ish star
plus ``events``, ``documents`` and ``embeddings``) as single-row-group
parquet files, with the schemas and value domains of the repo's test data.
The same ``(sf, seed)`` always gives byte-identical tables.

Row counts scale with ``sf`` as lineitem = 6M x sf; ``documents`` and
``embeddings`` never drop below 500 rows.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_DAY_US = 86_400 * 1_000_000


def _days(rng, lo: str, hi: str, n: int) -> pa.Array:
    """``n`` midnight timestamps uniform in [lo, hi]."""
    d0 = np.datetime64(lo, "D").astype(np.int64)
    d1 = np.datetime64(hi, "D").astype(np.int64)
    days = rng.integers(d0, d1 + 1, n)
    return pa.array(days * _DAY_US, pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(
        pa.table(cols),
        os.path.join(out_dir, f"{name}.parquet"),
        row_group_size=1 << 30,
    )


def generate(out_dir: str, sf: float, seed: int = 42) -> dict[str, int]:
    """Write every table under ``out_dir``; return rows per table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(100, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_evt = max(100, int(1_000_000 * sf))
    n_user = max(5, int(15_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = [f"{a} {b}" for a in _P_ADJ for b in _P_NOUN]
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.array(names)[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(_P_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 499999.99, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    _write(out_dir, "lineitem", {
        # orderkey drawn with replacement: (l_orderkey, l_linenumber) is
        # not unique, as in the repo's test data
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _money(rng, 900.0, 2100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
    })
    t0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(t0 + rng.integers(0, 30 * _DAY_US, n_evt))
    _write(out_dir, "events", {
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_user, n_evt),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_evt)],
        "value": np.round(rng.exponential(50.0, n_evt), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })
    texts: list[str] = []
    for i in range(n_doc):
        if i >= 10 and rng.random() < 0.1:
            # near-duplicate of an earlier document: one word changed
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = list(np.array(_VOCAB)[
                rng.integers(0, len(_VOCAB), int(rng.integers(10, 101)))
            ])
        texts.append(" ".join(words))
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(5, n_doc, p=_LANG_P)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    centers = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = centers[labels] + rng.normal(0.0, 1.5, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(
        np.float32
    )
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.ravel(), pa.float32()), 64
        ).cast(pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return {
        "customer": n_cust, "supplier": n_supp, "part": n_part,
        "orders": n_ord, "lineitem": n_line, "events": n_evt,
        "documents": n_doc, "embeddings": n_emb,
    }
