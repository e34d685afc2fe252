"""Seeded generator of the benchmark corpus.

Writes the ten tables the registry reads (``region`` … ``embeddings``) as
parquet, with the schemas and value domains documented in ``FIXTURES.md``,
at a given scale factor. The same ``(seed, sf)`` always writes the same
bytes of data, so the DuckDB oracle and Spark read identical inputs and a
run can be repeated exactly.

Only numpy and pyarrow are used: generation is part of the benchmark's
set-up, not of the program under test.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PTYPES = ["ECONOMY", "PROMO", "LARGE", "MEDIUM", "STANDARD", "SMALL"]
_PADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PNOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.42, 0.145, 0.145, 0.145, 0.145]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_EMB_DIM = 64


def table_sizes(sf: float) -> dict[str, int]:
    """Row counts per table at scale ``sf`` (``FIXTURES.md`` row-count table)."""
    return {
        "region": 5,
        "nation": 25,
        "supplier": max(10, round(10_000 * sf)),
        "customer": max(150, round(150_000 * sf)),
        "part": max(200, round(200_000 * sf)),
        "orders": max(1_500, round(1_500_000 * sf)),
        "lineitem": max(6_000, round(6_000_000 * sf)),
        "events": max(1_000, round(1_000_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _ts(days_from: str, n: int, rng: np.random.Generator, span_days: int):
    base = np.datetime64(days_from, "D")
    return (base + rng.integers(0, span_days, n).astype("timedelta64[D]")).astype(
        "datetime64[us]"
    )


def _cents(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def build_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """Every corpus table as an in-memory arrow table."""
    rng = np.random.default_rng(seed)
    n = table_sizes(sf)
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )

    ns = n["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(ns, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
            "s_acctbal": _cents(rng.uniform(-999.99, 9999.99, ns)),
        }
    )

    nc = n["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
            "c_acctbal": _cents(rng.uniform(-999.99, 9999.99, nc)),
            "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, nc)],
        }
    )

    npart = n["part"]
    pk = np.arange(npart, dtype=np.int64)
    t["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": np.char.add(
                np.char.add(np.array(_PADJ)[rng.integers(0, 8, npart)], " "),
                np.array(_PNOUN)[rng.integers(0, 8, npart)],
            ),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, npart).astype(str)),
            "p_type": np.array(_PTYPES)[rng.integers(0, 6, npart)],
            "p_size": rng.integers(1, 51, npart).astype(np.int32),
            "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
        }
    )

    no = n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": rng.integers(0, nc, no).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
            "o_totalprice": _cents(rng.uniform(1000.0, 500_000.0, no)),
            "o_orderdate": _ts("1995-01-01", no, rng, 2400),
            "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, no)],
        }
    )

    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
            "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
            "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": _cents(qty * rng.uniform(900.0, 2100.0, nl)),
            "l_discount": np.round(rng.integers(0, 11, nl) * 0.01, 2),
            "l_tax": np.round(rng.integers(0, 9, nl) * 0.01, 2),
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
            "l_shipdate": _ts("1995-01-02", nl, rng, 2500),
        }
    )

    ne = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(rng.integers(0, 30 * 86_400 * 10**6, ne)) + start
    t["events"] = pa.table(
        {
            "event_id": np.arange(ne, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, max(15, round(15_000 * sf)), ne).astype(
                np.int64
            ),
            "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, ne)],
            "value": np.maximum(_cents(rng.exponential(50.0, ne)), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )

    nd = n["documents"]
    lengths = rng.integers(10, 101, nd)
    words = np.array(_VOCAB)[rng.integers(0, len(_VOCAB), int(lengths.sum()))]
    cuts = np.cumsum(lengths)[:-1]
    texts = [" ".join(w) for w in np.split(words, cuts)]
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(nd, dtype=np.int64),
            "text": texts,
            "lang": np.array(_LANGS)[rng.choice(5, nd, p=_LANG_P)],
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
        }
    )

    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0.0, 1.0, (10, _EMB_DIM))
    vecs = centers[labels] + rng.normal(0.0, 1.0, (nv, _EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(nv, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(vecs.ravel(), pa.float32()), _EMB_DIM
            ).cast(pa.list_(pa.float32())),
            "label": labels.astype(np.int32),
        }
    )
    return t


def write_corpus(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table to ``out_dir/<name>.parquet``; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in build_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
