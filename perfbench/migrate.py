"""Inputs and ground truth for the ``diff-migrate`` workload.

A migration check diffs a table against its migrated copy. ``make_pairs``
builds, from a seed, a ``lineitem``-shaped pair (composite key
``l_orderkey, l_linenumber``) and an ``orders``-shaped pair (key
``o_orderkey``), each with the columns under validation: four and three.
Few columns, because ``report()``'s Catalyst planning time grows steeply
with their number (see ``DESIGN.md``). The right-hand copy carries seeded deletes, inserts,
exact value changes, float drift inside and outside the tolerance ``RTOL``
and NULLs. Edits fall in one window of the key range, the way a faulty
migration batch touches some partitions and not others.

``truth`` computes, with pandas, what each diff call must return: status
counts (exact and tolerant), per-column mismatch counts among matched keys
and the changed keys in key order.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

RTOL = 1e-6
LI_KEYS = ["l_orderkey", "l_linenumber"]
O_KEYS = ["o_orderkey"]


def _lineitem(rng: np.random.Generator, n_orders: int) -> pd.DataFrame:
    lines = rng.integers(1, 8, n_orders)
    ok = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    ln = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    n = len(ok)
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pd.DataFrame(
        {
            "l_orderkey": ok,
            "l_linenumber": ln,
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n), 2),
            "l_discount": np.round(rng.integers(0, 11, n) * 0.01, 2),
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        }
    )


def _orders(rng: np.random.Generator, n_orders: int) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "o_orderkey": np.arange(n_orders, dtype=np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
            "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_orders), 2),
            "o_orderpriority": np.array(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
            )[rng.integers(0, 5, n_orders)],
        }
    )


def _pick(rng, pool: np.ndarray, share: float) -> np.ndarray:
    return rng.choice(pool, max(1, int(len(pool) * share)), replace=False)


def _migrate(
    rng: np.random.Generator,
    left: pd.DataFrame,
    key: str,
    n_orders: int,
    edits: dict[str, str],
) -> pd.DataFrame:
    """Right-hand copy of ``left`` with edits inside one key window.

    ``edits`` maps a column to its edit kind: ``"bump"`` (+1), ``"flip"``
    (another category), ``"drift_in"`` (relative drift inside ``RTOL``) or
    ``"null"``. Each kind touches 5% of the window's rows; 4% of them are
    deleted and as many re-inserted under new keys.
    """
    right = left.copy()
    lo = int(rng.integers(0, n_orders * 3 // 4))
    window = np.flatnonzero(
        (left[key].to_numpy() >= lo) & (left[key].to_numpy() < lo + n_orders // 5)
    )
    for col, kind in edits.items():
        rows = _pick(rng, window, 0.05)
        vals = right[col].to_numpy().copy() if kind != "null" else None
        if kind == "bump":
            vals[rows] += 1
        elif kind == "flip":
            cats = np.unique(left[col].to_numpy())
            cur = np.searchsorted(cats, vals[rows])
            vals[rows] = cats[(cur + 1 + rng.integers(0, len(cats) - 1, len(rows))) % len(cats)]
        elif kind == "drift_in":
            vals[rows] *= 1 + RTOL / 100
        elif kind == "null":
            right[col] = right[col].astype(object if right[col].dtype == object else "Float64")
            right.loc[rows, col] = None
            continue
        right[col] = vals
    deleted = _pick(rng, window, 0.04)
    inserted = left.iloc[_pick(rng, window, 0.04)].copy()
    inserted[key] = inserted[key] + n_orders
    right = pd.concat([right.drop(index=deleted), inserted], ignore_index=True)
    return right


@dataclass
class Pair:
    name: str
    keys: list[str]
    left_path: str
    right_path: str
    left: pd.DataFrame
    right: pd.DataFrame


def make_pairs(out_dir: str, seed: int, n_orders: int) -> dict[str, Pair]:
    """Write both seeded pairs as parquet under ``out_dir``."""
    rng = np.random.default_rng([seed, 0x5EED])
    li = _lineitem(rng, n_orders)
    li_r = _migrate(
        rng,
        li,
        "l_orderkey",
        n_orders,
        {
            "l_quantity": "bump",
            "l_returnflag": "flip",
            "l_extendedprice": "drift_in",
            "l_discount": "null",
        },
    )
    od = _orders(rng, n_orders)
    od_r = _migrate(
        rng,
        od,
        "o_orderkey",
        n_orders,
        {
            "o_totalprice": "drift_in",
            "o_orderstatus": "flip",
            "o_orderpriority": "null",
        },
    )
    # Add out-of-tolerance drift to o_totalprice on top of the in-tolerance
    # drift, on other rows of the same window.
    matched = od_r.index[od_r["o_orderkey"] < n_orders]
    rows = _pick(rng, matched.to_numpy()[: len(matched) // 3], 0.02)
    od_r.loc[rows, "o_totalprice"] = od_r.loc[rows, "o_totalprice"] * (1 + RTOL * 1000)

    os.makedirs(out_dir, exist_ok=True)
    pairs = {}
    for name, keys, left, right in (
        ("lineitem", LI_KEYS, li, li_r),
        ("orders", O_KEYS, od, od_r),
    ):
        paths = []
        for side, df in (("left", left), ("right", right)):
            path = os.path.join(out_dir, f"{name}_{side}.parquet")
            pq.write_table(
                pa.Table.from_pandas(df, preserve_index=False, schema=_schema(left)),
                path,
            )
            paths.append(path)
        pairs[name] = Pair(name, keys, paths[0], paths[1], left, right)
    return pairs


def _schema(left: pd.DataFrame) -> pa.Schema:
    """The left side's arrow schema, so NULL-carrying right columns keep it."""
    return pa.Schema.from_pandas(left, preserve_index=False).remove_metadata()


# --------------------------------------------------------------- truth


def _neq(a: pd.Series, b: pd.Series, rtol: float = 0.0) -> np.ndarray:
    """Null-safe "values differ", optionally with relative tolerance."""
    an, bn = a.isna().to_numpy(), b.isna().to_numpy()
    both = ~an & ~bn
    eq = np.zeros(len(a), dtype=bool)
    if rtol and pd.api.types.is_numeric_dtype(a.dtype):
        av = a.to_numpy(dtype=float, na_value=np.nan)[both]
        bv = b.to_numpy(dtype=float, na_value=np.nan)[both]
        eq[both] = np.abs(av - bv) <= rtol * np.abs(bv)
    else:
        eq[both] = _values(a)[both] == _values(b)[both]
    return ~(eq | (an & bn))


def _values(s: pd.Series) -> np.ndarray:
    if pd.api.types.is_float_dtype(s.dtype):
        return s.to_numpy(dtype=float, na_value=np.nan)
    return s.to_numpy()


@dataclass
class Truth:
    status: dict[str, int]  # exact comparison
    status_tol: dict[str, int]  # relative tolerance RTOL
    mismatch: dict[str, tuple[int, int, int]]  # col -> (equal, different, null_mismatch)
    changed_keys_tol: list[tuple]  # tolerant 'C' keys, sorted


def truth(pair: Pair) -> Truth:
    left, right, keys = pair.left, pair.right, pair.keys
    cols = [c for c in left.columns if c not in keys]
    m = left.merge(right, on=keys, how="outer", suffixes=("_l", "_r"), indicator=True)
    matched = (m["_merge"] == "both").to_numpy()
    ne = {c: _neq(m[f"{c}_l"], m[f"{c}_r"]) for c in cols}
    ne_tol = {c: _neq(m[f"{c}_l"], m[f"{c}_r"], RTOL) for c in cols}

    def statuses(neq: dict[str, np.ndarray]) -> np.ndarray:
        any_ne = np.logical_or.reduce([neq[c] for c in cols])
        st = np.where(any_ne, "C", "N")
        st = np.where(m["_merge"] == "left_only", "D", st)
        return np.where(m["_merge"] == "right_only", "I", st)

    st, st_tol = statuses(ne), statuses(ne_tol)

    def counts(s: np.ndarray) -> dict[str, int]:
        u, c = np.unique(s, return_counts=True)
        return {str(k): int(v) for k, v in zip(u, c)}

    def changed(s: np.ndarray) -> list[tuple]:
        k = m.loc[s == "C", keys].sort_values(keys)
        return [tuple(int(v) for v in row) for row in k.itertuples(index=False)]

    mismatch = {}
    for c in cols:
        mm = m.loc[matched]
        null_mm = int((mm[f"{c}_l"].isna() != mm[f"{c}_r"].isna()).sum())
        diff = int(ne[c][matched].sum())
        mismatch[c] = (int(matched.sum()) - diff, diff, null_mm)

    return Truth(
        status=counts(st),
        status_tol=counts(st_tol),
        mismatch=mismatch,
        changed_keys_tol=changed(st_tol),
    )
