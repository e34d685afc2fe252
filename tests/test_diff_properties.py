"""Property-based diff invariants (SURVEY.md §5.3.2) with hypothesis.

Random small tables (nullable keys, duplicate-free), checking the algebra
of the diff operator rather than specific examples:

- diff(df, df) is all-'N'
- swapping arguments swaps I↔D and preserves C/N
- status counts partition both inputs
- tolerant diff is monotone in atol
- report() states the counts of diff_summary, column_mismatch_stats and
  changed_sample
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

import dataframe_differ_spark.operators.diff_core as D

# One row: (key, string attr, numeric attr) — keys drawn from a small pool
# so left/right overlap; values nullable.
keys = st.integers(min_value=0, max_value=19)
vals = st.one_of(st.none(), st.floats(allow_nan=False, allow_infinity=False,
                                      width=32))
attrs = st.one_of(st.none(), st.sampled_from(["a", "b", "c"]))


@st.composite
def table(draw):
    n = draw(st.integers(min_value=0, max_value=12))
    seen = set()
    rows = []
    for _ in range(n):
        k = draw(keys)
        if k in seen:  # unique keys per side (diff precondition)
            continue
        seen.add(k)
        rows.append((k, draw(attrs), draw(vals)))
    return rows


def _df(spark, rows):
    return spark.createDataFrame(rows, "k int, s string, v float")


hyp = settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)


@given(rows=table())
@hyp
def test_diff_self_is_identity(spark, rows):
    df = _df(spark, rows)
    d = D.diff(df, df, ["k"])
    assert d.filter("diff_status <> 'N'").count() == 0
    assert d.count() == len(rows)


@given(left=table(), right=table())
@hyp
def test_diff_swap_and_partition(spark, left, right):
    ldf, rdf = _df(spark, left), _df(spark, right)
    fwd = {r["k"]: r["diff_status"] for r in D.diff(ldf, rdf, ["k"]).collect()}
    rev = {r["k"]: r["diff_status"] for r in D.diff(rdf, ldf, ["k"]).collect()}
    swap = {"I": "D", "D": "I", "C": "C", "N": "N"}
    assert rev == {k: swap[v] for k, v in fwd.items()}
    counts = {"N": 0, "C": 0, "I": 0, "D": 0}
    for v in fwd.values():
        counts[v] += 1
    assert counts["N"] + counts["C"] + counts["D"] == len(left)
    assert counts["N"] + counts["C"] + counts["I"] == len(right)


@given(left=table(), right=table(), atol=st.floats(min_value=0, max_value=10))
@hyp
def test_tolerant_monotone(spark, left, right, atol):
    ldf, rdf = _df(spark, left), _df(spark, right)
    strict_c = D.diff(ldf, rdf, ["k"]).filter("diff_status = 'C'").count()
    tol_c = (
        D.diff(ldf, rdf, ["k"], atol=atol).filter("diff_status = 'C'").count()
    )
    assert tol_c <= strict_c


def _report_sections(text):
    lines = text.splitlines()
    counts = {}
    for st, label in (("N", "unchanged"), ("C", "changed"),
                      ("D", "only in left"), ("I", "only in right")):
        line = next(x for x in lines if x.startswith(f"  {label:14s} "))
        counts[st] = int(line.split()[-1])
    start = lines.index("Columns with differences (among matched keys):") + 1
    end = lines.index("", start) if "" in lines[start:] else len(lines)
    col_lines = [x for x in lines[start:end] if x != "  none"]
    sample = [x for x in lines if x.startswith("Sample changed keys")]
    return counts, col_lines, sample


@given(left=table(), right=table(), atol=st.floats(min_value=0, max_value=10))
@hyp
def test_report_agrees_with_summaries(spark, left, right, atol):
    ldf, rdf = _df(spark, left), _df(spark, right)
    counts, col_lines, sample = _report_sections(
        D.report(ldf, rdf, ["k"], sample_n=3, atol=atol)
    )
    summary = {"N": 0, "C": 0, "I": 0, "D": 0}
    for r in D.diff_summary(ldf, rdf, ["k"], atol=atol).collect():
        summary[r["diff_status"]] = r["cnt"]
    assert counts == summary
    stats = D.column_mismatch_stats(ldf, rdf, ["k"], atol=atol)
    # The counts are sums, so they are NULL when no key matched.
    differing = [r for r in stats.collect() if (r["n_different"] or 0) > 0]
    assert col_lines == [
        f"  {r['column_name']}: {r['n_different']} differ"
        f" ({r['n_null_mismatch']} null-mismatch)"
        for r in sorted(differing, key=lambda r: -r["n_different"])
    ]
    keys = [(r["k"],) for r in D.changed_sample(ldf, rdf, ["k"], n=3, atol=atol).collect()]
    assert sample == ([f"Sample changed keys (first 3): {keys}"] if keys else [])


# ---------------------------------------------------------------------------
# FastSS blocking guarantee (the math behind dedup_fuzzy_names)
# ---------------------------------------------------------------------------


def _lev(a: str, b: str) -> int:
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _del_neighborhood(s: str, k: int = 2) -> set[str]:
    out = {s}
    d1 = {s[:i] + s[i + 1:] for i in range(len(s))}
    out |= d1
    if k >= 2:
        for t in d1:
            out |= {t[:i] + t[i + 1:] for i in range(len(t))}
    return out


@given(
    st.text(alphabet="ab0", min_size=0, max_size=8),
    st.text(alphabet="ab0", min_size=0, max_size=8),
)
@settings(max_examples=500, deadline=None)
def test_fastss_deletion_blocking_is_a_superset(a: str, b: str):
    # dedup_fuzzy_names relies on: ed(a,b) <= 2  =>  the <=2-deletion
    # neighborhoods intersect (each edit op removes at most one aligned
    # character from each side). The tiny alphabet maximizes collision and
    # edit-distance variety; the claim must hold for EVERY pair.
    if _lev(a, b) <= 2:
        assert _del_neighborhood(a) & _del_neighborhood(b), (a, b)


def test_morton_interleave_is_bijective_and_bounded():
    """Pure-Python replica of scaleops._Z_SQL: the unrolled bit-interleave
    must be a bijection [0,256)^2 -> [0,65536) — otherwise z-ordering
    would collapse distinct (cust, date) buckets into one file cell."""
    def z(bx, by):
        acc = 0
        for i in range(8):
            acc += ((bx >> i) & 1) * (1 << (2 * i + 1))
            acc += ((by >> i) & 1) * (1 << (2 * i))
        return acc

    seen = set()
    for bx in range(256):
        for by in range(256):
            v = z(bx, by)
            assert 0 <= v < 65536
            seen.add(v)
    assert len(seen) == 65536  # injective over the full domain

    # Locality sanity: adjacent x cells at equal y differ only in x bits.
    assert z(3, 5) != z(5, 3)  # asymmetric by construction
