"""Schema-agnostic unit tests for the round-6 parametric eval-metric
operators (operators/evalmetrics.py).

Hand-built frames with arbitrary column names, checked against
independent pure-Python references (rank-based AUC with tie midranks,
brute-force NDCG/MRR/recall, set-algebra pair PR). The fixture-bound
registry queries (eval_auc_score, eval_calibration_bins, ...) keep
pinning exact-value semantics against the DuckDB oracles.
"""

from __future__ import annotations

import math
import random

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row

from dataframe_differ_spark.operators.evalmetrics import (
    auc_score,
    calibration_bins,
    mrr,
    ndcg_at_k,
    pairs_pr,
    retrieval_recall,
)


def _ref_auc(pairs):
    """Tie-corrected AUC = (mean rank of positives - (n_pos+1)/2) / n_neg."""
    vals = sorted(v for v, _ in pairs)
    # midranks
    rank = {}
    i = 0
    while i < len(vals):
        j = i
        while j < len(vals) and vals[j] == vals[i]:
            j += 1
        rank[vals[i]] = (i + 1 + j) / 2
        i = j
    pos = [rank[v] for v, y in pairs if y]
    n_pos, n_neg = len(pos), len(pairs) - len(pos)
    return (sum(pos) - n_pos * (n_pos + 1) / 2) / (n_pos * n_neg)


def test_auc_matches_rank_reference(spark):
    rng = random.Random(17)
    # noisy score with ties: higher score more likely positive
    pairs = []
    for _ in range(500):
        s = rng.randrange(0, 20)
        y = rng.random() < s / 25.0
        pairs.append((s, y))
    df = spark.createDataFrame([Row(fscore=s, good=y) for s, y in pairs])
    got = auc_score(df, "fscore", "good").collect()[0]
    assert got.n == 500
    assert got.n_pos == sum(1 for _, y in pairs if y)
    assert abs(got.auc - _ref_auc(pairs)) < 1e-12
    assert abs(got.gini - (2 * got.auc - 1)) < 1e-12


def test_auc_perfect_and_random(spark):
    perfect = spark.createDataFrame(
        [Row(s=i, y=i >= 50) for i in range(100)]
    )
    assert auc_score(perfect, "s", "y").collect()[0].auc == 1.0
    constant = spark.createDataFrame(
        [Row(s=7, y=i % 2 == 0) for i in range(100)]
    )
    assert auc_score(constant, "s", "y").collect()[0].auc == 0.5


def test_calibration_bins_matches_python(spark):
    rng = random.Random(23)
    rows = []
    for _ in range(400):
        p = round(rng.random(), 6)
        rows.append(Row(prob=p, hit=rng.random() < p))
    df = spark.createDataFrame(rows)
    out = calibration_bins(df, "prob", "hit", n_bins=5).collect()
    per = {}
    for r in rows:
        b = min(int(r.prob * 5), 4)
        per.setdefault(b, []).append(r)
    gap_sum = 0.0
    for b, rs in per.items():
        gap_sum += abs(sum(x.prob for x in rs) - sum(x.hit for x in rs))
    for r in out:
        rs = per[r.bin]
        assert r.n == len(rs)
        assert abs(r.frac_pos - sum(x.hit for x in rs) / len(rs)) < 1e-9
        assert abs(r.mean_pred - sum(x.prob for x in rs) / len(rs)) < 1e-9
        assert abs(r.ece - gap_sum / 400) < 1e-9


def test_retrieval_recall_counts(spark):
    truth = spark.createDataFrame(
        [Row(q=q, d=i) for q in ("a", "b") for i in range(5)]
    )
    # run returns 4/5 for a, 1/5 for b (plus junk not in truth)
    results = spark.createDataFrame(
        [Row(q="a", d=i) for i in (0, 1, 2, 3, 99)]
        + [Row(q="b", d=i) for i in (4, 77, 88)]
    )
    got = {r.q: r for r in retrieval_recall(truth, results, "q", "d").collect()}
    assert got["a"].n_exact == 5 and got["a"].n_hit == 4
    assert got["b"].n_hit == 1
    assert got["a"].recall_at_k == pytest.approx(0.8)
    assert got["a"].macro_recall == pytest.approx(0.5)


def test_ndcg_matches_python(spark):
    truth = spark.createDataFrame(
        [Row(q=1, item=i, pos=r) for r, i in enumerate([10, 11, 12], start=1)]
    )
    results = spark.createDataFrame(
        [Row(q=1, item=i, pos=r) for r, i in enumerate([11, 99, 10], start=1)]
    )
    got = ndcg_at_k(truth, results, "q", "item", "pos").collect()[0]
    g = lambda r: round(1.0 / math.log2(r + 1), 9)  # noqa: E731
    dcg = g(1) + g(3)  # hits at run ranks 1 and 3
    idcg = g(1) + g(2) + g(3)
    assert got.n_hits == 2
    assert abs(got.dcg - dcg) < 1e-9
    assert abs(got.idcg - idcg) < 1e-9
    assert abs(got.ndcg - dcg / idcg) < 1e-9


def test_mrr_with_miss(spark):
    truth = spark.createDataFrame(
        [Row(q=q, item=i, r=k) for q in (1, 2) for k, i in enumerate((5, 6), 1)]
    )
    # q1 first hit at rank 3; q2 has no hits
    results = spark.createDataFrame(
        [Row(q=1, item=i, r=k) for k, i in enumerate((7, 8, 6), 1)]
        + [Row(q=2, item=9, r=1)]
    )
    got = {r.q: r for r in mrr(truth, results, "q", "item", "r").collect()}
    assert got[1].first_hit_rank == 3 and got[1].rr == pytest.approx(1 / 3, abs=1e-9)
    assert got[2].first_hit_rank == 0 and got[2].rr == 0.0
    assert got[1].mrr == pytest.approx((round(1 / 3, 9) + 0) / 2, abs=1e-12)


def test_pairs_pr(spark):
    truth = spark.createDataFrame(
        [Row(a=a, b=b) for a, b in [(1, 2), (3, 4), (5, 6), (7, 8)]]
    )
    cand = spark.createDataFrame(
        [Row(a=a, b=b) for a, b in [(1, 2), (3, 4), (9, 10)]]
    )
    got = pairs_pr(cand, truth, ["a", "b"]).collect()[0]
    assert (got.n_truth, got.n_cand, got.tp, got.fp, got.fn) == (4, 3, 2, 1, 2)
    assert got.precision == pytest.approx(2 / 3)
    assert got.recall == pytest.approx(0.5)
    assert got.f1 == pytest.approx(2 * 2 / (3 + 4))


# Pair keys from a tiny domain with NULL parts, so duplicates, NULL keys and
# matches all turn up; an empty side is in the domain too.
_pair_key = st.one_of(st.none(), st.integers(min_value=0, max_value=2))
_pairs = st.lists(st.tuples(_pair_key, _pair_key), max_size=8)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(truth=_pairs, cand=_pairs)
@example(truth=[], cand=[(1, 2)])
@example(truth=[(1, 2), (1, 2), (None, 2)], cand=[(1, 2), (1, 2), (None, 2)])
def test_pairs_pr_matches_inner_join_reference(spark, truth, cand):
    # Reference: the row counts of each side and the row count of the
    # inner equi-join (NULL never matches, duplicates multiply).
    schema = "a int, b int"
    got = pairs_pr(
        spark.createDataFrame(cand, schema),
        spark.createDataFrame(truth, schema),
        ["a", "b"],
    ).collect()[0]
    tp = sum(t == c and None not in t for t in truth for c in cand)
    assert (got.n_truth, got.n_cand, got.tp) == (len(truth), len(cand), tp)
    assert (got.fp, got.fn) == (len(cand) - tp, len(truth) - tp)


def test_reserved_prefix_rejected(spark):
    df = spark.createDataFrame([Row(_ev_s=1, y=True)])
    with pytest.raises(ValueError, match="_ev_"):
        auc_score(df, "_ev_s", "y")
