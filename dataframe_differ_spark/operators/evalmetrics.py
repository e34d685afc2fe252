"""Parametric evaluation-metric operators over arbitrary DataFrames.

Round-6 extraction (continuing the dedup/similarity/graph/stats/
timeseries pattern): the eval family — previously fixture-bound
``queries()`` closures wired to the testdata retrieval/classifier
fixtures (queries/pipelineops.py, textops.py, vectors.py, statsops.py,
scaleops.py) — as a reusable library a pipeline owner can point at their
OWN scores and retrieval runs:

    from dataframe_differ_spark.operators.evalmetrics import auc_score
    roc = auc_score(scored, score_col="filter_score", label_col="is_good")

Design rules shared by every operator here:

- **Schema-agnostic**: column names are parameters; internals use
  ``_ev_`` prefixed temporaries and refuse colliding inputs; outputs have
  fixed documented names. Final ratios are UNROUNDED doubles — cosmetic
  rounding belongs to bindings.
- **Exact accumulation, no data sort**: AUC histogramizes the score and
  derives the tie-corrected rank-sum from the distinct-score spine via a
  broadcast triangle join (all BIGINT — no global window, no sort of the
  corpus); calibration/NDCG/MRR accumulate pre-quantized DECIMAL terms
  (order-free cross-engine); recall/pair-PR are pure BIGINT counts until
  one final division.
- **Scale shapes**: one corpus scan + bounded-spine reductions (AUC,
  calibration); the retrieval metrics join two per-query top-k frames —
  their cost is whatever produced the runs.

The registered queries (``eval_auc_score``, ``eval_calibration_bins``,
``eval_retrieval_recall``, ``eval_ndcg_retrieval``,
``eval_mrr_retrieval``, ``eval_dedup_pr``) are thin fixture bindings over
these functions; their DuckDB oracles and the golden corpus pin the
operators' semantics release over release.
"""

from __future__ import annotations

from functools import reduce
from operator import and_
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "auc_score",
    "pr_auc",
    "calibration_bins",
    "retrieval_recall",
    "ndcg_at_k",
    "mrr",
    "pairs_pr",
]


def _check_reserved(df: DataFrame, prefix: str = "_ev_") -> None:
    for c in df.columns:
        if c.startswith(prefix):
            raise ValueError(f"input column {c!r} collides with {prefix} internals")


def _score_hist(df: DataFrame, score_col: str, label_col: str) -> DataFrame:
    """Per distinct score ``_ev_s``: rows ``_ev_ns`` and positives ``_ev_ps``."""
    _check_reserved(df)
    sc = df.select(
        F.col(score_col).alias("_ev_s"),
        F.when(F.col(label_col).cast("boolean"), 1).otherwise(0).alias("_ev_y"),
    )
    # The histogram feeds several plan branches (spine, cumulative join,
    # totals); without a lineage cut each branch re-scans the scored
    # corpus to rebuild it (measured round 11, guide §3.3 / §5
    # localCheckpoint). It is one row per distinct score — tiny.
    return sc.groupBy("_ev_s").agg(
        F.count(F.lit(1)).alias("_ev_ns"), F.sum("_ev_y").alias("_ev_ps")
    ).localCheckpoint(eager=False)


def auc_score(df: DataFrame, score_col: str, label_col: str) -> DataFrame:
    """Exact tie-corrected ROC-AUC (Mann-Whitney U form) → one row
    ``(n, n_pos, n_neg, auc, gini)`` (auc/gini unrounded doubles).

    ``label_col`` is boolean (or 0/1); ``score_col`` any orderable value
    with BOUNDED distinct cardinality (an integer feature, a quantized
    probability) — the score is histogrammed (one map-side-combinable
    groupBy) and the mid-rank sum comes from the distinct-score spine via
    a broadcast triangle join: 2·R_pos = Σ_s p_s·(2·cum_below + n_s + 1),
    all BIGINT. No row ranking, no global window, no sort of the data;
    the corpus is touched once. AUC = (2R_pos − n_pos(n_pos+1)) /
    (2·n_pos·n_neg), gini = 2·auc − 1.
    """
    hist = _score_hist(df, score_col, label_col)
    lower = hist.select(
        F.col("_ev_s").alias("_ev_sb"), F.col("_ev_ns").alias("_ev_nsb")
    )
    cum = (
        hist.join(F.broadcast(lower), F.col("_ev_sb") < F.col("_ev_s"), "left")
        .groupBy("_ev_s", "_ev_ns", "_ev_ps")
        .agg(F.coalesce(F.sum("_ev_nsb"), F.lit(0)).cast("long").alias("_ev_cumb"))
    )
    agg = cum.agg(
        F.sum(
            F.col("_ev_ps") * (2 * F.col("_ev_cumb") + F.col("_ev_ns") + 1)
        ).alias("_ev_r2"),
        F.sum("_ev_ps").alias("_ev_npos"),
        F.sum("_ev_ns").alias("_ev_n"),
    )
    num = (F.col("_ev_r2") - F.col("_ev_npos") * (F.col("_ev_npos") + 1)).cast(
        "double"
    )
    den = (2 * F.col("_ev_npos") * (F.col("_ev_n") - F.col("_ev_npos"))).cast(
        "double"
    )
    return agg.select(
        F.col("_ev_n").alias("n"),
        F.col("_ev_npos").alias("n_pos"),
        (F.col("_ev_n") - F.col("_ev_npos")).alias("n_neg"),
        (num / den).alias("auc"),
        (F.lit(2.0) * (num / den) - F.lit(1.0)).alias("gini"),
    )


def pr_auc(df: DataFrame, score_col: str, label_col: str) -> DataFrame:
    """Exact average precision (step-wise PR-AUC, the sklearn
    ``average_precision_score`` definition with ties grouped) → one row
    ``(n, n_pos, avg_precision, best_f1)``.

    The class-imbalance-honest companion to :func:`auc_score` (ROC-AUC
    flatters a filter when negatives dominate; AP weights by the
    positive class). Same histogram device: per-distinct-score (n_s,
    p_s) counts, DESCENDING cumulatives from a broadcast triangle join
    (``s' ≥ s``), AP = Σ_s (p_s/n_pos)·(cumP_s/cumN_s) where every
    ratio is a division of identical BIGINTs on any engine, and the
    spine-sized float sum folds in sorted score order (the ``anova_f``
    order-free device). ``best_f1`` is the max 9-dp-rounded F1 over the
    threshold spine (max is order-free). No row ranking, no global
    window; the corpus is touched once.
    """
    hist = _score_hist(df, score_col, label_col)
    upper = hist.select(
        F.col("_ev_s").alias("_ev_sb"),
        F.col("_ev_ns").alias("_ev_nsb"),
        F.col("_ev_ps").alias("_ev_psb"),
    )
    cum = (
        hist.join(F.broadcast(upper), F.col("_ev_sb") >= F.col("_ev_s"))
        .groupBy("_ev_s", "_ev_ns", "_ev_ps")
        .agg(
            F.sum("_ev_nsb").cast("long").alias("_ev_cumn"),
            F.sum("_ev_psb").cast("long").alias("_ev_cump"),
        )
    )
    tot = hist.agg(
        F.sum("_ev_ns").cast("long").alias("_ev_n"),
        F.sum("_ev_ps").cast("long").alias("_ev_npos"),
    )
    prec = F.col("_ev_cump").cast("double") / F.col("_ev_cumn")
    rec = F.col("_ev_cump").cast("double") / F.col("_ev_npos")
    per = cum.crossJoin(F.broadcast(tot)).select(
        "_ev_s",
        "_ev_n",
        "_ev_npos",
        (
            (F.col("_ev_ps").cast("double") / F.col("_ev_npos")) * prec
        ).alias("_ev_c"),
        F.when(
            F.col("_ev_cump") > 0,
            F.round(2.0 * prec * rec / (prec + rec), 9),
        )
        .otherwise(F.lit(0.0))
        .alias("_ev_f1"),
    )
    return per.groupBy("_ev_n", "_ev_npos").agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("_ev_s", "_ev_c"))),
            F.lit(0.0),
            lambda acc, x: acc + x["_ev_c"],
        ).alias("avg_precision"),
        F.max("_ev_f1").alias("best_f1"),
    ).select(
        F.col("_ev_n").alias("n"),
        F.col("_ev_npos").alias("n_pos"),
        "avg_precision",
        "best_f1",
    )


def calibration_bins(
    df: DataFrame,
    score_col: str,
    label_col: str,
    *,
    n_bins: int = 10,
    score_decimals: int = 6,
) -> DataFrame:
    """Reliability table + expected calibration error → per-bin rows
    ``(bin, n, frac_pos, mean_pred, gap, ece)`` (ratios unrounded).

    ``score_col`` is a predicted probability in [0, 1], ALREADY quantized
    to ≤ ``score_decimals`` decimals (quantized scores are exactly
    representable as DECIMAL, so per-bin score sums are order-free and
    engine-portable); ``label_col`` boolean/0-1. Equal-width bins with
    the top edge folded into the last bin; ECE is the count-weighted mean
    absolute gap Σ_b |Σscore_b − pos_b| / N — exact integer/decimal
    arithmetic until the final divisions. One corpus scan, one
    ``n_bins``-row shuffle, a 1-row broadcast.
    """
    _check_reserved(df)
    qd_t = f"decimal(20,{score_decimals})"
    binned = df.select(
        F.least(F.floor(F.col(score_col) * n_bins), F.lit(n_bins - 1))
        .cast("int")
        .alias("bin"),
        F.col(score_col).cast(qd_t).alias("_ev_qd"),
        F.when(F.col(label_col).cast("boolean"), 1).otherwise(0).alias("_ev_y"),
    )
    # ≤ n_bins rows, two consumers (ECE total + final select): cut the
    # lineage so the corpus scan behind the binning runs once.
    grp = binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("_ev_y").alias("_ev_p"),
        F.sum("_ev_qd").alias("_ev_sp"),
    ).localCheckpoint(eager=False)
    gap_dec = F.abs(F.col("_ev_sp") - F.col("_ev_p").cast(qd_t))
    tot = grp.agg(
        F.sum("n").alias("_ev_nt"), F.sum(gap_dec).alias("_ev_gap_sum")
    )
    return grp.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n",
        (F.col("_ev_p").cast("double") / F.col("n")).alias("frac_pos"),
        (F.col("_ev_sp").cast("double") / F.col("n")).alias("mean_pred"),
        (gap_dec.cast("double") / F.col("n")).alias("gap"),
        (F.col("_ev_gap_sum").cast("double") / F.col("_ev_nt")).alias("ece"),
    )


def retrieval_recall(
    truth: DataFrame,
    results: DataFrame,
    query_col: str,
    item_col: str,
) -> DataFrame:
    """Recall@k of a retrieval run against per-query ground truth →
    per-query rows ``(query, n_exact, n_hit, recall_at_k, macro_recall)``
    (ratios unrounded; the output query column keeps the input name).

    ``truth``/``results`` hold (query, item) pairs — the true top-k and
    the run's returned items. Pure BIGINT counts until the final
    divisions; when every query contributes the same k, macro_recall
    equals total_hits / total_truth (the micro form), which is how it is
    computed. Cost is a join of two per-query top-k frames.
    """
    _check_reserved(truth)
    _check_reserved(results)
    ex = truth.select(F.col(query_col).alias("_ev_q"), F.col(item_col).alias("_ev_i"))
    ap = results.select(
        F.col(query_col).alias("_ev_q"), F.col(item_col).alias("_ev_i")
    ).withColumn("_ev_hit", F.lit(1))
    # Per-query rows, two consumers (macro total + final select): cut the
    # lineage so the truth/run frames (often whole registered queries)
    # execute once instead of once per branch (measured round 11).
    per = (
        ex.join(ap, ["_ev_q", "_ev_i"], "left")
        .groupBy("_ev_q")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.coalesce(F.sum("_ev_hit"), F.lit(0)).cast("long").alias("n_hit"),
        )
        .localCheckpoint(eager=False)
    )
    tot = per.agg(F.sum("n_hit").alias("_ev_th"), F.sum("n_exact").alias("_ev_te"))
    return per.crossJoin(F.broadcast(tot)).select(
        F.col("_ev_q").alias(query_col),
        "n_exact",
        "n_hit",
        (F.col("n_hit").cast("double") / F.col("n_exact")).alias("recall_at_k"),
        (F.col("_ev_th").cast("double") / F.col("_ev_te")).alias("macro_recall"),
    )


def ndcg_at_k(
    truth: DataFrame,
    results: DataFrame,
    query_col: str,
    item_col: str,
    rank_col: str,
    *,
    gain_decimals: int = 9,
) -> DataFrame:
    """Binary-relevance NDCG of a ranked retrieval run → per-query rows
    ``(query, n_hits, dcg, idcg, ndcg)`` (doubles unrounded except the
    documented per-gain quantization).

    Relevance = membership in ``truth``; gain at rank r is
    1/log2(r + 1) rounded to ``gain_decimals`` BEFORE DECIMAL summation —
    the engine-portability device: both engines evaluate the same few
    log2 constants and the rounded values sum order-free, so a SQL
    oracle replays DCG bit-exactly. IDCG comes from the truth frame's
    own ``rank_col`` (the ideal ordering it represents).
    """
    _check_reserved(truth)
    _check_reserved(results)
    gain = F.round(F.lit(1.0) / F.log2(F.col("_ev_r") + 1), gain_decimals)
    dec = f"decimal(20,{gain_decimals})"
    # ``truth`` feeds two branches (hit membership + IDCG); it is usually
    # a whole registered top-k query — cut its lineage so it executes
    # once (measured round 11).
    ex = truth.select(
        F.col(query_col).alias("_ev_q"),
        F.col(item_col).alias("_ev_i"),
        F.col(rank_col).alias("_ev_r"),
    ).localCheckpoint(eager=False)
    ap = results.select(
        F.col(query_col).alias("_ev_q"),
        F.col(item_col).alias("_ev_i"),
        F.col(rank_col).alias("_ev_r"),
    )
    hit = ex.select("_ev_q", "_ev_i").withColumn("_ev_hit", F.lit(1))
    g = ap.join(hit, ["_ev_q", "_ev_i"], "left").select(
        "_ev_q",
        F.when(F.col("_ev_hit").isNotNull(), gain).otherwise(0.0).alias("_ev_g"),
    )
    dcg = g.groupBy("_ev_q").agg(
        F.sum(F.when(F.col("_ev_g") > 0, 1).otherwise(0)).alias("n_hits"),
        F.sum(F.col("_ev_g").cast(dec)).cast("double").alias("dcg"),
    )
    idcg = ex.groupBy("_ev_q").agg(
        F.sum(gain.cast(dec)).cast("double").alias("idcg")
    )
    return dcg.join(idcg, "_ev_q").select(
        F.col("_ev_q").alias(query_col),
        "n_hits",
        "dcg",
        "idcg",
        (F.col("dcg") / F.col("idcg")).alias("ndcg"),
    )


def mrr(
    truth: DataFrame,
    results: DataFrame,
    query_col: str,
    item_col: str,
    rank_col: str,
    *,
    rr_decimals: int = 9,
) -> DataFrame:
    """Mean reciprocal rank of the first true hit → per-query rows
    ``(query, first_hit_rank, rr, mrr)``; queries with no hit report
    rank 0 and rr 0.

    rr = 1/min(rank of any truth item in the run), one exact division
    quantized to ``rr_decimals`` so the macro average sums DECIMAL —
    order-free and engine-portable; ``mrr`` (the macro average over ALL
    truth queries, including misses) is broadcast back onto each row.
    """
    _check_reserved(truth)
    _check_reserved(results)
    # ``truth`` feeds two branches (hit join + query spine) and ``per``
    # two more (macro total + final select): without the cuts the two
    # registered top-k queries behind them re-execute per branch — this
    # was 4× sim_topk / 2× sim_topk_lsh in eval_mrr_retrieval's plan
    # (52 Exchanges, measured round 11).
    ex = truth.select(
        F.col(query_col).alias("_ev_q"), F.col(item_col).alias("_ev_i")
    ).localCheckpoint(eager=False)
    ap = results.select(
        F.col(query_col).alias("_ev_q"),
        F.col(item_col).alias("_ev_i"),
        F.col(rank_col).alias("_ev_r"),
    )
    hits = (
        ap.join(ex, ["_ev_q", "_ev_i"])
        .groupBy("_ev_q")
        .agg(F.min("_ev_r").cast("int").alias("_ev_fr"))
    )
    per = (
        ex.select("_ev_q")
        .distinct()
        .join(hits, "_ev_q", "left")
        .select(
            "_ev_q",
            F.coalesce(F.col("_ev_fr"), F.lit(0)).cast("int").alias(
                "first_hit_rank"
            ),
            F.when(F.col("_ev_fr").isNull(), 0.0)
            .otherwise(F.round(F.lit(1.0) / F.col("_ev_fr"), rr_decimals))
            .alias("rr"),
        )
    )
    dec = f"decimal(20,{rr_decimals})"
    tot = per.agg(
        (F.sum(F.col("rr").cast(dec)).cast("double") / F.count(F.lit(1))).alias(
            "mrr"
        )
    )
    return per.crossJoin(F.broadcast(tot)).select(
        F.col("_ev_q").alias(query_col), "first_hit_rank", "rr", "mrr"
    )


def pairs_pr(
    candidates: DataFrame,
    truth: DataFrame,
    key_cols: Sequence[str],
) -> DataFrame:
    """Precision/recall/F1 of a candidate pair set against ground truth →
    one row ``(n_truth, n_cand, tp, fp, fn, precision, recall, f1)``
    (ratios unrounded).

    The dedup/blocking-quality scorecard: ``candidates`` and ``truth``
    hold canonical pair keys (e.g. doc_a < doc_b). Both sides are tagged,
    unioned and counted per key in ONE aggregate (``nt`` truth rows,
    ``nc`` candidate rows); a global sum then gives n_truth = Σnt,
    n_cand = Σnc and tp = Σ nt·nc over keys with no NULL part — exactly
    the row count of the inner equi-join, duplicate pairs included, with
    each side scanned once. Every sum is coalesced to 0, so an empty side
    scores 0, not NULL. F1 = 2pr/(p+r) collapses algebraically to
    2·tp/(n_cand + n_truth) — pure BIGINT counts, three final divisions.
    """
    _check_reserved(candidates)
    _check_reserved(truth)
    keys = list(key_cols)
    side = F.col("_ev_t")
    per_key = (
        truth.select(*keys, F.lit(True).alias("_ev_t"))
        .unionByName(candidates.select(*keys, F.lit(False).alias("_ev_t")))
        .groupBy(*keys)
        .agg(
            F.count_if(side).alias("_ev_nt"),
            F.count_if(~side).alias("_ev_nc"),
        )
    )
    joinable = reduce(and_, (F.col(k).isNotNull() for k in keys), F.lit(True))
    cnt = per_key.agg(
        F.coalesce(F.sum("_ev_nt"), F.lit(0)).alias("n_truth"),
        F.coalesce(F.sum("_ev_nc"), F.lit(0)).alias("n_cand"),
        F.coalesce(
            F.sum(F.when(joinable, F.col("_ev_nt") * F.col("_ev_nc"))),
            F.lit(0),
        ).alias("tp"),
    )
    return cnt.select(
        "n_truth",
        "n_cand",
        "tp",
        (F.col("n_cand") - F.col("tp")).alias("fp"),
        (F.col("n_truth") - F.col("tp")).alias("fn"),
        (F.col("tp").cast("double") / F.col("n_cand")).alias("precision"),
        (F.col("tp").cast("double") / F.col("n_truth")).alias("recall"),
        (
            (2 * F.col("tp")).cast("double")
            / (F.col("n_cand") + F.col("n_truth"))
        ).alias("f1"),
    )
