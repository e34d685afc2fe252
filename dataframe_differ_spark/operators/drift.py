"""Parametric distribution-drift operators over arbitrary DataFrames.

Round-6 extraction (continuing the round's library pattern): the drift
family — previously fixture-bound ``queries()`` closures
(queries/statsops.py; PSI already lives in ``operators.sketches``) — as
a reusable library:

    from dataframe_differ_spark.operators.drift import ks_test
    d = ks_test(scored, value_col="price", is_base_col="is_last_week")

Design rules shared by every operator here:

- **Schema-agnostic**: column names are parameters; internals use
  ``_dr_`` prefixed temporaries and refuse colliding inputs.
- **Exact integer cores**: the KS max-gap compare is pure BIGINT
  cross-multiplication (|cum_a·n_b − cum_b·n_a|) — no float enters until
  the final division; JSD's libm-tainted ``ln`` terms are rounded to a
  fixed precision and summed as DECIMAL — order-free, so a SQL oracle
  replays the sum bit-exactly.
- **Scale shapes**: one distinct-value (or item) shuffle + the two-phase
  bucketed running sum (``operators.ranks.ranked``) — never a
  single-partition window over the corpus.

The registered queries (``drift_ks_test``, ``drift_js_divergence``) are
thin fixture bindings over these functions; their DuckDB oracles and the
golden corpus pin the semantics. ``drift_psi`` binds
``sketches.psi_bins``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "ks_test",
    "js_divergence",
    "hellinger",
]

def _check_reserved(df: DataFrame, prefix: str = "_dr_") -> None:
    for c in df.columns:
        if c.startswith(prefix):
            raise ValueError(f"input column {c!r} collides with {prefix} internals")


def ks_test(
    df: DataFrame,
    value_col: str,
    is_base_col: str,
    *,
    round_dp: int = 9,
) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov test → one row ``(n_base,
    n_cur, d_num, d_stat, at_value, lambda_stat)``.

    D = max over values of |F_base(x) − F_cur(x)| between the two cohorts
    flagged by boolean ``is_base_col``, computed EXACTLY and distributed:
    per-distinct-value cohort counts cumulate through the two-phase
    bucketed running sum (``ranks.ranked`` — no single-partition window),
    as TWO independent BIGINT running sums in the same pass (round 7:
    the previous base-2³¹ packing of both cohorts into one sum silently
    overflowed past ~2.1e9 TOTAL rows; the two-sum form is exact to
    2^63 rows per cohort with no cliff). The max-gap compare is BIGINT
    cross-multiplication; no
    float until the final D = num/(n_a·n_b). ``at_value`` is the smallest
    value attaining the max. λ = D·√(n_a·n_b/(n_a+n_b)) multiplies the
    ROUNDED D so a replaying oracle agrees bit-wise. One shuffle to
    distinct values, one bucketed rank pass — scan-bound at 100 TB.
    """
    _check_reserved(df)
    from dataframe_differ_spark.operators.ranks import ranked

    g = (
        df.select(F.col(value_col).alias("_dr_v"), F.col(is_base_col).alias("_dr_b"))
        .groupBy("_dr_v")
        .agg(
            F.sum(F.when(F.col("_dr_b"), 1).otherwise(0)).alias("_dr_ca"),
            F.count(F.lit(1)).alias("_dr_ct"),
        )
    )
    kdf = ranked(
        g,
        F.col("_dr_v"),
        ["_dr_v"],
        running_sums=[
            (F.col("_dr_ca"), "_dr_cum_a", "_dr_tot_a"),
            (F.col("_dr_ct"), "_dr_cum_t", "_dr_tot_t"),
        ],
    )
    cum_a = F.col("_dr_cum_a")
    cum_t = F.col("_dr_cum_t")
    n_a = F.col("_dr_tot_a")
    n_t = F.col("_dr_tot_t")
    scored = kdf.select(
        "_dr_v",
        n_a.alias("_dr_na"),
        (n_t - n_a).alias("_dr_nb"),
        F.abs(cum_a * (n_t - n_a) - (cum_t - cum_a) * n_a).alias("_dr_num"),
    ).localCheckpoint(eager=False)
    mx = scored.agg(F.max("_dr_num").alias("d_num"))
    row = (
        scored.crossJoin(F.broadcast(mx))
        .filter(F.col("_dr_num") == F.col("d_num"))
        .groupBy("_dr_na", "_dr_nb", "d_num")
        .agg(F.min("_dr_v").alias("at_value"))
    )
    d_stat = F.round(
        F.col("d_num").cast("double") / (F.col("_dr_na") * F.col("_dr_nb")),
        round_dp,
    )
    return row.select(
        F.col("_dr_na").alias("n_base"),
        F.col("_dr_nb").alias("n_cur"),
        "d_num",
        d_stat.alias("d_stat"),
        "at_value",
        F.round(
            d_stat
            * F.sqrt(
                (F.col("_dr_na") * F.col("_dr_nb")).cast("double")
                / (F.col("_dr_na") + F.col("_dr_nb"))
            ),
            round_dp,
        ).alias("lambda_stat"),
    )


def _cohort_counts(df: DataFrame, item_col: str, is_base_col: str):
    """Per item ``cnt_base``/``cnt_cur`` with the cohort totals
    ``n_base``/``n_cur`` broadcast onto every row, and the share columns
    p = cnt_base/n_base and q = cnt_cur/n_cur."""
    _check_reserved(df)
    per = df.groupBy(F.col(item_col)).agg(
        F.sum(F.when(F.col(is_base_col), 1).otherwise(0)).alias("cnt_base"),
        F.sum(F.when(F.col(is_base_col), 0).otherwise(1)).alias("cnt_cur"),
    )
    tot = per.agg(
        F.sum("cnt_base").alias("n_base"), F.sum("cnt_cur").alias("n_cur")
    )
    p = F.col("cnt_base").cast("double") / F.col("n_base")
    q = F.col("cnt_cur").cast("double") / F.col("n_cur")
    return per.crossJoin(F.broadcast(tot)), p, q


def js_divergence(
    df: DataFrame,
    item_col: str,
    is_base_col: str,
    *,
    contrib_dp: int = 12,
) -> DataFrame:
    """Jensen–Shannon divergence between two cohorts' item distributions
    → one row per item: ``(item, cnt_base, cnt_cur, contrib, jsd,
    vocab_size, n_base, n_cur)`` (item keeps the input column name).

    Input is one row per item OCCURRENCE (e.g. exploded tokens) with a
    boolean cohort flag. One groupBy(item) shuffle with map-side combine
    builds both counts in a single pass; JSD(P‖Q) = ½KL(P‖M) + ½KL(Q‖M)
    accumulates per-item contributions. ``ln`` is libm-tainted, so each
    contribution is rounded to ``contrib_dp`` and summed as
    DECIMAL(38,contrib_dp) — order-free and bit-identical across engines
    (bias ≤ vocab·5·10^-(contrib_dp+1)). ``jsd`` and the corpus totals
    are broadcast back onto every row; take a TakeOrdered top-N of
    ``contrib`` for the diverging-items report.
    """
    counts, p, q = _cohort_counts(df, item_col, is_base_col)
    m = 0.5 * (p + q)
    contrib = F.round(
        0.5 * F.when(F.col("cnt_base") > 0, p * F.log(p / m)).otherwise(0.0)
        + 0.5 * F.when(F.col("cnt_cur") > 0, q * F.log(q / m)).otherwise(0.0),
        contrib_dp,
    )
    c = counts.withColumn("contrib", contrib).localCheckpoint(eager=False)
    j = c.agg(
        F.count(F.lit(1)).alias("vocab_size"),
        F.sum(F.col("contrib").cast(f"decimal(38,{contrib_dp})"))
        .cast("double")
        .alias("jsd"),
    )
    return c.crossJoin(F.broadcast(j)).select(
        item_col,
        "cnt_base",
        "cnt_cur",
        "contrib",
        "jsd",
        "vocab_size",
        "n_base",
        "n_cur",
    )


def hellinger(
    df: DataFrame,
    item_col: str,
    is_base_col: str,
    *,
    contrib_dp: int = 12,
) -> DataFrame:
    """Hellinger distance between two cohorts' item distributions → one
    row per item: ``(item, cnt_base, cnt_cur, bc_contrib, bc_total,
    hellinger, n_items, n_base, n_cur)``.

    The bounded [0, 1] companion to :func:`js_divergence` (round 8):
    H = sqrt(1 − BC) with the Bhattacharyya coefficient
    BC = Σ_i sqrt(p_i · q_i). Same input contract (one row per item
    occurrence + a boolean cohort flag) and the same parity device —
    ``sqrt`` is IEEE-correctly-rounded in both engines, but the SUM
    order is not deterministic on Spark, so each per-item sqrt(p·q)
    term is rounded to ``contrib_dp`` and accumulated as
    DECIMAL(38,contrib_dp), an order-free sum a SQL oracle replays
    bit-exactly. BC's rounding bias can nudge 1 − BC a hair negative
    when P = Q, so the final sqrt clamps at 0 (``greatest``).

    Scale shape: ONE groupBy(item) shuffle with map-side combine builds
    both counts in a single pass; totals and BC are 1-row broadcasts.
    """
    counts, p, q = _cohort_counts(df, item_col, is_base_col)
    contrib = F.round(F.sqrt(p * q), contrib_dp)
    c = counts.withColumn("bc_contrib", contrib).localCheckpoint(eager=False)
    j = c.agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(F.col("bc_contrib").cast(f"decimal(38,{contrib_dp})"))
        .cast("double")
        .alias("bc_total"),
    )
    return c.crossJoin(F.broadcast(j)).select(
        item_col,
        "cnt_base",
        "cnt_cur",
        "bc_contrib",
        "bc_total",
        F.sqrt(F.greatest(F.lit(1.0) - F.col("bc_total"), F.lit(0.0))).alias(
            "hellinger"
        ),
        "n_items",
        "n_base",
        "n_cur",
    )
