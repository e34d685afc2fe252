"""Parametric hypothesis-test / correlation operators over arbitrary DataFrames.

Round-6 extraction (VERDICT r5 item #2): the statistics family —
previously fixture-bound ``queries()`` closures over the testdata schema
(queries/statsops.py) — as a reusable library a user can call on their
OWN DataFrame:

    from dataframe_differ_spark.operators.stats import welch_ttest
    result = welch_ttest(per_user, value_col="spend_cents", treat_col="arm")

Design rules shared by every operator here:

- **Schema-agnostic**: column names are parameters; internals use ``_st_``
  prefixed temporaries and refuse colliding inputs. Outputs have fixed
  documented generic names (``n_a``/``mean_a``/``t_stat`` …); the
  registered fixture bindings alias them to their oracle column names.
- **Exact sufficient statistics**: every reduction over the data is an
  integer/DECIMAL sum (callers supply integer-exact values — e.g. money
  as cents); the statistic itself is ONE fixed IEEE double op chain on
  those exact integers, evaluated identically by any engine (+ - * /
  sqrt are correctly rounded), so a SQL oracle replays results
  bit-exactly. Where a float reduction over >1 row is unavoidable
  (ANOVA's Σs²/n, χ²'s cell terms) it runs as a SORTED sequential fold
  (``array_sort(collect_list)`` + ``F.aggregate``) over the tiny group
  frame — order-free cross-engine, the IVF-Lloyd-mean device.
- **Scale-first plan shapes**: one map-side-combinable groupBy on a
  uniform key per operator; rank statistics (Mann-Whitney, Spearman) run
  on DISTINCT-VALUE frames through ``operators.ranks.ranked`` (bucketed
  two-phase rank — no corpus-wide single-partition window), carrying
  DOUBLED midranks so rank sums stay exact BIGINTs even at tie midpoints.

The registered queries (``stats_welch_ttest``, ``stats_anova_f``,
``stats_chi2_independence``, ``stats_mann_whitney``,
``stats_spearman_corr``, ``stats_fdr_bh``) are thin fixture bindings over
these functions; their DuckDB oracles and the golden corpus pin the
operators' semantics release over release.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dataframe_differ_spark.operators.numeric import split_cast_double

__all__ = [
    "cohens_d",
    "welch_ttest",
    "anova_f",
    "chi2_independence",
    "mann_whitney",
    "spearman",
    "fdr_bh",
    "kendall_tau",
    "levene_bf",
    "gini",
    "kruskal_wallis",
    "train_logreg",
    "logreg_score",
]

_DEC = "decimal(38,0)"


def _check_reserved(df: DataFrame, prefix: str = "_st_") -> None:
    for c in df.columns:
        if c.startswith(prefix):
            raise ValueError(f"input column {c!r} collides with {prefix} internals")


def _two_arm_moments(df: DataFrame, value_col: str, treat_col: str) -> DataFrame:
    """One row ``(na, sa, qa, nb, sb, qb)``: per boolean arm the count, Σv
    and Σv², summed in DECIMAL(38,0) and split-cast to double."""
    _check_reserved(df)
    v0 = F.col(value_col)
    arm = df.groupBy(F.col(treat_col).alias("_st_t")).agg(
        F.count(F.lit(1)).cast("double").alias("_st_n"),
        split_cast_double(F.sum(v0.cast(_DEC))).alias("_st_s"),
        split_cast_double(F.sum(v0.cast(_DEC) * v0)).alias("_st_q"),
    )
    return arm.agg(
        F.max(F.when(F.col("_st_t"), F.col("_st_n"))).alias("na"),
        F.max(F.when(F.col("_st_t"), F.col("_st_s"))).alias("sa"),
        F.max(F.when(F.col("_st_t"), F.col("_st_q"))).alias("qa"),
        F.max(F.when(~F.col("_st_t"), F.col("_st_n"))).alias("nb"),
        F.max(F.when(~F.col("_st_t"), F.col("_st_s"))).alias("sb"),
        F.max(F.when(~F.col("_st_t"), F.col("_st_q"))).alias("qb"),
    )


def welch_ttest(
    df: DataFrame,
    value_col: str,
    treat_col: str,
    *,
    z_crit: float = 1.96,
    mean_dp: int = 4,
    round_dp: int = 9,
) -> DataFrame:
    """Welch's unequal-variance t-test → one row ``(n_a, n_b, mean_a,
    mean_b, mean_diff, t_stat, df_welch, significant)``.

    ``treat_col`` is a boolean arm indicator (True = group a);
    ``value_col`` must be integer-exact (e.g. money in cents) so the six
    sufficient statistics (n, Σv, Σv²) per arm are exact, and t plus the
    Welch–Satterthwaite degrees of freedom are ONE fixed double op chain
    on them — bit-identical on any engine. Σv and Σv² accumulate in
    DECIMAL(38,0) (round-7 fix: the native-BIGINT Σv² silently wrapped
    past 2^63 with ANSI off, ~3e7 rows of 1e5-cent values) and convert
    to double through the shared split-cast device so the conversion is
    engine-portable past 2^64 too. ``significant`` gates |t| on
    ``z_crit`` (the normal approximation; at df in the hundreds t and z
    quantiles agree to 3 dp). One shuffle (2-row rollup); scan-bound at
    any scale.
    """
    w = _two_arm_moments(df, value_col, treat_col)
    na, nb = F.col("na"), F.col("nb")
    v = w.select(
        na,
        nb,
        (F.col("sa") / na).alias("ma"),
        (F.col("sb") / nb).alias("mb"),
        ((F.col("qa") - F.col("sa") * F.col("sa") / na) / (na - 1)).alias("va"),
        ((F.col("qb") - F.col("sb") * F.col("sb") / nb) / (nb - 1)).alias("vb"),
    )
    sea = F.col("va") / na
    seb = F.col("vb") / nb
    t = v.select(
        na,
        nb,
        "ma",
        "mb",
        ((F.col("ma") - F.col("mb")) / F.sqrt(sea + seb)).alias("t_stat"),
        (
            (sea + seb)
            * (sea + seb)
            / (sea * sea / (na - 1) + seb * seb / (nb - 1))
        ).alias("df"),
    )
    return t.select(
        na.cast("long").alias("n_a"),
        nb.cast("long").alias("n_b"),
        F.round("ma", mean_dp).alias("mean_a"),
        F.round("mb", mean_dp).alias("mean_b"),
        F.round(F.col("ma") - F.col("mb"), mean_dp).alias("mean_diff"),
        F.round("t_stat", round_dp).alias("t_stat"),
        F.round("df", round_dp).alias("df_welch"),
        (F.abs(F.col("t_stat")) > z_crit).alias("significant"),
    )


def cohens_d(
    df: DataFrame,
    value_col: str,
    treat_col: str,
    *,
    round_dp: int = 9,
) -> DataFrame:
    """Cohen's d standardized effect size between two arms → one row
    ``(n_a, n_b, mean_diff, pooled_sd, cohens_d, hedges_g)``.

    The practical-significance companion to :func:`welch_ttest` (a tiny
    p-value can hide a negligible effect at large n): d = (μa − μb)/s_p
    with the pooled SD s_p = √(((na−1)s²a + (nb−1)s²b)/(na+nb−2)), and
    Hedges' g = d·(1 − 3/(4(na+nb) − 9)) corrects d's small-sample bias.
    Same exactness contract as welch_ttest: integer-exact ``value_col``,
    DECIMAL(38,0) moments, split-cast conversion, one fixed double
    chain. One shuffle (2-row rollup); scan-bound at any scale.
    """
    w = _two_arm_moments(df, value_col, treat_col)
    na, nb = F.col("na"), F.col("nb")
    v = w.select(
        na,
        nb,
        ((F.col("sa") / na) - (F.col("sb") / nb)).alias("md"),
        ((F.col("qa") - F.col("sa") * F.col("sa") / na) / (na - 1)).alias("va"),
        ((F.col("qb") - F.col("sb") * F.col("sb") / nb) / (nb - 1)).alias("vb"),
    )
    sp = F.sqrt(
        ((na - 1) * F.col("va") + (nb - 1) * F.col("vb")) / (na + nb - 2)
    )
    d = F.col("md") / F.col("sp")
    out = v.select(na, nb, "md", sp.alias("sp"))
    return out.select(
        na.cast("long").alias("n_a"),
        nb.cast("long").alias("n_b"),
        F.round("md", round_dp).alias("mean_diff"),
        F.round("sp", round_dp).alias("pooled_sd"),
        F.round(d, round_dp).alias("cohens_d"),
        F.round(
            d * (F.lit(1.0) - F.lit(3.0) / (4 * (na + nb) - 9)), round_dp
        ).alias("hedges_g"),
    )


def anova_f(
    df: DataFrame,
    value_col: str,
    group_col: str,
    *,
    round_dp: int = 9,
) -> DataFrame:
    """One-way ANOVA F-test → one row ``(k_groups, n_obs, ss_between,
    ss_within, f_stat, eta_sq)``.

    ``value_col`` must be integer-exact (BIGINT; e.g. cents).
    Per-group sufficient statistics (n, Σv BIGINT, Σv² DECIMAL(38,0))
    are exact; the one order-sensitive float reduction — the
    between-group term Σ s_g²/n_g over the k group terms — is made
    order-FREE by folding the per-group doubles in sorted group order
    (``array_sort(collect_list)`` + ``F.aggregate``), so any engine
    replays it bit-exactly. (Decimal-cast devices FAIL here at ~1e16
    magnitudes — see the ``stats_anova_f`` binding docstring for the
    two recorded failures.) Plan: one k-group map-side-combinable
    rollup; the fold runs over k rows regardless of data size —
    scan-bound at 100 TB.
    """
    _check_reserved(df)
    v = F.col(value_col)
    grp = df.groupBy(F.col(group_col).alias("_st_g")).agg(
        F.count(F.lit(1)).alias("_st_n"),
        F.sum(value_col).alias("_st_s"),
        F.sum(v.cast(_DEC) * v).alias("_st_q"),
    )
    terms = grp.withColumn(
        "_st_t",
        F.col("_st_s").cast("double") * F.col("_st_s").cast("double")
        / F.col("_st_n"),
    )
    tot = terms.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("_st_n").alias("nn"),
        F.sum("_st_s").alias("ss"),
        F.sum("_st_q").alias("_st_qsum"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("_st_g", "_st_t"))),
            F.lit(0.0),
            lambda acc, x: acc + x["_st_t"],
        ).alias("st"),
    ).withColumn(
        # Σv² can exceed 2^64, where DuckDB's int128→double cast rounds
        # one ulp differently from Java/Python (measured round 6 on the
        # Brown-Forsythe binding at sf0.1). Shared split-cast device —
        # see operators/numeric.py for the full derivation.
        "sq",
        split_cast_double(F.col("_st_qsum")),
    )
    parts = tot.select(
        "k",
        "nn",
        (
            F.col("st")
            - F.col("ss").cast("double") * F.col("ss").cast("double") / F.col("nn")
        ).alias("ssb"),
        (F.col("sq") - F.col("st")).alias("ssw"),
    )
    return parts.select(
        F.col("k").alias("k_groups"),
        F.col("nn").alias("n_obs"),
        F.col("ssb").alias("ss_between"),
        F.col("ssw").alias("ss_within"),
        F.round(
            (F.col("ssb") / (F.col("k") - 1))
            / (F.col("ssw") / (F.col("nn") - F.col("k"))),
            round_dp,
        ).alias("f_stat"),
        F.round(F.col("ssb") / (F.col("ssb") + F.col("ssw")), round_dp).alias(
            "eta_sq"
        ),
    )


def chi2_independence(
    df: DataFrame,
    row_col: str,
    col_col: str,
    *,
    round_dp: int = 9,
) -> DataFrame:
    """Chi-squared test of independence of two categoricals → one row
    ``(n_obs, n_cells, dof, chi2, cramers_v)``.

    Observed cell counts are exact BIGINTs from one groupBy; each
    expected count and cell term is the same fixed IEEE op chain on
    exact integers (e = r·c/n, term = (cnt−e)²/e). The one
    order-sensitive reduction — summing the r·c cell terms — uses the
    sorted sequential fold (the ``anova_f`` device). Effect size is
    Cramér's V. Plan: one map-side-combinable groupBy, two tiny rollups
    re-joined broadcast; the fold runs over r·c rows regardless of data
    volume — scan-bound at 100 TB.
    """
    _check_reserved(df)
    cells = df.groupBy(
        F.col(row_col).alias("_st_r"), F.col(col_col).alias("_st_c")
    ).agg(F.count(F.lit(1)).alias("_st_cnt"))
    rowt = cells.groupBy("_st_r").agg(F.sum("_st_cnt").alias("_st_rt"))
    colt = cells.groupBy("_st_c").agg(F.sum("_st_cnt").alias("_st_ct"))
    tot = cells.agg(
        F.sum("_st_cnt").alias("n"),
        F.countDistinct("_st_r").alias("r"),
        F.countDistinct("_st_c").alias("c"),
    )
    e = F.col("_st_rt").cast("double") * F.col("_st_ct") / F.col("n")
    terms = (
        cells.join(F.broadcast(rowt), "_st_r")
        .join(F.broadcast(colt), "_st_c")
        .crossJoin(F.broadcast(tot))
        .select(
            "_st_r",
            "_st_c",
            "n",
            "r",
            "c",
            ((F.col("_st_cnt") - e) * (F.col("_st_cnt") - e) / e).alias(
                "_st_term"
            ),
        )
    )
    folded = terms.groupBy("n", "r", "c").agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("_st_r", "_st_c", "_st_term"))),
            F.lit(0.0),
            lambda acc, x: acc + x["_st_term"],
        ).alias("chi2")
    )
    min_dim = F.when(F.col("r") < F.col("c"), F.col("r") - 1).otherwise(
        F.col("c") - 1
    )
    return folded.select(
        F.col("n").alias("n_obs"),
        (F.col("r") * F.col("c")).alias("n_cells"),
        ((F.col("r") - 1) * (F.col("c") - 1)).alias("dof"),
        F.round(F.col("chi2"), round_dp).alias("chi2"),
        F.round(F.sqrt(F.col("chi2") / (F.col("n") * min_dim)), round_dp).alias(
            "cramers_v"
        ),
    )


def mann_whitney(
    df: DataFrame,
    value_col: str,
    treat_col: str,
    *,
    round_dp: int = 9,
) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) test → one row ``(n1, n2, u1,
    u2, z_score)``; normal approximation with the standard tie
    correction.

    ``treat_col`` is a boolean group indicator (True = group 1);
    ``value_col`` is any orderable column. Exactness device: midranks are
    computed on the DISTINCT-VALUE frame — rank sums stay INTEGERS by
    carrying 2·R1 = Σ c1_v·(2·C_prev + c_v + 1) (each value's midrank
    doubled), so U, the tie term Σ(t³−t), and every input to the z
    formula are exact BIGINTs; z is one fixed IEEE chain. Scale shape:
    one value-keyed groupBy (uniform key), the ordered prefix sum runs
    through ``operators.ranks.ranked`` on the distinct-value frame
    (bucket rank + offset merge — no single-partition window over the
    corpus), then a 1-row aggregate.
    """
    from dataframe_differ_spark.operators.ranks import ranked

    _check_reserved(df)
    vals = df.groupBy(F.col(value_col).alias("_st_v")).agg(
        F.count(F.lit(1)).alias("_st_c"),
        F.sum(F.when(F.col(treat_col), 1).otherwise(0)).alias("_st_c1"),
    )
    r = ranked(
        vals,
        F.col("_st_v"),
        ["_st_v"],
        running_sum=F.col("_st_c"),
        running_col="_st_cum",
    ).withColumn("_st_cprev", F.col("_st_cum") - F.col("_st_c"))
    s = r.agg(
        F.sum("_st_c1").alias("n1"),
        F.sum(F.col("_st_c") - F.col("_st_c1")).alias("n2"),
        F.sum(
            F.col("_st_c1") * (2 * F.col("_st_cprev") + F.col("_st_c") + 1)
        ).alias("r1x2"),
        F.sum(
            F.col("_st_c") * F.col("_st_c") * F.col("_st_c") - F.col("_st_c")
        ).alias("ties"),
    )
    n1d = F.col("n1").cast("double")
    u = s.select(
        "n1",
        "n2",
        "ties",
        (F.col("n1") + F.col("n2")).alias("n"),
        (
            (F.col("r1x2") - F.col("n1") * (F.col("n1") + 1)).cast("double") / 2
        ).alias("u1"),
    )
    return u.select(
        "n1",
        "n2",
        "u1",
        (n1d * F.col("n2") - F.col("u1")).alias("u2"),
        F.round(
            (F.col("u1") - n1d * F.col("n2") / 2)
            / F.sqrt(
                n1d
                * F.col("n2")
                / 12
                * (
                    (F.col("n") + 1)
                    - F.col("ties").cast("double")
                    / (F.col("n").cast("double") * (F.col("n") - 1))
                )
            ),
            round_dp,
        ).alias("z_score"),
    )


def spearman(
    df: DataFrame,
    x_col: str,
    y_col: str,
    *,
    x_exact_col: str | None = None,
    y_exact_col: str | None = None,
    broadcast_y_ranks: bool = False,
    round_dp: int = 9,
) -> DataFrame:
    """Spearman rank correlation (plus Pearson on the exact columns) →
    one row ``(n, spearman_rho, pearson_r)``.

    Spearman is Pearson on midranks, so ties are handled exactly.
    Exactness devices: midranks carried DOUBLED (2·rank is an integer
    even at tie midpoints — the ``mann_whitney`` device applied to BOTH
    variables); Pearson runs on ``x_exact_col``/``y_exact_col`` when
    given (integer-exact stand-ins for float measures, e.g. cents for a
    price) else on the rank columns' source columns directly — every sum
    entering either correlation is an exact integer (DECIMAL(38,0)),
    cast to double only in the 1-row formula. The scale factors (2×,
    100×) cancel in the normalized ratios. Plan: per-variable
    distinct-value frames with ordered prefix sums via
    ``operators.ranks.ranked`` (no corpus-wide window), two value-keyed
    joins back (set ``broadcast_y_ranks=True`` when y has few distinct
    values), one 1-row aggregate.
    """
    from dataframe_differ_spark.operators.ranks import ranked

    _check_reserved(df)
    xe = x_exact_col or x_col
    ye = y_exact_col or y_col
    # ``pairs`` feeds SEVEN plan branches (each midrank2's `ranked` scans
    # its input three times — boundaries, stats, window — plus the final
    # join), so without a lineage cut the caller's upstream join/aggregate
    # re-executes per branch (measured 3× wall on stats_spearman_corr,
    # round 11). One lazy materialization of the narrow 4-column frame
    # feeds them all; same for each distinct-value frame.
    pairs = df.select(
        F.col(x_col).alias("_st_x"),
        F.col(y_col).alias("_st_y"),
        F.col(xe).alias("_st_xe"),
        F.col(ye).alias("_st_ye"),
    ).localCheckpoint(eager=False)

    def midrank2(col: str, out: str) -> DataFrame:
        vals = pairs.groupBy(col).agg(
            F.count(F.lit(1)).alias("_st_c")
        ).localCheckpoint(eager=False)
        r = ranked(
            vals,
            F.col(col),
            [col],
            running_sum=F.col("_st_c"),
            running_col="_st_cum",
        )
        return r.select(
            col,
            (2 * (F.col("_st_cum") - F.col("_st_c")) + F.col("_st_c") + 1).alias(
                out
            ),
        )

    yr = midrank2("_st_y", "_st_ry2")
    if broadcast_y_ranks:
        yr = F.broadcast(yr)
    j = (
        pairs.join(midrank2("_st_x", "_st_rx2"), "_st_x")
        .join(yr, "_st_y")
        .select("_st_xe", "_st_ye", "_st_rx2", "_st_ry2")
    )
    rx, ry = F.col("_st_rx2"), F.col("_st_ry2")
    xv, yv = F.col("_st_xe"), F.col("_st_ye")
    # split-cast (round 7): Σr², Σ(r·r') ≈ n³/3 cross 2^64 past ~4e6
    # rows, where plain engine int128→double casts can differ one ulp
    # (operators/numeric.py) — every moment converts through the device.
    s = j.agg(
        F.count(F.lit(1)).alias("n"),
        split_cast_double(F.sum(rx.cast(_DEC))).alias("srx"),
        split_cast_double(F.sum(ry.cast(_DEC))).alias("sry"),
        # products cast-FIRST: a BIGINT rx*ry wraps past ~1.5e9 rows
        # before the DECIMAL cast could save it (round-7 audit fix).
        split_cast_double(F.sum(rx.cast(_DEC) * ry)).alias("srxy"),
        split_cast_double(F.sum(rx.cast(_DEC) * rx)).alias("srxx"),
        split_cast_double(F.sum(ry.cast(_DEC) * ry)).alias("sryy"),
        split_cast_double(F.sum(xv.cast(_DEC))).alias("sx"),
        split_cast_double(F.sum(yv.cast(_DEC))).alias("sy"),
        split_cast_double(F.sum(xv.cast(_DEC) * yv)).alias("sxy"),
        split_cast_double(F.sum(xv.cast(_DEC) * xv)).alias("sxx"),
        split_cast_double(F.sum(yv.cast(_DEC) * yv)).alias("syy"),
    )
    n = F.col("n")
    rho = (n * F.col("srxy") - F.col("srx") * F.col("sry")) / F.sqrt(
        (n * F.col("srxx") - F.col("srx") * F.col("srx"))
        * (n * F.col("sryy") - F.col("sry") * F.col("sry"))
    )
    r = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / F.sqrt(
        (n * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (n * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return s.select(
        "n",
        F.round(rho, round_dp).alias("spearman_rho"),
        F.round(r, round_dp).alias("pearson_r"),
    )


def fdr_bh(
    df: DataFrame,
    p_col: str,
    *,
    sig_key_col: str,
    tie_col: str,
    q: float = 0.05,
    round_dp: int = 9,
) -> DataFrame:
    """Benjamini-Hochberg FDR step-up over a small frame of test results →
    input columns (minus ``sig_key_col``) plus ``(p_rank, n_tests,
    bh_critical, reject)``.

    ``p_col`` holds the (two-sided) p-values; ``sig_key_col`` is an exact
    BIGINT significance key (higher = more significant, e.g.
    ``round(|z|·1e9)``) used for deterministic ranking — floats never
    drive order; ``tie_col`` breaks exact key ties. The step-up rule:
    rank p ascending (via the key descending), reject all ranks ≤ k* =
    max{i : p_(i) ≤ i/m·q}.

    Intended for POST-aggregation frames (one row per test — tens to
    thousands): the ranking is a broadcast triangle join (window-free,
    deterministic); the input is ``localCheckpoint``ed so the two passes
    (rank, k*) reuse one materialization. Not for per-row p-values at
    data scale — aggregate first.
    """
    _check_reserved(df)
    for c in (p_col, sig_key_col, tie_col):
        if c not in df.columns:
            raise ValueError(f"column {c!r} not in input")
    carried = [c for c in df.columns if c != sig_key_col]
    pv = df.localCheckpoint(eager=False)
    other = pv.select(
        F.col(tie_col).alias("_st_ot"), F.col(sig_key_col).alias("_st_ok")
    )
    ranked_df = (
        pv.crossJoin(F.broadcast(other))
        .filter(
            (F.col("_st_ok") > F.col(sig_key_col))
            | (
                (F.col("_st_ok") == F.col(sig_key_col))
                & (F.col("_st_ot") <= F.col(tie_col))
            )
        )
        .groupBy(*carried)
        .agg(F.count(F.lit(1)).alias("p_rank"))
        .crossJoin(F.broadcast(pv.agg(F.count(F.lit(1)).alias("n_tests"))))
    )
    kstar = ranked_df.filter(
        F.col(p_col) <= q * F.col("p_rank") / F.col("n_tests")
    ).agg(F.coalesce(F.max("p_rank"), F.lit(0)).alias("_st_k"))
    return ranked_df.crossJoin(F.broadcast(kstar)).select(
        *carried,
        "p_rank",
        "n_tests",
        F.round(q * F.col("p_rank") / F.col("n_tests"), round_dp).alias(
            "bh_critical"
        ),
        (F.col("p_rank") <= F.col("_st_k")).alias("reject"),
    )


def kendall_tau(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Kendall's τ-b rank correlation → one row ``(n, n_concordant,
    n_discordant, ties_x, ties_y, tau_b)`` (tau_b an unrounded double).

    Built for BOUNDED-cardinality ordinal variables (buckets, grades,
    small counts): the data collapses to the (x, y) contingency grid in
    one map-side-combinable groupBy, and concordant/discordant pair
    counts come from a broadcast self-join of the tiny grid (cell pairs
    with x₂>x₁ ∧ y₂>y₁ are concordant, x₂>x₁ ∧ y₂<y₁ discordant) — all
    BIGINT until the final τ-b ratio (C − D) / √((n₀−n₁)(n₀−n₂)) with
    n₀ = n(n−1)/2 and n₁/n₂ the x/y tie-pair counts. Grid cost is
    O(|grid|²) — bucket continuous variables first. No window, no sort;
    the corpus is touched once.
    """
    _check_reserved(df)
    grid = df.groupBy(
        F.col(x_col).alias("_st_x"), F.col(y_col).alias("_st_y")
    ).agg(F.count(F.lit(1)).alias("_st_c"))
    other = grid.select(
        F.col("_st_x").alias("_st_x2"),
        F.col("_st_y").alias("_st_y2"),
        F.col("_st_c").alias("_st_c2"),
    )
    pairs = grid.join(
        F.broadcast(other),
        (F.col("_st_x2") > F.col("_st_x"))
        & (F.col("_st_y2") != F.col("_st_y")),
    ).select(
        (F.col("_st_c") * F.col("_st_c2")).alias("_st_w"),
        (F.col("_st_y2") > F.col("_st_y")).alias("_st_conc"),
    )
    cd = pairs.agg(
        F.coalesce(
            F.sum(F.when(F.col("_st_conc"), F.col("_st_w"))), F.lit(0)
        ).alias("C"),
        F.coalesce(
            F.sum(F.when(~F.col("_st_conc"), F.col("_st_w"))), F.lit(0)
        ).alias("D"),
    )
    xt = grid.groupBy("_st_x").agg(F.sum("_st_c").alias("_st_t"))
    yt = grid.groupBy("_st_y").agg(F.sum("_st_c").alias("_st_t"))
    # tie-pair sums stay in BIGINT integer division (`div`), never floats
    xties = xt.agg(
        F.sum("_st_t").alias("_st_n"),
        F.sum(F.col("_st_t") * (F.col("_st_t") - 1)).alias("_st_tx"),
    ).select("_st_n", F.expr("_st_tx div 2").alias("n1"))
    yties = yt.agg(
        F.sum(F.col("_st_t") * (F.col("_st_t") - 1)).alias("_st_ty")
    ).select(F.expr("_st_ty div 2").alias("n2"))
    row = cd.crossJoin(F.broadcast(xties)).crossJoin(F.broadcast(yties))
    n0 = F.expr("(_st_n * (_st_n - 1)) div 2")
    return row.select(
        F.col("_st_n").alias("n"),
        F.col("C").alias("n_concordant"),
        F.col("D").alias("n_discordant"),
        F.col("n1").alias("ties_x"),
        F.col("n2").alias("ties_y"),
        (
            # (n0-n1)*(n0-n2) overflows int64 past ~3e9 pairs per side —
            # convert each factor (< 2^53, exact) to double FIRST; the
            # product is then one IEEE multiply identical in any engine.
            (F.col("C") - F.col("D")).cast("double")
            / F.sqrt(
                (n0 - F.col("n1")).cast("double")
                * (n0 - F.col("n2")).cast("double")
            )
        ).alias("tau_b"),
    )


def levene_bf(
    df: DataFrame,
    value_col: str,
    group_col: str,
    *,
    round_dp: int = 9,
) -> DataFrame:
    """Brown–Forsythe (median-centered Levene) variance-equality test →
    one row ``(k_groups, n_obs, ss_between, ss_within, f_stat,
    eta_sq)`` — the ANOVA F applied to absolute deviations from the
    GROUP MEDIAN (robust to non-normality; Brown & Forsythe 1974).

    ``value_col`` must be integer-exact (e.g. cents). The exactness
    device: deviations are carried DOUBLED — z = |2·v − 2·median| is a
    BIGINT even when the median of an even group falls on a half — and
    the F statistic is scale-invariant, so F(2z) = F(z) exactly while
    every sufficient statistic stays an exact integer (ss_between /
    ss_within are reported on the doubled scale: 4× the conventional
    values; f_stat and eta_sq are unaffected). Composes
    :func:`anova_f` for the sorted-fold between-term. Two shuffles
    (median rollup + moment rollup), both on the group key.
    """
    _check_reserved(df)
    med = df.groupBy(F.col(group_col).alias("_st_mg")).agg(
        F.median(value_col).alias("_st_med")
    )
    z = df.join(
        F.broadcast(med), F.col(group_col) == F.col("_st_mg")
    ).select(
        F.col(group_col).alias("_bf_g"),
        F.abs(
            2 * F.col(value_col) - (2 * F.col("_st_med")).cast("long")
        ).alias("_bf_z"),
    )
    return anova_f(z, "_bf_z", "_bf_g", round_dp=round_dp)


def gini(
    df: DataFrame,
    value_col: str,
    tie_col: str,
    *,
    round_dp: int = 9,
) -> DataFrame:
    """Gini coefficient of a non-negative quantity → one row
    ``(n, total, gini)`` (gini an unrounded double until ``round_dp``).

    The inequality measure over e.g. per-customer revenue: with values
    ranked ascending (ties broken by ``tie_col`` for determinism),
    G = (2·Σᵢ rᵢ·vᵢ − (n+1)·Σv) / (n·Σv). ``value_col`` must be
    integer-exact (cents) so Σ(r·v) — accumulated as DECIMAL(38,0),
    BIGINT overflows at ~10⁸ rows × 10⁷ cents — and Σv are exact; one
    final double division. The global rank is the two-phase bucketed
    rank (``operators.ranks.ranked``) — approx-percentile boundaries,
    per-bucket windows, broadcast offset merge — never a corpus-wide
    single-partition window.
    """
    _check_reserved(df)
    from dataframe_differ_spark.operators.ranks import ranked

    r = ranked(
        df.select(F.col(value_col).alias("_st_v"), F.col(tie_col).alias("_st_t")),
        F.col("_st_v"),
        ["_st_v", "_st_t"],
        rank_col="_st_rk",
        n_col="_st_n",
    )
    agg = r.agg(
        F.max("_st_n").alias("n"),
        F.sum("_st_v").alias("total"),
        F.sum(F.col("_st_rk").cast(_DEC) * F.col("_st_v")).alias("_st_rv"),
    )
    # split-cast (round 7): 2·Σrv and n·Σv cross 2^64 past ~1e6 rows of
    # 1e7-cent values — both engines convert via operators/numeric.py.
    return agg.select(
        "n",
        "total",
        F.round(
            split_cast_double(
                2 * F.col("_st_rv") - (F.col("n") + 1).cast(_DEC) * F.col("total")
            )
            / split_cast_double(F.col("n").cast(_DEC) * F.col("total")),
            round_dp,
        ).alias("gini"),
    )


def kruskal_wallis(
    df: DataFrame,
    value_col: str,
    group_col: str,
    *,
    round_dp: int = 9,
) -> DataFrame:
    """Kruskal-Wallis H test (k independent samples) → one row per group
    ``(group col, n_g, mean_rank, h, h_corrected, k_groups, n_total)``
    with the tie-corrected statistic repeated on every row (round 8).

    The k-sample generalization of :func:`mann_whitney` (and the
    nonparametric sibling of the ANOVA F): pooled midranks over ALL
    values, H = 12/(N(N+1)) Σ R_g²/n_g − 3(N+1), divided by the tie
    correction C = 1 − Σ(t³−t)/(N³−N); H_c ~ χ²(k−1) under exchange-
    ability.

    Exactness: the doubled-midrank device — midranks come from the
    DISTINCT-VALUE frame (2·mr_v = 2·C_prev + c_v + 1), per-group rank
    sums stay exact integers R'_g = Σ c_gv·dmr_v accumulated as
    DECIMAL(38,0), and with doubled ranks H = 3·Σ(R'_g²/n_g)/(N(N+1))
    − 3(N+1). The 2^64-exposed quantities (R'², N³−N) convert through
    the shared split-cast device; the k per-group R'²/n_g doubles are
    rounded to 12 dp and summed DECIMAL(38,12) (order-free). Scale
    shape: one value-keyed groupBy + one (value, group) groupBy (both
    uniform keys, map-side combinable), the ordered prefix sum through
    ``operators.ranks.ranked`` on the distinct-value frame, then
    k-row rollups — scan-bound at 100 TB.
    """
    from dataframe_differ_spark.operators.numeric import split_cast_double
    from dataframe_differ_spark.operators.ranks import ranked

    _check_reserved(df)
    src = df.select(
        F.col(value_col).alias("_st_v"), F.col(group_col).alias("_st_g")
    )
    vals = src.groupBy("_st_v").agg(F.count(F.lit(1)).alias("_st_c"))
    gv = src.groupBy("_st_v", "_st_g").agg(
        F.count(F.lit(1)).alias("_st_cg")
    )
    r = ranked(
        vals,
        F.col("_st_v"),
        ["_st_v"],
        running_sum=F.col("_st_c"),
        running_col="_st_cum",
    ).select(
        "_st_v",
        "_st_c",
        (2 * (F.col("_st_cum") - F.col("_st_c")) + F.col("_st_c") + 1).alias(
            "_st_dmr"
        ),
    )
    rg = (
        gv.join(r, "_st_v")
        .groupBy("_st_g")
        .agg(
            F.sum("_st_cg").cast("long").alias("_st_ng"),
            F.sum(F.col("_st_cg").cast(_DEC) * F.col("_st_dmr")).alias(
                "_st_r2"
            ),
        )
    )
    ties = vals.agg(
        F.sum(
            F.col("_st_c").cast(_DEC) * F.col("_st_c") * F.col("_st_c")
            - F.col("_st_c")
        ).alias("_st_t")
    )
    consts = rg.agg(
        F.count(F.lit(1)).cast("long").alias("_st_k"),
        F.sum("_st_ng").cast("long").alias("_st_n"),
    )
    terms = rg.select(
        "_st_g",
        "_st_ng",
        "_st_r2",
        F.round(
            split_cast_double(F.col("_st_r2") * F.col("_st_r2"))
            / F.col("_st_ng").cast("double"),
            12,
        ).alias("_st_q"),
    )
    s4 = terms.agg(
        F.sum(F.col("_st_q").cast("decimal(38,12)")).cast("double").alias("_st_s4")
    )
    nn = F.col("_st_n").cast("double")
    h = (
        3.0 * F.col("_st_s4") / (nn * (nn + 1.0))
        - 3.0 * (nn + 1.0)
    )
    cden = split_cast_double(
        F.col("_st_n").cast(_DEC) * F.col("_st_n") * F.col("_st_n")
        - F.col("_st_n")
    )
    corr = F.lit(1.0) - split_cast_double(F.col("_st_t")) / cden
    stat = (
        consts.crossJoin(F.broadcast(s4))
        .crossJoin(F.broadcast(ties))
        .select(
            F.col("_st_k").alias("k_groups"),
            F.col("_st_n").alias("n_total"),
            h.alias("_st_h"),
            (h / corr).alias("_st_hc"),
        )
    )
    return terms.crossJoin(F.broadcast(stat)).select(
        F.col("_st_g").alias(group_col),
        F.col("_st_ng").alias("n_g"),
        F.round(
            split_cast_double(F.col("_st_r2"))
            / (2.0 * F.col("_st_ng").cast("double")),
            round_dp,
        ).alias("mean_rank"),
        F.round("_st_h", round_dp).alias("h"),
        F.round("_st_hc", round_dp).alias("h_corrected"),
        "k_groups",
        "n_total",
    )


def train_logreg(
    df: DataFrame,
    feature_cols: Sequence[str],
    label_col: str,
    *,
    iters: int = 3,
    lr: float = 1.0,
    contrib_dp: int = 12,
) -> DataFrame:
    """Logistic-regression TRAINING by full-batch gradient descent, fully
    in-engine and bit-reproducible → one row per coefficient
    ``(coef, weight)`` with ``coef`` in ``['bias', *feature_cols]``
    (round 9, VERDICT r8 item #3 — the trained quality-filter scorer).

    Each of the ``iters`` unrolled iterations is ONE aggregate over the
    feature frame: z = w·x (bias + features, fixed left-associated
    order), p = 1/(1+exp(-z)), per-row gradient contribution
    (p − y)·x_j rounded to ``contrib_dp`` dp and summed as
    DECIMAL(38,contrib_dp) — order-free, so Spark's reduce order and a
    replaying SQL oracle agree bit-exactly — then
    w_j ← w_j − lr·(Σg_j / n) in doubles with identical expression text
    in both engines. exp() is the single libm call per row, absorbed by
    the contribution rounding (the ``drift_hellinger`` device).

    Scale shape: ``iters`` scans of the feature frame (cache or
    ``localCheckpoint`` the features upstream if scans dominate), each a
    map-side-combinable 1-row aggregate; the weight vector rides a
    broadcast crossJoin — nothing is collected. Weights re-round to
    ``contrib_dp`` after every update (see the in-loop comment) and ship
    in that rounded form.
    """
    _check_reserved(df)
    if iters < 1:
        raise ValueError("iters must be >= 1")
    if not feature_cols:
        raise ValueError("feature_cols must be non-empty")
    names = ["bias", *feature_cols]
    k = len(names)
    dec = f"decimal(38,{contrib_dp})"
    base = df.select(
        *[
            F.col(c).cast("double").alias(f"_st_x{j + 1}")
            for j, c in enumerate(feature_cols)
        ],
        F.col(label_col).cast("double").alias("_st_y"),
    )
    nrow = base.agg(F.count(F.lit(1)).cast("long").alias("_st_n"))
    w = df.sparkSession.range(1).select(
        *[F.lit(0.0).alias(f"_st_w{j}") for j in range(k)]
    )
    for _ in range(iters):
        joined = base.crossJoin(F.broadcast(w))
        z = F.col("_st_w0")
        for j in range(1, k):
            z = z + F.col(f"_st_w{j}") * F.col(f"_st_x{j}")
        r = F.lit(1.0) / (F.lit(1.0) + F.exp(-z)) - F.col("_st_y")
        grads = joined.agg(
            F.sum(F.round(r, contrib_dp).cast(dec)).alias("_st_g0"),
            *[
                F.sum(
                    F.round(r * F.col(f"_st_x{j}"), contrib_dp).cast(dec)
                ).alias(f"_st_g{j}")
                for j in range(1, k)
            ],
        )
        # Weights re-round to contrib_dp after every update: a 1-ulp
        # libm exp() divergence that survives one contribution's 12-dp
        # round shifts the DECIMAL sum by 1e-12 and the weight by
        # ~lr·1e-12/n — re-rounding the weight erases it so the NEXT
        # iteration starts from bit-identical w in both engines (caught
        # by the sf0.1 sweep: one weight off by 4.4e-16 unrounded).
        w = (
            w.crossJoin(F.broadcast(grads))
            .crossJoin(F.broadcast(nrow))
            .select(
                *[
                    F.round(
                        F.col(f"_st_w{j}")
                        - F.lit(lr)
                        * (
                            F.col(f"_st_g{j}").cast("double")
                            / F.col("_st_n").cast("double")
                        ),
                        contrib_dp,
                    ).alias(f"_st_w{j}")
                    for j in range(k)
                ]
            )
        )
    stack = ", ".join(
        f"'{name}', _st_w{j}" for j, name in enumerate(names)
    )
    return w.select(
        F.expr(f"stack({k}, {stack})").alias("coef", "weight")
    )


def logreg_score(
    df: DataFrame,
    weights: DataFrame,
    feature_cols: Sequence[str],
    *,
    score_col: str = "score",
    score_dp: int = 6,
) -> DataFrame:
    """Score ``df`` with a :func:`train_logreg` weight table →
    the input columns + ``<score_col>`` = round(sigmoid(w·x), score_dp).

    The weight rows pivot into one broadcast row (a ≤k-row aggregate),
    so scoring is a map-only column expression at any scale — the
    filter stage of the clean→dedup→filter→mix→pack pipeline. Missing
    coefficients resolve NULL and fail loudly in the arithmetic rather
    than scoring silently with a partial model.
    """
    _check_reserved(df)
    names = ["bias", *feature_cols]
    wrow = weights.agg(
        *[
            F.max(F.when(F.col("coef") == n, F.col("weight"))).alias(
                f"_st_w{j}"
            )
            for j, n in enumerate(names)
        ]
    )
    z = F.col("_st_w0")
    for j, c in enumerate(feature_cols, start=1):
        z = z + F.col(f"_st_w{j}") * F.col(c).cast("double")
    out = df.crossJoin(F.broadcast(wrow)).withColumn(
        score_col, F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), score_dp)
    )
    return out.drop(*[f"_st_w{j}" for j in range(len(names))])
