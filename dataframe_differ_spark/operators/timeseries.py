"""Parametric time-series operators over arbitrary series DataFrames.

Round-6 extraction (continuing the dedup/similarity/graph/stats pattern):
the time-series family — previously fixture-bound ``queries()`` closures
over the testdata daily event spine (queries/composites.py,
queries/statsops.py, queries/windows.py) — as a reusable library a user
can call on their OWN series:

    from dataframe_differ_spark.operators.timeseries import holt_linear
    fc = holt_linear(daily, group_cols=["store"], order_col="day",
                     value_col="sales")

Design rules shared by every operator here:

- **Schema-agnostic**: column names are parameters; internals use
  ``_ts_`` prefixed temporaries and refuse colliding inputs. Outputs keep
  the caller's group/order/value columns and add fixed documented result
  columns (``level``/``trend``/``forecast``, ``cusum_hi``/``cusum_lo``,
  ``autocorr``, ...), unrounded — cosmetic rounding belongs to bindings.
- **Rollup-then-recurse**: every inherently sequential recurrence (EWMA,
  Holt, CUSUM) runs as ONE partitioned sequential fold per group over the
  collected, sorted series array (`array_sort(collect_list)` +
  `aggregate` emitting the full struct trajectory) — a single codegen'd
  expression whose left-associated IEEE op chain any SQL engine replays
  bit-exactly, not a per-step driver loop or a recursive-CTE job storm
  (measured 16 s → <1 s at sf0.1 on the CUSUM binding). The intended
  usage at 100 TB is: corpus-sized work happens in the caller's rollup
  (one map-side-combinable groupBy); the recursion touches only the
  KB-sized spine per group. Folds are therefore O(len(series)) per group
  and assume a BOUNDED series (calendar days, not raw events).
- **Exact sufficient statistics** where a cross-engine replay is needed:
  `cusum` derives mu/sigma from Σv/Σv² in the value column's own type
  (exact for integer inputs), `autocorr`/`theil_sen` keep moments/slopes
  in BIGINT until one final double chain — the stats-family device.

The registered queries (``timeseries_ewma``, ``events_holt_linear``,
``events_changepoint_cusum``, ``events_autocorr``,
``events_seasonality_dow``, ``trend_theilsen_daily``,
``events_anomaly_mad``) are thin fixture bindings over these functions;
their DuckDB oracles and the golden corpus pin the operators' semantics
release over release.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "ewma",
    "holt_linear",
    "holt_winters",
    "cusum",
    "autocorr",
    "crosscorr",
    "seasonality",
    "theil_sen",
    "mad_outliers",
    "kalman_level",
]


def _check_reserved(df: DataFrame, prefix: str = "_ts_") -> None:
    for c in df.columns:
        if c.startswith(prefix):
            raise ValueError(f"input column {c!r} collides with {prefix} internals")


def _lit(x: float) -> str:
    """Embed a Python float into a SQL lambda as the same IEEE double.

    ``repr`` round-trips doubles exactly, so the fold the user gets is the
    fold they asked for (0.5 stays the exact binary 0.5; 0.3 is the same
    nearest-double both Python and the SQL parser pick).
    """
    return f"CAST({x!r} AS DOUBLE)"


def _grouped_fold(
    df: DataFrame,
    group_cols: Sequence[str],
    order_col: str,
    value_col: str,
    state_fields: str,
    step_sql: str,
    extra_group_cols: Sequence[str] = (),
) -> DataFrame:
    """Shared rollup-then-recurse skeleton: per group, sort (order, value)
    pairs, fold left emitting the full trajectory, re-explode to rows.

    ``state_fields`` declares the emitted struct's extra fields (SQL DDL,
    e.g. ``"l: double, b: double"``); ``step_sql`` computes them per step
    with ``e`` the current (o, x) struct and ``acc`` the prefix (so
    ``element_at(acc, -1)`` is the previous state, NULL-fielded on the
    first step). Groups with no group_cols fold the whole frame (one
    task — fine for a bounded spine, the only supported shape).
    """
    gb = [*group_cols, *extra_group_cols]
    folded = df.groupBy(*gb).agg(
        F.expr(
            "aggregate("
            f"  array_sort(collect_list(struct({order_col} AS o, {value_col} AS x))),"
            f"  CAST(array() AS array<struct<o: {df.schema[order_col].dataType.simpleString()},"
            f"                               x: {df.schema[value_col].dataType.simpleString()},"
            f"                               {state_fields}>>),"
            f"  (acc, e) -> concat(acc, array(struct(e.o AS o, e.x AS x, {step_sql}))))"
        ).alias("_ts_traj")
    )
    out = folded.select(*gb, F.explode("_ts_traj").alias("_ts_e"))
    keep = [F.col(f"_ts_e.o").alias(order_col), F.col("_ts_e.x").alias(value_col)]
    state_names = [f.split(":")[0].strip() for f in state_fields.split(",")]
    keep += [F.col(f"_ts_e.{n}").alias(n) for n in state_names]
    return out.select(*group_cols, *extra_group_cols, *keep)


def ewma(
    df: DataFrame,
    group_cols: Sequence[str],
    order_col: str,
    value_col: str,
    *,
    alpha: float = 0.5,
) -> DataFrame:
    """Exponentially weighted moving average per group → input columns +
    ``ewma`` (double, unrounded), seeded with the first observation.

    y_t = α·x_t + (1−α)·y_{t−1}, y_1 = x_1 — two multiplies + one add per
    step in a fixed order, so a SQL oracle replaying the same fold gets
    bit-identical doubles. One shuffle (the groupBy); the fold is
    O(len(series)) per group — an improvement over the prefix-list window
    form (O(n²) per group) the original ``timeseries_ewma`` query shipped
    with, at identical values (same left-associated chain).
    """
    _check_reserved(df)
    a, b = _lit(alpha), _lit(1.0 - alpha)
    step = (
        f"CASE WHEN size(acc) = 0 THEN CAST(e.x AS DOUBLE)"
        f"     ELSE {a} * e.x + {b} * element_at(acc, -1).ewma"
        f" END AS ewma"
    )
    return _grouped_fold(df, group_cols, order_col, value_col, "ewma: double", step)


def holt_linear(
    df: DataFrame,
    group_cols: Sequence[str],
    order_col: str,
    value_col: str,
    *,
    alpha: float = 0.5,
    beta: float = 0.25,
) -> DataFrame:
    """Holt double-exponential smoothing per group → input columns +
    ``level``, ``trend``, ``forecast`` (doubles, unrounded).

    l_t = α·y_t + (1−α)·(l_{t−1} + b_{t−1}); b_t = β·(l_t − l_{t−1}) +
    (1−β)·b_{t−1}; one-step-ahead forecast ŷ_t = l_{t−1} + b_{t−1};
    initialized l_1 = y_1, b_1 = 0, ŷ_1 = y_1. Exact binary fractions
    for α/β (0.5, 0.25 defaults) keep the chain engine-portable
    bit-for-bit; any float works at ulp-level fidelity.
    """
    _check_reserved(df)
    a, na = _lit(alpha), _lit(1.0 - alpha)
    b, nb = _lit(beta), _lit(1.0 - beta)
    prev_l = "element_at(acc, -1).level"
    prev_b = "element_at(acc, -1).trend"
    new_l = f"{a} * e.x + {na} * ({prev_l} + {prev_b})"
    step = (
        f"CASE WHEN size(acc) = 0 THEN CAST(e.x AS DOUBLE)"
        f"     ELSE {new_l} END AS level,"
        f" CASE WHEN size(acc) = 0 THEN CAST(0.0 AS DOUBLE)"
        f"     ELSE {b} * (({new_l}) - {prev_l}) + {nb} * {prev_b}"
        f" END AS trend,"
        f" CASE WHEN size(acc) = 0 THEN CAST(e.x AS DOUBLE)"
        f"     ELSE {prev_l} + {prev_b} END AS forecast"
    )
    return _grouped_fold(
        df,
        group_cols,
        order_col,
        value_col,
        "level: double, trend: double, forecast: double",
        step,
    )


def cusum(
    df: DataFrame,
    group_cols: Sequence[str],
    order_col: str,
    value_col: str,
    *,
    k_sigma: float = 0.5,
    alarm_sigma: float = 4.0,
) -> DataFrame:
    """Two-sided CUSUM drift detector (Page 1954) per group → input
    columns + ``cusum_hi``, ``cusum_lo``, ``sigma`` (doubles, unrounded)
    and ``alarm`` (boolean).

    S_hi = max(0, S_hi + x − μ − k·σ), S_lo = min(0, S_lo + x − μ + k·σ),
    alarm when S_hi > alarm·σ or S_lo < −alarm·σ. μ/σ are the group's own
    mean / population std, derived from Σv and Σv² accumulated in
    DECIMAL(38,0) for integral inputs (round 7: native BIGINT Σv² wraps
    past 2^63 with ANSI off — same fix as stats.welch_ttest; float
    inputs keep native double sums) — exact for integer inputs (supply
    counts or cents for bit-exact cross-engine replays) — then one
    fixed double chain. Two shuffles on the group key (moment
    rollup + fold), both map-side combinable.
    """
    _check_reserved(df)
    e = df
    # DECIMAL moments only for integral inputs; float inputs keep native
    # double sums (a DECIMAL(38,0) cast would round them).
    from pyspark.sql import types as T

    vt = e.schema[value_col].dataType
    integral = isinstance(vt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)) or (
        isinstance(vt, T.DecimalType) and vt.scale == 0
    )
    v0 = F.col(value_col)
    v1 = v0.cast("decimal(38,0)") if integral else v0
    stats = e.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("_ts_n"),
        F.sum(v1).alias("_ts_s1"),
        F.sum(v1 * v0).alias("_ts_s2"),
    )
    if integral:
        from dataframe_differ_spark.operators.numeric import split_cast_double

        s1d = split_cast_double(F.col("_ts_s1"))
        s2d = split_cast_double(F.col("_ts_s2"))
    else:
        s1d = F.col("_ts_s1").cast("double")
        s2d = F.col("_ts_s2").cast("double")
    params = stats.select(
        *group_cols,
        (s1d / F.col("_ts_n")).alias("_ts_mu"),
        F.sqrt((s2d - s1d * s1d / F.col("_ts_n")) / F.col("_ts_n")).alias(
            "_ts_sigma"
        ),
    )
    joined = (
        e.join(F.broadcast(params), list(group_cols))
        if group_cols
        else e.crossJoin(F.broadcast(params))
    )
    k, al = _lit(k_sigma), _lit(alarm_sigma)
    # size(acc) = 0 guard (round 7): element_at(acc, -1) on the empty
    # accumulator throws INVALID_ARRAY_INDEX under ANSI mode (Spark 4
    # default on a user's own session) — the coalesce-on-NULL form only
    # worked with ANSI off. Same guard as ewma/holt_linear.
    step = (
        f"greatest(CAST(0.0 AS DOUBLE),"
        f"  (CASE WHEN size(acc) = 0 THEN CAST(0.0 AS DOUBLE)"
        f"        ELSE element_at(acc, -1).cusum_hi END)"
        f"  + e.x - _ts_mu - {k} * _ts_sigma) AS cusum_hi,"
        f" least(CAST(0.0 AS DOUBLE),"
        f"  (CASE WHEN size(acc) = 0 THEN CAST(0.0 AS DOUBLE)"
        f"        ELSE element_at(acc, -1).cusum_lo END)"
        f"  + e.x - _ts_mu + {k} * _ts_sigma) AS cusum_lo"
    )
    out = _grouped_fold(
        joined,
        list(group_cols),
        order_col,
        value_col,
        "cusum_hi: double, cusum_lo: double",
        step,
        extra_group_cols=["_ts_mu", "_ts_sigma"],
    )
    return out.select(
        *group_cols,
        order_col,
        value_col,
        "cusum_hi",
        "cusum_lo",
        F.col("_ts_sigma").alias("sigma"),
        (
            (F.col("cusum_hi") > F.expr(al) * F.col("_ts_sigma"))
            | (F.col("cusum_lo") < -F.expr(al) * F.col("_ts_sigma"))
        ).alias("alarm"),
    )


def _is_integral(df: DataFrame, col: str) -> bool:
    from pyspark.sql import types as T

    vt = df.schema[col].dataType
    return isinstance(
        vt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    ) or (isinstance(vt, T.DecimalType) and vt.scale == 0)


def _lag_corr(pairs: DataFrame, integral: bool, out_name: str) -> DataFrame:
    """Per-lag Pearson r from (lag, x0, x1) pairs. With ``integral``,
    moments accumulate in DECIMAL(38,0) and convert via the shared
    split-cast device (exact to ~10^38 in the n·Σxy−Σx·Σy products —
    round 7: the previous native BIGINT sums wrapped past 2^63, i.e.
    ~1e8-count daily values); float inputs keep native double sums."""
    from dataframe_differ_spark.operators.numeric import split_cast_double

    x0, x1 = F.col("x0"), F.col("x1")
    if integral:
        x0a, x1a = x0.cast("decimal(38,0)"), x1.cast("decimal(38,0)")
        conv = split_cast_double
    else:
        x0a, x1a = x0, x1

        def conv(c):
            return c.cast("double")

    mom = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).alias("_ts_n"),
        F.sum(x0a).alias("_ts_sx"),
        F.sum(x1a).alias("_ts_sy"),
        F.sum(x0a * x1).alias("_ts_sxy"),
        F.sum(x0a * x0).alias("_ts_sxx"),
        F.sum(x1a * x1).alias("_ts_syy"),
    )
    n = F.col("_ts_n")
    num = conv(n * F.col("_ts_sxy") - F.col("_ts_sx") * F.col("_ts_sy"))
    den = F.sqrt(
        conv(n * F.col("_ts_sxx") - F.col("_ts_sx") * F.col("_ts_sx"))
    ) * F.sqrt(conv(n * F.col("_ts_syy") - F.col("_ts_sy") * F.col("_ts_sy")))
    return mom.select("lag", n.alias("n_pairs"), (num / den).alias(out_name))


def autocorr(
    df: DataFrame,
    index_col: str,
    value_col: str,
    *,
    max_lag: int = 7,
) -> DataFrame:
    """Lag-1..max_lag autocorrelation of an integer-indexed series →
    ``(lag, n_pairs, autocorr)`` (autocorr unrounded double).

    Pearson r between the series and its lag-k shift, paired by an
    equi-JOIN on ``index + lag`` — no global window, no ordering
    assumption, gap indices simply produce fewer pairs. Moments (Σx, Σy,
    Σxy, Σx², Σy²) accumulate in DECIMAL(38,0) for integral inputs
    (round 7: native BIGINT Σx² wraps past 2^63 at ~1e8-count daily
    series; float inputs keep native double sums) and convert through
    the shared split-cast device; the only float ops are the final
    sub/mul/sqrt/div chain. The lag join runs on the caller's (usually
    KB-sized) rollup spine; a broadcast of the max_lag-row lag frame
    keeps it shuffle-free.
    """
    _check_reserved(df)
    spark = df.sparkSession
    pts = df.select(F.col(index_col).alias("_ts_i"), F.col(value_col).alias("_ts_x"))
    lags = spark.range(1, max_lag + 1).select(F.col("id").cast("int").alias("lag"))
    b = pts.select(F.col("_ts_i").alias("_ts_j"), F.col("_ts_x").alias("_ts_y"))
    pairs = (
        pts.crossJoin(F.broadcast(lags))
        .join(b, F.col("_ts_i") + F.col("lag") == F.col("_ts_j"))
        .select("lag", F.col("_ts_x").alias("x0"), F.col("_ts_y").alias("x1"))
    )
    return _lag_corr(pairs, _is_integral(df, value_col), "autocorr")


def seasonality(
    df: DataFrame,
    period_col: str,
    value_col: str,
) -> DataFrame:
    """Ratio-to-overall-mean seasonal decomposition → input columns +
    ``seasonal_idx``, ``deseasonalized`` (doubles, unrounded).

    The first stage of an X-11-style decomposition: index(p) =
    mean(value | period = p) / mean(value), and each row's
    deseasonalized value is value / index(period). The caller supplies
    the period bucket column (ISO weekday, month, hour-of-day, ...). All
    means are single divisions of native-type sums (exact for integer
    inputs). One corpus-sized pass for the two rollups; the join back is
    a broadcast of the ≤|periods|-row index frame.
    """
    _check_reserved(df)
    per = df.groupBy(period_col).agg(
        F.count(F.lit(1)).alias("_ts_nd"), F.sum(value_col).alias("_ts_sd")
    )
    tot = df.agg(F.count(F.lit(1)).alias("_ts_nt"), F.sum(value_col).alias("_ts_st"))
    idx = (F.col("_ts_sd").cast("double") / F.col("_ts_nd")) / (
        F.col("_ts_st").cast("double") / F.col("_ts_nt")
    )
    return (
        df.join(F.broadcast(per), period_col)
        .crossJoin(F.broadcast(tot))
        .select(
            *df.columns,
            idx.alias("seasonal_idx"),
            (F.col(value_col) / idx).alias("deseasonalized"),
        )
    )


def theil_sen(
    df: DataFrame,
    index_col: str,
    value_col: str,
) -> DataFrame:
    """Theil–Sen robust trend fit → one row ``(slope, intercept,
    n_points, n_pairs)`` (doubles unrounded).

    Median of all pairwise slopes (Theil 1950, Sen 1968; breakdown point
    ~29%), intercept = median residual at that slope. The all-pairs join
    is over the CALLER'S series — intended for a bounded rollup spine
    (days, not events), where C(n,2) is sf-invariant. Every slope is one
    double division of native-type differences (exact for integer
    index/value); MEDIAN on doubles is an order statistic (engines agree:
    average of the two middles for even n).
    """
    _check_reserved(df)
    pts = df.select(F.col(index_col).alias("_ts_i"), F.col(value_col).alias("_ts_x"))
    b = pts.select(F.col("_ts_i").alias("_ts_j"), F.col("_ts_x").alias("_ts_y"))
    slopes = pts.join(b, F.col("_ts_j") > F.col("_ts_i")).select(
        (
            (F.col("_ts_y") - F.col("_ts_x")).cast("double")
            / (F.col("_ts_j") - F.col("_ts_i"))
        ).alias("_ts_s")
    )
    fit = slopes.agg(
        F.median("_ts_s").alias("slope"), F.count(F.lit(1)).alias("n_pairs")
    )
    res = pts.crossJoin(F.broadcast(fit)).agg(
        F.median(F.col("_ts_x") - F.col("slope") * F.col("_ts_i")).alias("intercept"),
        F.count(F.lit(1)).alias("n_points"),
        F.any_value("slope").alias("slope"),
        F.any_value("n_pairs").alias("n_pairs"),
    )
    return res.select("slope", "intercept", "n_points", "n_pairs")


def mad_outliers(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    *,
    thresh: float = 3.5,
) -> DataFrame:
    """Median-absolute-deviation outlier audit per group → ``(group...,
    med, mad, n_outliers, n)``.

    The robust location/scale screen: med = median(value), mad =
    median(|value − med|), outlier when |value − med| > thresh·mad.
    Exact grouped medians (order statistics — deterministic in any
    engine, no ulp risk on the threshold compare) + broadcast joins back;
    at 100 TB the exact median would switch to percentile_approx — a
    documented trade, not a plan change.
    """
    _check_reserved(df)
    gb = list(group_cols)
    med = df.groupBy(*gb).agg(F.median(value_col).alias("med"))
    joined = df.join(F.broadcast(med), gb) if gb else df.crossJoin(F.broadcast(med))
    dev = joined.withColumn("_ts_adev", F.abs(F.col(value_col) - F.col("med")))
    mad = dev.groupBy(*gb).agg(
        F.any_value("med").alias("_ts_m2"), F.median("_ts_adev").alias("mad")
    )
    dev2 = dev.join(F.broadcast(mad.drop("_ts_m2")), gb) if gb else dev.crossJoin(
        F.broadcast(mad.drop("_ts_m2"))
    )
    agg = dev2.groupBy(*gb).agg(
        F.any_value("med").alias("med"),
        F.any_value("mad").alias("mad"),
        F.count_if(F.col("_ts_adev") > F.lit(thresh) * F.col("mad")).alias(
            "n_outliers"
        ),
        F.count(F.lit(1)).alias("n"),
    )
    return agg.select(*gb, "med", "mad", "n_outliers", "n")


def crosscorr(
    a: DataFrame,
    b: DataFrame,
    index_col: str,
    value_col: str,
    *,
    max_lag: int = 7,
) -> DataFrame:
    """Lagged cross-correlation between two integer-indexed series →
    ``(lag, n_pairs, crosscorr)`` for lag in −max_lag..max_lag
    (crosscorr an unrounded double).

    Pearson r between series ``a`` at index i and series ``b`` at
    i + lag — positive lags mean "a leads b". The lead/lag detector for
    pipeline causality questions (do clicks today predict purchases in
    k days?). Same devices as :func:`autocorr`: pairing by an
    ``index + lag`` equi-join (gap-tolerant, no window), moments in
    DECIMAL(38,0) for integral inputs + split-cast conversion (round 7 —
    see :func:`autocorr`), one final float chain per lag. Both inputs
    are expected to be rollup spines; the 2·max_lag+1-row lag frame
    broadcasts.
    """
    _check_reserved(a)
    _check_reserved(b)
    spark = a.sparkSession
    pa = a.select(F.col(index_col).alias("_ts_i"), F.col(value_col).alias("_ts_x"))
    pb = b.select(F.col(index_col).alias("_ts_j"), F.col(value_col).alias("_ts_y"))
    lags = spark.range(-max_lag, max_lag + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    pairs = (
        pa.crossJoin(F.broadcast(lags))
        .join(pb, F.col("_ts_i") + F.col("lag") == F.col("_ts_j"))
        .select("lag", F.col("_ts_x").alias("x0"), F.col("_ts_y").alias("x1"))
    )
    integral = _is_integral(a, value_col) and _is_integral(b, value_col)
    return _lag_corr(pairs, integral, "crosscorr")


def _packed_series(
    df: DataFrame, group_cols: Sequence[str], order_col: str, value_col: str
) -> DataFrame:
    """Per group: the ordered spine ``ov`` and its values as doubles ``xv``."""
    return df.groupBy(*group_cols).agg(
        F.expr(
            f"array_sort(collect_list(struct({order_col} AS o, {value_col} AS x)))"
        ).alias("_ts_p")
    ).select(
        *group_cols,
        F.expr("transform(_ts_p, e -> e.o)").alias("ov"),
        F.expr("transform(_ts_p, e -> CAST(e.x AS DOUBLE))").alias("xv"),
    )


def _explode_trajectory(
    tails: DataFrame,
    group_cols: Sequence[str],
    order_col: str,
    value_col: str,
    fields: Sequence[str],
    round_dp: int | None,
) -> DataFrame:
    """One row per (``_ts_ot``, ``_ts_xt``, ``_ts_rows``) element of
    ``tails``: group cols, ``order_col``, ``value_col`` and the named
    trajectory ``fields``, each rounded to ``round_dp`` when given."""
    zipped = tails.select(
        *group_cols,
        F.explode(F.arrays_zip("_ts_ot", "_ts_xt", "_ts_rows")).alias("_ts_e"),
    )
    cols = [
        F.col("_ts_e._ts_ot").alias(order_col),
        F.col("_ts_e._ts_xt").alias(value_col),
    ]
    for fname in fields:
        c = F.col("_ts_e._ts_rows")[fname]
        cols.append(
            (F.round(c, round_dp) if round_dp is not None else c).alias(fname)
        )
    return zipped.select(*group_cols, *cols)


def holt_winters(
    df: DataFrame,
    group_cols: Sequence[str],
    order_col: str,
    value_col: str,
    *,
    period: int = 7,
    alpha: float = 0.25,
    beta: float = 0.125,
    gamma: float = 0.25,
    round_dp: int | None = None,
) -> DataFrame:
    """Holt–Winters ADDITIVE triple exponential smoothing per group →
    one row per post-warmup observation: group cols + ``order_col`` +
    ``value_col`` + ``level``, ``trend``, ``seasonal``, ``fitted`` (the
    one-step-ahead forecast l+b+s made BEFORE seeing the value).

    Recurrences (t > 2·period, m = period):
    ŷ_t = l_{t−1} + b_{t−1} + s_{t−m};
    l_t = α(y_t − s_{t−m}) + (1−α)(l_{t−1} + b_{t−1});
    b_t = β(l_t − l_{t−1}) + (1−β)b_{t−1};
    s_t = γ(y_t − l_t) + (1−γ)s_{t−m}.
    Init (classical two-season): l_{2m} = mean(season 2), b_{2m} =
    (mean(season 2) − mean(season 1))/m, s = the two seasons'
    demeaned averages. Groups shorter than 2m+1 rows emit nothing.
    Defaults are exact binary fractions (¼, ⅛) so the chain is
    engine-portable bit-for-bit; ``round_dp`` optionally rounds the four
    outputs for hash-compared replays.

    Plan: ONE shuffle (the groupBy); the per-group fold is O(len) with
    the seasonal state carried as a list — the ``ewma``/``holt_linear``
    rollup-then-recurse shape, supported for bounded spines (daily /
    hourly rollups), which is where seasonal smoothing is computed at
    100 TB anyway.
    """
    _check_reserved(df)
    m = int(period)
    if m < 2:
        raise ValueError("period must be >= 2")
    a, na = _lit(alpha), _lit(1.0 - alpha)
    b, nb = _lit(beta), _lit(1.0 - beta)
    g, ng = _lit(gamma), _lit(1.0 - gamma)
    s1 = f"(aggregate(slice(xv, 1, {m}), CAST(0.0 AS DOUBLE), (q, v) -> q + v) / {m}.0)"
    s2 = (
        f"(aggregate(slice(xv, {m + 1}, {m}), CAST(0.0 AS DOUBLE),"
        f" (q, v) -> q + v) / {m}.0)"
    )
    seas0 = (
        f"zip_with(slice(xv, 1, {m}), slice(xv, {m + 1}, {m}),"
        f" (p, q) -> ((p - {s1}) + (q - {s2})) / 2.0)"
    )
    sm = f"element_at(acc.seas, -{m})"
    lp = f"({a} * (v - {sm}) + {na} * (acc.l + acc.b))"
    bp = f"({b} * ({lp} - acc.l) + {nb} * acc.b)"
    sp = f"({g} * (v - {lp}) + {ng} * {sm})"
    fit = f"(acc.l + acc.b + {sm})"
    traj = (
        f"aggregate(slice(xv, {2 * m + 1}, greatest(size(xv) - {2 * m}, 0)),"
        f" named_struct('l', {s2}, 'b', ({s2} - {s1}) / {m}.0,"
        f"              'seas', {seas0},"
        "               'rows', CAST(array() AS array<struct<"
        "                 level: double, trend: double,"
        "                 seasonal: double, fitted: double>>)),"
        f" (acc, v) -> named_struct('l', {lp}, 'b', {bp},"
        f"   'seas', concat(acc.seas, array({sp})),"
        f"   'rows', concat(acc.rows, array(named_struct("
        f"     'level', {lp}, 'trend', {bp},"
        f"     'seasonal', {sp}, 'fitted', {fit})))),"
        "  acc -> acc.rows)"
    )
    folded = _packed_series(df, group_cols, order_col, value_col)
    tail = f"greatest(size(xv) - {2 * m}, 0)"
    tails = folded.select(
        *group_cols,
        F.expr(f"slice(ov, {2 * m + 1}, {tail})").alias("_ts_ot"),
        F.expr(f"slice(xv, {2 * m + 1}, {tail})").alias("_ts_xt"),
        F.expr(traj).alias("_ts_rows"),
    )
    return _explode_trajectory(
        tails,
        group_cols,
        order_col,
        value_col,
        ["level", "trend", "seasonal", "fitted"],
        round_dp,
    )


def kalman_level(
    df: DataFrame,
    group_cols: Sequence[str],
    order_col: str,
    value_col: str,
    *,
    q_var: float = 0.25,
    r_var: float = 4.0,
    p0: float = 16.0,
    round_dp: int | None = None,
) -> DataFrame:
    """Local-level (random-walk + noise) Kalman filter per group → one
    row per observation AFTER the first: group cols + ``order_col`` +
    ``value_col`` + ``level``, ``gain``, ``variance`` (round 8).

    The adaptive-gain upgrade of :func:`ewma`: where EWMA's smoothing
    weight is fixed, the Kalman gain K_t = P⁻_t / (P⁻_t + R) starts
    high (trust the data while the state is uncertain, P_1 = ``p0``)
    and settles to the steady-state value determined by the
    process/observation noise ratio ``q_var``/``r_var``. Recurrences:
    P⁻ = P + Q;  K = P⁻/(P⁻ + R);  l ← l + K·(y − l);  P ← (1−K)·P⁻,
    initialized l_1 = y_1. Defaults are exact binary fractions so the
    fold is the identical IEEE chain on any engine; ``round_dp``
    optionally rounds the three outputs for hash-compared replays.

    Plan: ONE shuffle (the groupBy); the per-group fold is O(len) via
    the ``aggregate`` HOF over the collected, sorted observation array —
    the ``ewma``/``holt_*`` rollup-then-recurse shape, meant for bounded
    spines (daily/hourly rollups), which is where filtering runs at
    100 TB anyway. Groups with a single observation emit nothing.
    """
    _check_reserved(df)
    q, r, p_init = _lit(q_var), _lit(r_var), _lit(p0)
    pp = f"(acc.p + {q})"
    kk = f"({pp} / ({pp} + {r}))"
    lp = f"(acc.l + {kk} * (v - acc.l))"
    ppost = f"(({_lit(1.0)} - {kk}) * {pp})"
    traj = (
        "aggregate(slice(xv, 2, greatest(size(xv) - 1, 0)),"
        f" named_struct('l', element_at(xv, 1), 'p', {p_init},"
        "               'rows', CAST(array() AS array<struct<"
        "                 level: double, gain: double, variance: double>>)),"
        f" (acc, v) -> named_struct('l', {lp}, 'p', {ppost},"
        f"   'rows', concat(acc.rows, array(named_struct("
        f"     'level', {lp}, 'gain', {kk}, 'variance', {ppost})))),"
        "  acc -> acc.rows)"
    )
    folded = _packed_series(df, group_cols, order_col, value_col)
    tails = folded.select(
        *group_cols,
        F.expr("slice(ov, 2, greatest(size(ov) - 1, 0))").alias("_ts_ot"),
        F.expr("slice(xv, 2, greatest(size(xv) - 1, 0))").alias("_ts_xt"),
        F.expr(traj).alias("_ts_rows"),
    )
    return _explode_trajectory(
        tails, group_cols, order_col, value_col, ["level", "gain", "variance"], round_dp
    )
