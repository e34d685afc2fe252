"""Wave-4 statistics / evaluation / graph operators.

Distribution-drift testing (exact two-sample Kolmogorov–Smirnov via the
distributed-rank operator, Jensen–Shannon divergence of token mixtures),
ranking-quality evaluation (NDCG@10 of the LSH ANN vs the exact top-k),
Unicode text normalization (NFC + zero-width/whitespace cleanup with
planted NFD sequences), bounded-hop BFS over the shared co-purchase
graph, and Holt double-exponential smoothing on the daily event spine.

Every query here is full-oracle. Parity devices reused from earlier
waves: integer cross-multiplication instead of float ECDF comparison
(KS), per-term rounding + DECIMAL accumulation for libm-tainted sums
(JSD, NDCG), sequential folds / recursive CTEs with identical
left-associated IEEE op chains (Holt, cf. events_changepoint_cusum),
and oracle-by-composition (NDCG embeds the two retrieval queries'
registered oracle texts, so the eval cannot drift from what the index
actually returns).
"""

from __future__ import annotations

import pandas as pd  # noqa: F401  (resolves pandas_udf string annotations)
from pyspark.sql import Window  # noqa: F401  (kept for parity with siblings)
from pyspark.sql import functions as F

from dataframe_differ_spark.operators.numeric import (
    split_cast_double as _split_dbl,
    split_cast_sql as _split_sql,
)
from dataframe_differ_spark.operators.ranks import ranked
from dataframe_differ_spark.queries import REGISTRY, register
from dataframe_differ_spark.queries.composites import (
    copurchase_edges,
    copurchase_edges_ctes,
    customer_cents,
)
from dataframe_differ_spark.tables import load_table

# ---------------------------------------------------------------------------
# Exact two-sample Kolmogorov-Smirnov drift test
# ---------------------------------------------------------------------------

# The two-cohort ECDF machinery lives in operators/drift.py since the
# round-6 extraction (drift.ks_test); round 7 replaced its base-2^31
# packed running sum with two independent running sums (no overflow cliff).

_KS_SQL = f"""
WITH flags AS (
  SELECT o_totalprice AS v,
         substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) < '8' AS is_base
  FROM orders),
g AS (
  SELECT v,
         CAST(SUM(CASE WHEN is_base THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         CAST(COUNT(*) AS BIGINT) AS ct
  FROM flags GROUP BY v),
cum AS (
  SELECT v,
         CAST(SUM(ca) OVER (ORDER BY v) AS BIGINT) AS cum_a,
         CAST(SUM(ct) OVER (ORDER BY v) AS BIGINT) AS cum_t,
         CAST((SELECT SUM(ca) FROM g) AS BIGINT) AS n_a,
         CAST((SELECT SUM(ct) FROM g) AS BIGINT) AS n_t
  FROM g),
scored AS (
  SELECT v, n_a, n_t - n_a AS n_b,
         ABS(cum_a * (n_t - n_a) - (cum_t - cum_a) * n_a) AS num
  FROM cum),
mx AS (SELECT MAX(num) AS d_num FROM scored)
SELECT n_a AS n_base, n_b AS n_cur, CAST(d_num AS BIGINT) AS d_num,
       ROUND(CAST(d_num AS DOUBLE) / (n_a * n_b), 9) AS d_stat,
       MIN(v) AS at_value,
       ROUND(ROUND(CAST(d_num AS DOUBLE) / (n_a * n_b), 9)
             * sqrt(CAST(n_a * n_b AS DOUBLE) / (n_a + n_b)), 9)
         AS lambda_stat
FROM scored CROSS JOIN mx
WHERE num = d_num
GROUP BY n_a, n_b, d_num
"""


@register("drift_ks_test", oracle=_KS_SQL)
def q_drift_ks_test(spark, sf_dir):
    """Exact two-sample Kolmogorov-Smirnov test between order cohorts.

    The nonparametric companion to `drift_psi`: D = max over values of
    |F_base(x) - F_cur(x)| between the two md5-split cohorts, computed
    EXACTLY and distributed. The ECDFs come from per-distinct-value
    counts cumulated by `operators.ranks.ranked` (two-phase
    boundary-bucket running sums — no single-partition window, the
    round-3 scale fix applied from the start). The two cohorts ride as
    two independent running sums in the same rank pass (round 7 — no
    packed-integer overflow cliff).
    The max-gap compare is pure BIGINT cross-multiplication
    (|cum_a*n_b - cum_b*n_a|), so no float enters until the final
    D = num/(n_a*n_b) division; the asymptotic lambda = D*sqrt(n_a*n_b/
    (n_a+n_b)) multiplies the ROUNDED D so both engines agree bit-wise.
    At 100 TB: one shuffle to distinct values, one bucketed rank pass,
    then aggregates — scan-bound.
    """
    from dataframe_differ_spark.operators.drift import ks_test

    orders = load_table(spark, sf_dir, "orders")
    flags = orders.select(
        F.col("o_totalprice").alias("v"),
        (
            F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1) < "8"
        ).alias("is_base"),
    )
    return ks_test(flags, "v", "is_base", round_dp=9)


# ---------------------------------------------------------------------------
# Jensen-Shannon divergence of the token mixture between document cohorts
# ---------------------------------------------------------------------------

_JSD_SQL = """
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS token,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '8' AS is_base
  FROM documents),
per AS (
  SELECT token,
         CAST(SUM(CASE WHEN is_base THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         CAST(SUM(CASE WHEN is_base THEN 0 ELSE 1 END) AS BIGINT) AS cb
  FROM tok GROUP BY token),
tot AS (
  SELECT CAST(SUM(ca) AS BIGINT) AS ta, CAST(SUM(cb) AS BIGINT) AS tb
  FROM per),
c AS (
  SELECT token, ca, cb, ta, tb,
         ROUND(
           0.5 * (CASE WHEN ca > 0 THEN (CAST(ca AS DOUBLE) / ta)
                   * ln((CAST(ca AS DOUBLE) / ta)
                        / (0.5 * (CAST(ca AS DOUBLE) / ta
                                  + CAST(cb AS DOUBLE) / tb)))
                  ELSE 0.0 END)
         + 0.5 * (CASE WHEN cb > 0 THEN (CAST(cb AS DOUBLE) / tb)
                   * ln((CAST(cb AS DOUBLE) / tb)
                        / (0.5 * (CAST(ca AS DOUBLE) / ta
                                  + CAST(cb AS DOUBLE) / tb)))
                  ELSE 0.0 END), 12) AS contrib
  FROM per CROSS JOIN tot),
j AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS vocab_size,
         CAST(SUM(CAST(contrib AS DECIMAL(38, 12))) AS DOUBLE) AS jsd
  FROM c)
SELECT token, ca AS cnt_base, cb AS cnt_cur, contrib AS contrib_nats,
       ROUND(j.jsd, 9) AS jsd_nats, j.vocab_size,
       ta AS n_tokens_base, tb AS n_tokens_cur
FROM c CROSS JOIN j
ORDER BY contrib DESC, token LIMIT 10
"""


@register("drift_js_divergence", oracle=_JSD_SQL)
def q_drift_js_divergence(spark, sf_dir):
    """Jensen-Shannon divergence of token distributions between cohorts.

    The data-mixture drift metric an LLM pipeline actually watches: did
    the token distribution of this week's crawl shift against the
    baseline? Documents md5-split into two cohorts, one groupBy(token)
    shuffle with map-side combine builds both unigram counts in a single
    pass, and JSD(P||Q) = 0.5*KL(P||M) + 0.5*KL(Q||M) (M the midpoint)
    accumulates per-token contributions. `ln` is libm-tainted, so each
    contribution is rounded to 12 dp and summed as DECIMAL(38,12) —
    order-free and bit-identical across engines; the reported JSD is
    that deterministic rounded-term sum (error <= vocab * 5e-13).
    Output: the 10 most-diverging tokens plus the corpus-level total.
    At 100 TB: one scan, one token shuffle, a broadcast 1-row totals
    join, and a TakeOrdered top-10 — scan-bound.
    """
    from dataframe_differ_spark.operators.drift import js_divergence

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(F.split("text", " ")).alias("token"),
        (
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) < "8"
        ).alias("is_base"),
    )
    c = js_divergence(tok, "token", "is_base", contrib_dp=12)
    return (
        c.orderBy(F.col("contrib").desc(), "token")
        .limit(10)
        .select(
            "token",
            "cnt_base",
            "cnt_cur",
            F.col("contrib").alias("contrib_nats"),
            F.round("jsd", 9).alias("jsd_nats"),
            "vocab_size",
            F.col("n_base").alias("n_tokens_base"),
            F.col("n_cur").alias("n_tokens_cur"),
        )
    )


# ---------------------------------------------------------------------------
# NDCG@10 of the LSH ANN index vs the exact top-k (by composition)
# ---------------------------------------------------------------------------


def _ndcg_oracle() -> str:
    exact_sql = REGISTRY["sim_topk"].oracle
    approx_sql = REGISTRY["sim_topk_lsh"].oracle
    return f"""
WITH ex AS ({exact_sql}),
ap AS ({approx_sql}),
g AS (
  SELECT ap.query_id, ap.rank,
         CASE WHEN ex.vec_id IS NOT NULL
              THEN ROUND(1.0 / log2(ap.rank + 1), 9) ELSE 0.0 END AS gain
  FROM ap LEFT JOIN ex
    ON ex.query_id = ap.query_id AND ex.vec_id = ap.vec_id),
dcg AS (
  SELECT query_id,
         CAST(SUM(CASE WHEN gain > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
         CAST(SUM(CAST(gain AS DECIMAL(20, 9))) AS DOUBLE) AS dcg
  FROM g GROUP BY query_id),
idcg AS (
  SELECT query_id,
         CAST(SUM(CAST(ROUND(1.0 / log2(rank + 1), 9) AS DECIMAL(20, 9)))
              AS DOUBLE) AS idcg
  FROM ex GROUP BY query_id)
SELECT d.query_id, d.n_hits, d.dcg, i.idcg,
       ROUND(d.dcg / i.idcg, 9) AS ndcg
FROM dcg d JOIN idcg i ON d.query_id = i.query_id
"""


@register("eval_ndcg_retrieval", oracle=_ndcg_oracle())
def q_eval_ndcg_retrieval(spark, sf_dir):
    """NDCG@10 of the LSH ANN index against the exact top-k, per query.

    Rank-aware companion to `eval_retrieval_recall`: recall says how many
    of the true top-10 the index returns, NDCG says WHERE it puts them.
    Binary relevance (membership in the exact top-10 from `sim_topk`),
    gain 1/log2(rank+1) at the LSH result's rank, ideal DCG computed
    from the exact frame's own ranks — both engines evaluate the same 10
    log2 constants, rounded to 9 dp before DECIMAL summation, so the
    libm difference cannot surface. Composed from the two registered
    queries (Spark calls their functions, oracle embeds their oracle
    texts), so the eval can never drift from the real index. The eval
    itself joins two <= 50-row frames; cost is whatever the inputs cost.
    """
    from dataframe_differ_spark.queries.vectors import (
        q_sim_topk,
        q_sim_topk_lsh,
    )

    from dataframe_differ_spark.operators.evalmetrics import ndcg_at_k

    ex = q_sim_topk(spark, sf_dir).select("query_id", "vec_id", "rank")
    ap = q_sim_topk_lsh(spark, sf_dir).select("query_id", "vec_id", "rank")
    nd = ndcg_at_k(ex, ap, "query_id", "vec_id", "rank", gain_decimals=9)
    return nd.select(
        "query_id",
        "n_hits",
        "dcg",
        "idcg",
        F.round("ndcg", 9).alias("ndcg"),
    )


# ---------------------------------------------------------------------------
# Unicode NFC normalization + cleanup (planted NFD sequences)
# ---------------------------------------------------------------------------

# Planted prefix: NFD e+combining-acute twice, em dash, NFD i+diaeresis,
# NBSP, precomposed e-acute (NFC-stable), zero-width space, double space.
# Built with explicit escapes so the NFD sequences are REALLY decomposed
# in source (a pasted "e-acute" would silently be NFC). The corpus itself
# is pure ASCII (measured), so the planted rows are what exercise the
# normalizer; the untouched rows test the no-op path.
_PLANT = "Re\u0301sume\u0301 \u2014 nai\u0308ve\u00a0caf\u00e9\u200b  "
_ZW_CLASS = "[\u200b\ufeff]"  # zero-width space, BOM
_NBSP_CLASS = "[\u00a0]"
_WS_CLASS = "[ \t\n\r]+"

_NORM_SQL = f"""
WITH m AS (
  SELECT doc_id, doc_id % 5 = 0 AS planted,
         CASE WHEN doc_id % 5 = 0 THEN '{_PLANT}' || text ELSE text END
           AS raw
  FROM documents),
n AS (
  SELECT doc_id, planted, raw,
         trim(regexp_replace(
           regexp_replace(
             regexp_replace(nfc_normalize(raw), '{_ZW_CLASS}', '', 'g'),
             '{_NBSP_CLASS}', ' ', 'g'),
           '{_WS_CLASS}', ' ', 'g')) AS norm
  FROM m)
SELECT doc_id, planted,
       CAST(length(raw) AS BIGINT) AS len_raw,
       CAST(length(norm) AS BIGINT) AS len_norm,
       norm <> raw AS changed,
       md5(norm) AS norm_md5
FROM n
"""


@register("text_normalize_unicode", oracle=_NORM_SQL)
def q_text_normalize_unicode(spark, sf_dir):
    """Unicode NFC normalization + zero-width/whitespace cleanup.

    The first stage of every real text pipeline: canonicalize combining
    sequences (NFD e+U+0301 -> precomposed), drop zero-width characters
    (ZWSP, BOM), turn NBSP into plain space, collapse whitespace runs,
    trim. The corpus is pure ASCII, so deterministic NFD/ZWSP/NBSP
    sequences are PLANTED on every 5th doc — built by the same CASE
    expression on both engines — and the oracle checks the normalized
    md5 of every row (planted rows exercise the normalizer, the rest
    the no-op path). NFC itself is the one genuinely Python step
    (`unicodedata.normalize` in an Arrow-batched pandas UDF — Spark has
    no NFC builtin); everything else is JVM regexp. At 100 TB this is
    partition-local, shuffle-free, and Arrow-vectorized — the multimodal
    decode shape.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _nfc(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(
            lambda x: unicodedata.normalize("NFC", x) if x is not None else None
        )

    docs = load_table(spark, sf_dir, "documents")
    planted = F.col("doc_id") % 5 == 0
    raw = F.when(planted, F.concat(F.lit(_PLANT), F.col("text"))).otherwise(
        F.col("text")
    )
    m = docs.select(
        "doc_id", planted.alias("planted"), raw.alias("raw")
    )
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(_nfc(F.col("raw")), "[​﻿]", ""),
                "[ ]",
                " ",
            ),
            "[ \t\n\r]+",
            " ",
        )
    )
    n = m.withColumn("norm", norm)
    return n.select(
        "doc_id",
        "planted",
        F.length("raw").cast("long").alias("len_raw"),
        F.length("norm").cast("long").alias("len_norm"),
        (F.col("norm") != F.col("raw")).alias("changed"),
        F.md5("norm").alias("norm_md5"),
    )


# ---------------------------------------------------------------------------
# Bounded-hop BFS over the shared co-purchase graph
# ---------------------------------------------------------------------------

_BFS_SQL = f"""
WITH RECURSIVE
{copurchase_edges_ctes(mat="MATERIALIZED")},
sym AS MATERIALIZED (
  SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges),
src AS MATERIALIZED (SELECT MIN(u) AS n FROM edges),
bfs(n, hop) AS (
  SELECT n, 0 FROM src
  UNION
  SELECT sym.v, bfs.hop + 1
  FROM bfs JOIN sym ON sym.u = bfs.n
  WHERE bfs.hop < 4)
SELECT bfs.n AS part, CAST(MIN(bfs.hop) AS INTEGER) AS hop
FROM bfs GROUP BY bfs.n
"""


@register("graph_bfs_hops", oracle=_BFS_SQL)
def q_graph_bfs_hops(spark, sf_dir):
    """Bounded-hop BFS shortest distances on the co-purchase graph.

    Single-source shortest hop count (<= 4 hops) from the smallest part
    id, over the SAME basket-sampled graph as `graph_triangle_count`
    (shared `copurchase_edges` construction — one definition, two
    queries). Spark runs textbook frontier BFS: each level joins the
    frontier against the symmetrized edge list, anti-joins the visited
    set, and localCheckpoints to keep lineage flat — O(levels) jobs,
    each one hash shuffle on uniform vertex keys, the Pregel shape that
    scales to any graph that fits a cluster. The oracle is a recursive
    CTE whose UNION dedup bounds expansion to <= hops * |V| rows with a
    final min(hop) per node — identical reachability semantics.

    Thin binding over the parametric :func:`operators.graph.bfs_hops`
    (round-6 extraction) — the algorithm above lives there, callable on
    any edge DataFrame.
    """
    from dataframe_differ_spark.operators.graph import bfs_hops

    edges = copurchase_edges(spark, sf_dir)
    roots = edges.agg(F.min("u").alias("node"))
    return bfs_hops(edges, roots, src="u", dst="v", max_hops=4).select(
        F.col("node").alias("part"), "hop"
    )


# ---------------------------------------------------------------------------
# Holt double-exponential smoothing on the daily event spine
# ---------------------------------------------------------------------------

# alpha = 0.5, beta = 0.25: exact binary fractions, so the only float
# error is in the additions — and those run in the identical
# left-associated order on both engines (the CUSUM device).
_HOLT_SQL = """
WITH RECURSIVE
daily AS MATERIALIZED (
  SELECT event_type, CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY event_type, CAST(ts AS DATE)),
idx AS MATERIALIZED (
  SELECT event_type, d, x,
         CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d)
              AS BIGINT) AS i
  FROM daily),
h(event_type, i, d, x, l, b, yhat) AS (
  SELECT event_type, i, d, x, CAST(x AS DOUBLE), CAST(0.0 AS DOUBLE),
         CAST(x AS DOUBLE)
  FROM idx WHERE i = 1
  UNION ALL
  SELECT idx.event_type, idx.i, idx.d, idx.x,
         0.5 * idx.x + 0.5 * (h.l + h.b),
         0.25 * ((0.5 * idx.x + 0.5 * (h.l + h.b)) - h.l) + 0.75 * h.b,
         h.l + h.b
  FROM h JOIN idx ON idx.event_type = h.event_type AND idx.i = h.i + 1)
SELECT event_type, CAST(d AS STRING) AS day, x AS n_events,
       ROUND(yhat, 9) AS forecast, ROUND(x - yhat, 9) AS error,
       ROUND(l, 9) AS level, ROUND(b, 9) AS trend
FROM h
"""


@register("events_holt_linear", oracle=_HOLT_SQL)
def q_events_holt_linear(spark, sf_dir):
    """Holt linear (double-exponential) smoothing of daily event volume.

    The forecasting layer above `timeseries_ewma`: per event type,
    level l_t = alpha*y_t + (1-alpha)*(l_{t-1} + b_{t-1}) and trend
    b_t = beta*(l_t - l_{t-1}) + (1-beta)*b_{t-1} with alpha=0.5,
    beta=0.25 (exact binary fractions), one-step-ahead forecast
    yhat_t = l_{t-1} + b_{t-1}, initialized l_1 = y_1, b_1 = 0. The
    inherently sequential recursion runs as ONE partitioned fold per
    event_type over the collected ~31-day spine (the
    events_changepoint_cusum device — a single codegen'd expression,
    not a per-step Spark job), while the oracle steps the identical
    IEEE chain through a recursive CTE — bit-equal before the cosmetic
    9 dp round. At 100 TB only the daily rollup touches the corpus.

    Thin binding over the parametric
    :func:`operators.timeseries.holt_linear` (round-6 extraction — the
    fold described above lives there, callable on any grouped series).
    """
    from dataframe_differ_spark.operators.timeseries import holt_linear

    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(F.count(F.lit(1)).alias("x"))
    h = holt_linear(daily, ["event_type"], "d", "x", alpha=0.5, beta=0.25)
    return h.select(
        "event_type",
        F.col("d").cast("string").alias("day"),
        F.col("x").alias("n_events"),
        F.round("forecast", 9).alias("forecast"),
        F.round(F.col("x") - F.col("forecast"), 9).alias("error"),
        F.round("level", 9).alias("level"),
        F.round("trend", 9).alias("trend"),
    )


# ---------------------------------------------------------------------------
# Poisson bootstrap confidence interval for the mean order price
# ---------------------------------------------------------------------------

_BOOT_B = 100
# Poisson(1) CDF thresholds (shared 12-dp constants, k = 0..6; the ~8e-5
# tail maps to weight 7). Hard-coded so neither engine ever calls exp().
_POIS_CDF = [
    0.367879441171,
    0.735758882343,
    0.919698602929,
    0.981011843124,
    0.996340153173,
    0.999405815182,
    0.999916758851,
]


def _pois_case_sql(u: str) -> str:
    branches = " ".join(
        f"WHEN {u} < {c} THEN {k}" for k, c in enumerate(_POIS_CDF)
    )
    return f"CASE {branches} ELSE 7 END"


_BOOT_SQL = f"""
WITH o AS (
  SELECT o_orderkey, CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders),
rep AS (
  SELECT o.o_orderkey, o.cents, b,
         ('0x' || substr(md5(CAST(o.o_orderkey AS VARCHAR) || ':'
                             || CAST(b // 4 AS VARCHAR)),
                         1 + (b % 4) * 8, 8))::BIGINT
           / 4294967296.0 AS u
  FROM o CROSS JOIN (SELECT CAST(unnest(range({_BOOT_B})) AS INTEGER) AS b)),
w AS (SELECT b, cents, {_pois_case_sql('u')} AS wt FROM rep),
means AS (
  SELECT b, CAST(SUM(wt * cents) AS BIGINT) AS s,
         CAST(SUM(wt) AS BIGINT) AS n,
         CAST(SUM(wt * cents) AS DOUBLE) / CAST(SUM(wt) AS BIGINT) AS m
  FROM w GROUP BY b),
rk AS (
  SELECT a.b, a.m, CAST(COUNT(*) AS BIGINT) AS r
  FROM means a JOIN means x
    ON (x.m < a.m) OR (x.m = a.m AND x.b <= a.b)
  GROUP BY a.b, a.m),
stats AS (
  SELECT CAST(SUM(CAST(ROUND(m, 9) AS DECIMAL(38, 9))) AS DOUBLE) AS s1,
         CAST(SUM(CAST(ROUND(m * m, 6) AS DECIMAL(38, 6))) AS DOUBLE) AS s2,
         CAST(COUNT(*) AS BIGINT) AS nb
  FROM means),
ci AS (
  SELECT MAX(CASE WHEN r = 3 THEN m END) AS ci_lo,
         MAX(CASE WHEN r = 98 THEN m END) AS ci_hi
  FROM rk),
full_mean AS (
  SELECT CAST(SUM(cents) AS DOUBLE) / COUNT(*) AS mf,
         CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM o)
SELECT n_orders, nb AS b_replicates,
       ROUND(mf, 4) AS mean_full_cents,
       ROUND(ci_lo, 4) AS ci_lo_cents,
       ROUND(ci_hi, 4) AS ci_hi_cents,
       ROUND(sqrt((s2 - s1 * s1 / nb) / (nb - 1)), 4) AS se_boot_cents
FROM full_mean CROSS JOIN stats CROSS JOIN ci
"""


@register("stats_bootstrap_ci", oracle=_BOOT_SQL)
def q_stats_bootstrap_ci(spark, sf_dir):
    """Poisson bootstrap CI for the mean order price (Chamandy et al.).

    THE bootstrap that works at 100 TB: instead of materializing B
    resamples of n rows, each row draws an independent Poisson(1)
    weight per replicate — one scan, B=100 counters per partition,
    map-side combinable, no resample shuffle (the Google "Estimating
    Uncertainty for Massive Data Streams" recipe). Determinism devices:
    weights come from md5-uniforms against 7 hard-coded 12-dp CDF
    thresholds (no exp/rng on either engine); replicate sums are exact
    integer cents; the 95% CI is nearest-rank order statistics (ranks
    3/98 of 100) via a broadcast triangle join over the 100-row means
    frame (window-free, the eval_auc device); the bootstrap SE
    accumulates 9/6-dp-rounded DECIMAL moments. Outputs round at 4 dp:
    cents-scale values sit near 2.5e7 where the double ulp (~4e-9)
    exceeds 5e-10, so a 9-dp round would be sub-ulp and engine-
    dependent (measured: adjacent doubles on ci_hi).
    """
    orders = load_table(spark, sf_dir, "orders")
    o = orders.select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    # One md5 yields FOUR 32-bit uniforms: hash per (row, b DIV 4) group,
    # slice 8 hex chars per replicate slot — 25 hashes/row instead of 100
    # (the hashing dominated this query's profile). The oracle computes
    # the identical u(b) = slice(md5(key:b//4), b%4) directly.
    # The x25 explode + hashing is CPU-bound: a small parquet scan arrives
    # as ONE partition (maxPartitionBytes), which would serialize all the
    # md5 work on a single task. Fan the 150k input rows across the
    # cluster FIRST (tiny shuffle), then explode — measured 10x on the
    # replicate-sum stage at sf0.1.
    par = spark.sparkContext.defaultParallelism
    rep_g = o.repartition(par, "o_orderkey").select(
        "o_orderkey",
        "cents",
        F.explode(
            F.sequence(F.lit(0), F.lit(_BOOT_B // 4 - 1))
        ).alias("g"),
    ).withColumn(
        "h",
        F.md5(
            F.concat(
                F.col("o_orderkey").cast("string"),
                F.lit(":"),
                F.col("g").cast("string"),
            )
        ),
    )
    rep = rep_g.select(
        "o_orderkey",
        "cents",
        "g",
        "h",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("slot"),
    ).select(
        "o_orderkey",
        "cents",
        F.expr("g * 4 + slot").alias("b"),
        F.expr("substring(h, 1 + slot * 8, 8)").alias("hs"),
    )
    u = F.conv(F.col("hs"), 16, 10).cast("bigint") / F.lit(4294967296.0)
    wt = F.lit(7)
    for k in range(len(_POIS_CDF) - 1, -1, -1):
        wt = F.when(F.col("u") < _POIS_CDF[k], F.lit(k)).otherwise(wt)
    w = rep.withColumn("u", u).select("b", "cents", wt.alias("wt"))
    means = (
        w.groupBy("b")
        .agg(
            F.sum(F.col("wt") * F.col("cents")).alias("s"),
            F.sum("wt").alias("n"),
        )
        .select(
            "b",
            (F.col("s").cast("double") / F.col("n")).alias("m"),
        )
        .localCheckpoint(eager=False)
    )
    other = means.select(F.col("b").alias("xb"), F.col("m").alias("xm"))
    rk = (
        means.join(
            F.broadcast(other),
            (F.col("xm") < F.col("m"))
            | ((F.col("xm") == F.col("m")) & (F.col("xb") <= F.col("b"))),
        )
        .groupBy("b", "m")
        .agg(F.count(F.lit(1)).alias("r"))
    )
    ci = rk.agg(
        F.max(F.when(F.col("r") == 3, F.col("m"))).alias("ci_lo"),
        F.max(F.when(F.col("r") == 98, F.col("m"))).alias("ci_hi"),
    )
    stats = means.agg(
        F.sum(F.round("m", 9).cast("decimal(38,9)")).cast("double").alias("s1"),
        F.sum(F.round(F.col("m") * F.col("m"), 6).cast("decimal(38,6)"))
        .cast("double")
        .alias("s2"),
        F.count(F.lit(1)).alias("nb"),
    )
    full_mean = o.agg(
        (F.sum("cents").cast("double") / F.count(F.lit(1))).alias("mf"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    return (
        full_mean.crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(ci))
        .select(
            "n_orders",
            F.col("nb").alias("b_replicates"),
            F.round("mf", 4).alias("mean_full_cents"),
            F.round("ci_lo", 4).alias("ci_lo_cents"),
            F.round("ci_hi", 4).alias("ci_hi_cents"),
            F.round(
                F.sqrt(
                    (F.col("s2") - F.col("s1") * F.col("s1") / F.col("nb"))
                    / (F.col("nb") - 1)
                ),
                4,
            ).alias("se_boot_cents"),
        )
    )


# ---------------------------------------------------------------------------
# Mean reciprocal rank of the LSH ANN index (completes the retrieval triad)
# ---------------------------------------------------------------------------


def _mrr_oracle() -> str:
    exact_sql = REGISTRY["sim_topk"].oracle
    approx_sql = REGISTRY["sim_topk_lsh"].oracle
    return f"""
WITH ex AS ({exact_sql}),
ap AS ({approx_sql}),
hits AS (
  SELECT ap.query_id, CAST(MIN(ap.rank) AS INTEGER) AS fr
  FROM ap JOIN ex ON ex.query_id = ap.query_id AND ex.vec_id = ap.vec_id
  GROUP BY ap.query_id),
per AS (
  SELECT q.query_id,
         CAST(COALESCE(h.fr, 0) AS INTEGER) AS first_hit_rank,
         CASE WHEN h.fr IS NULL THEN 0.0
              ELSE ROUND(1.0 / h.fr, 9) END AS rr
  FROM (SELECT DISTINCT query_id FROM ex) q
  LEFT JOIN hits h ON h.query_id = q.query_id),
tot AS (
  SELECT ROUND(CAST(SUM(CAST(rr AS DECIMAL(20, 9))) AS DOUBLE)
               / COUNT(*), 9) AS mrr
  FROM per)
SELECT per.query_id, per.first_hit_rank, per.rr, tot.mrr
FROM per CROSS JOIN tot
"""


@register("eval_mrr_retrieval", oracle=_mrr_oracle())
def q_eval_mrr_retrieval(spark, sf_dir):
    """Mean reciprocal rank of the LSH ANN vs the exact top-k.

    Completes the retrieval-metrics triad (recall@k, NDCG@10, MRR): per
    query, the reciprocal rank of the FIRST LSH result that belongs to
    the true top-10 (`sim_topk`), macro-averaged. Composed from the two
    registered queries like its siblings (oracle embeds their texts).
    rr = 1/min_rank is a single exact division rounded to 9 dp; the
    macro average sums DECIMAL(20,9) — order-free. Queries with no hit
    contribute rr = 0 (rank reported as 0).
    """
    from dataframe_differ_spark.queries.vectors import (
        q_sim_topk,
        q_sim_topk_lsh,
    )

    from dataframe_differ_spark.operators.evalmetrics import mrr

    ex = q_sim_topk(spark, sf_dir).select("query_id", "vec_id", "rank")
    ap = q_sim_topk_lsh(spark, sf_dir).select("query_id", "vec_id", "rank")
    out = mrr(ex, ap, "query_id", "vec_id", "rank", rr_decimals=9)
    return out.select(
        "query_id", "first_hit_rank", "rr", F.round("mrr", 9).alias("mrr")
    )


# ---------------------------------------------------------------------------
# Temperature-scaled source mixture weights (multilingual-sampling standard)
# ---------------------------------------------------------------------------

_MIX_TEMP_SQL = """
WITH per AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tok
  FROM documents GROUP BY source),
tot AS (SELECT CAST(SUM(n_tok) AS BIGINT) AS t FROM per),
w AS (
  SELECT source, n_docs, n_tok,
         CAST(n_tok AS DOUBLE) / t AS share,
         ROUND(pow(CAST(n_tok AS DOUBLE) / t, 0.3), 12) AS wt
  FROM per CROSS JOIN tot),
s AS (SELECT CAST(SUM(CAST(wt AS DECIMAL(38, 12))) AS DOUBLE) AS wsum FROM w)
SELECT source, n_docs, n_tok,
       ROUND(share, 9) AS token_share,
       ROUND(wt / s.wsum, 9) AS p_temp,
       ROUND((wt / s.wsum) / share, 9) AS upsample_factor
FROM w CROSS JOIN s
"""


@register("source_mix_temperature", oracle=_MIX_TEMP_SQL)
def q_source_mix_temperature(spark, sf_dir):
    """Temperature-scaled sampling weights per source (p_i proportional to
    share_i^tau, tau = 0.3).

    The multilingual/source-balancing standard (mBERT / XLM-R exponential
    smoothing): raising token shares to tau < 1 and renormalizing
    upsamples rare sources without the full uniform flattening that
    `source_mix_weights` targets. pow() is libm-tainted, so each weight
    is rounded to 12 dp before the DECIMAL renormalization sum — the
    drift_js_divergence device. One per-source aggregate (map-side
    combined), then arithmetic on an n_sources-row frame.
    """
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("long").alias("n_tok"),
    )
    tot = per.agg(F.sum("n_tok").alias("t"))
    share = F.col("n_tok").cast("double") / F.col("t")
    w = per.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tok",
        share.alias("share"),
        F.round(F.pow(share, F.lit(0.3)), 12).alias("wt"),
    )
    s = w.agg(
        F.sum(F.col("wt").cast("decimal(38,12)")).cast("double").alias("wsum")
    )
    return w.crossJoin(F.broadcast(s)).select(
        "source",
        "n_docs",
        "n_tok",
        F.round("share", 9).alias("token_share"),
        F.round(F.col("wt") / F.col("wsum"), 9).alias("p_temp"),
        F.round((F.col("wt") / F.col("wsum")) / F.col("share"), 9).alias(
            "upsample_factor"
        ),
    )


# ---------------------------------------------------------------------------
# PageRank on the co-purchase graph (decimal-deterministic contributions)
# ---------------------------------------------------------------------------

_PR_ITERS = 5


def _pagerank_sql() -> str:
    ctes = [
        copurchase_edges_ctes(),
        """sym AS (
  SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges)""",
        """nodes AS (SELECT DISTINCT u AS n FROM sym)""",
        """nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM nodes)""",
        """deg AS (
  SELECT u AS n, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY u)""",
        """pr0 AS (
  SELECT n, CAST(1.0 AS DOUBLE) / n_nodes AS pr
  FROM nodes CROSS JOIN nn)""",
    ]
    for t in range(1, _PR_ITERS + 1):
        ctes.append(f"""pr{t} AS (
  SELECT s.v AS n,
         0.15 / nn.n_nodes
         + 0.85 * CAST(SUM(CAST(ROUND(p.pr / deg.d, 12)
                               AS DECIMAL(38, 12))) AS DOUBLE) AS pr
  FROM sym s
  JOIN pr{t - 1} p ON p.n = s.u
  JOIN deg ON deg.n = s.u
  CROSS JOIN nn
  GROUP BY s.v, nn.n_nodes)""")
    body = ",\n".join(ctes)
    return f"""
WITH {body}
SELECT p.n AS part, deg.d AS degree, ROUND(p.pr, 9) AS pagerank
FROM pr{_PR_ITERS} p JOIN deg ON deg.n = p.n
ORDER BY ROUND(p.pr, 9) DESC, p.n LIMIT 50
"""


@register("graph_pagerank_parts", oracle=_pagerank_sql())
def q_graph_pagerank_parts(spark, sf_dir):
    """PageRank (5 iterations, d = 0.85) on the shared co-purchase graph.

    The real distributed PageRank shape — unlike `graph_pagerank_nations`
    (a 25-node toy), this runs on the basket-sampled part graph shared
    with triangle counting and BFS: per iteration, one shuffle of edge
    contributions grouped by destination, Pregel-style, localCheckpointed
    to keep lineage flat. Floating-point determinism for a FULL oracle on
    an iterative float algorithm: each edge contribution pr(u)/deg(u) is
    rounded to 12 dp and summed as DECIMAL(38,12) — the sum is order-free
    so Spark's arbitrary reduce order and DuckDB's agree exactly, every
    iteration (same device as drift_js_divergence; rounding bias is
    < |E| * 5e-13 per rank). Undirected symmetrized edges mean no
    dangling nodes. The oracle unrolls the 5 iterations as CTEs.

    Thin binding over the parametric :func:`operators.graph.pagerank`
    (round-6 extraction; ``portable=True`` is the DECIMAL(38,12)
    contribution-sum device described above).
    """
    from dataframe_differ_spark.operators.graph import pagerank

    edges = copurchase_edges(spark, sf_dir)
    pr = pagerank(
        edges, src="u", dst="v", iters=_PR_ITERS, checkpoint_every=2
    )
    return (
        pr.select(
            F.col("node").alias("part"),
            "degree",
            F.round("pagerank", 9).alias("pagerank"),
        )
        .orderBy(F.col("pagerank").desc(), "part")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Multiple linear regression (2 regressors) via exact-moment normal equations
# ---------------------------------------------------------------------------

_OLS_SQL = """
WITH per AS (
  SELECT l_orderkey,
         CAST(COUNT(*) AS DECIMAL(18, 0)) AS x1,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18, 2))) AS DECIMAL(18, 2)) AS x2
  FROM lineitem GROUP BY l_orderkey),
rows_ AS (
  SELECT per.x1, per.x2, CAST(o.o_totalprice AS DECIMAL(18, 2)) AS y
  FROM per JOIN orders o ON o.o_orderkey = per.l_orderkey),
mom AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(x1) AS DOUBLE) AS s1,
         CAST(SUM(x2) AS DOUBLE) AS s2,
         CAST(SUM(x1 * x1) AS DOUBLE) AS s11,
         CAST(SUM(x1 * x2) AS DOUBLE) AS s12,
         CAST(SUM(x2 * x2) AS DOUBLE) AS s22,
         CAST(SUM(y) AS DOUBLE) AS sy,
         CAST(SUM(x1 * y) AS DOUBLE) AS s1y,
         CAST(SUM(x2 * y) AS DOUBLE) AS s2y,
         CAST(SUM(y * y) AS DOUBLE) AS syy
  FROM rows_),
fit AS (
  SELECT n, sy, s1y, s2y, syy,
         n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)
           + s2 * (s1 * s12 - s11 * s2) AS det,
         sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y)
           + s2 * (s1y * s12 - s11 * s2y) AS d0,
         n * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2)
           + s2 * (s1 * s2y - s1y * s2) AS d1,
         n * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2)
           + sy * (s1 * s12 - s11 * s2) AS d2
  FROM mom),
beta AS (
  SELECT n, sy, s1y, s2y, syy,
         d0 / det AS b0, d1 / det AS b1, d2 / det AS b2
  FROM fit),
res AS (
  SELECT n, b0, b1, b2,
         syy - b0 * sy - b1 * s1y - b2 * s2y AS sse,
         syy - sy * sy / n AS sst
  FROM beta)
SELECT CAST(n AS BIGINT) AS n_orders,
       ROUND(b0, 9) AS intercept,
       ROUND(b1, 9) AS beta_n_items,
       ROUND(b2, 9) AS beta_total_qty,
       ROUND(1.0 - sse / sst, 9) AS r_squared,
       ROUND(sqrt(sse / (n - 3)), 9) AS resid_std
FROM res
"""


@register("stats_ols_multi", oracle=_OLS_SQL)
def q_stats_ols_multi(spark, sf_dir):
    """Two-regressor OLS (order price ~ item count + total quantity) with
    R-squared, solved in closed form from exact decimal moments.

    The distributed shape of classical regression: ONE pass accumulates
    the 10 sufficient statistics (all sums of exact decimals — factors
    cast before multiplying, the agg_corr_exact device, so partial
    aggregation order cannot perturb them), then the 3x3 normal
    equations solve by Cramer's rule as a fixed IEEE op sequence on the
    driver-side 1-row frame. Identical expression text on both engines
    makes every intermediate double bit-equal. R^2 and residual std
    come from the same moments (SSE = Syy - b.X'y). At 100 TB: one
    lineitem shuffle (per-order rollup), one orders join, one
    map-side-combinable moment aggregate — no iteration, no gradient
    descent, scan-bound.
    """
    li = load_table(spark, sf_dir, "lineitem")
    per = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("decimal(18,0)").alias("x1"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)"))
        .cast("decimal(18,2)")
        .alias("x2"),
    )
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("y"),
    )
    rows = per.join(o, "l_orderkey")
    mom = rows.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x1").cast("double").alias("s1"),
        F.sum("x2").cast("double").alias("s2"),
        F.sum(F.col("x1") * F.col("x1")).cast("double").alias("s11"),
        F.sum(F.col("x1") * F.col("x2")).cast("double").alias("s12"),
        F.sum(F.col("x2") * F.col("x2")).cast("double").alias("s22"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x1") * F.col("y")).cast("double").alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).cast("double").alias("s2y"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    s11, s12, s22 = F.col("s11"), F.col("s12"), F.col("s22")
    sy, s1y, s2y, syy = F.col("sy"), F.col("s1y"), F.col("s2y"), F.col("syy")
    det = (
        n * (s11 * s22 - s12 * s12)
        - s1 * (s1 * s22 - s12 * s2)
        + s2 * (s1 * s12 - s11 * s2)
    )
    d0 = (
        sy * (s11 * s22 - s12 * s12)
        - s1 * (s1y * s22 - s12 * s2y)
        + s2 * (s1y * s12 - s11 * s2y)
    )
    d1 = (
        n * (s1y * s22 - s12 * s2y)
        - sy * (s1 * s22 - s12 * s2)
        + s2 * (s1 * s2y - s1y * s2)
    )
    d2 = (
        n * (s11 * s2y - s1y * s12)
        - s1 * (s1 * s2y - s1y * s2)
        + sy * (s1 * s12 - s11 * s2)
    )
    fit = mom.select(
        "n", "sy", "s1y", "s2y", "syy",
        det.alias("det"), d0.alias("d0"), d1.alias("d1"), d2.alias("d2"),
    )
    beta = fit.select(
        "n", "sy", "s1y", "s2y", "syy",
        (F.col("d0") / F.col("det")).alias("b0"),
        (F.col("d1") / F.col("det")).alias("b1"),
        (F.col("d2") / F.col("det")).alias("b2"),
    )
    res = beta.select(
        "n", "b0", "b1", "b2",
        (
            F.col("syy")
            - F.col("b0") * F.col("sy")
            - F.col("b1") * F.col("s1y")
            - F.col("b2") * F.col("s2y")
        ).alias("sse"),
        (F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")).alias("sst"),
    )
    return res.select(
        F.col("n").cast("long").alias("n_orders"),
        F.round("b0", 9).alias("intercept"),
        F.round("b1", 9).alias("beta_n_items"),
        F.round("b2", 9).alias("beta_total_qty"),
        F.round(F.lit(1.0) - F.col("sse") / F.col("sst"), 9).alias(
            "r_squared"
        ),
        F.round(F.sqrt(F.col("sse") / (F.col("n") - 3)), 9).alias(
            "resid_std"
        ),
    )


# ---------------------------------------------------------------------------
# Top principal component of the embedding corpus via power iteration
# ---------------------------------------------------------------------------


def _pca_sql() -> str:
    from dataframe_differ_spark.functions.vector import SQL_DOT

    def iter_ctes(i: int, vin: str) -> str:
        return f"""d{i} AS (
  SELECT b.vec_id, b.e, {SQL_DOT('b.e', f'{vin}.v')} AS dt
  FROM base b CROSS JOIN {vin}),
m{i} AS (
  SELECT vec_id, i AS dim, e[i + 1] * dt AS val
  FROM d{i} CROSS JOIN (SELECT unnest(range(64)) AS i)),
w{i}d AS (
  SELECT dim, list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list(val ORDER BY vec_id)), (a, b) -> a + b) AS s
  FROM m{i} GROUP BY dim),
w{i} AS (SELECT list(s ORDER BY dim) AS w FROM w{i}d)"""

    return f"""
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
v0 AS (
  SELECT list_transform(e, x -> x / sqrt({SQL_DOT('e', 'e')})) AS v
  FROM base WHERE vec_id = 0),
{iter_ctes(1, 'v0')},
v1 AS (SELECT list_transform(w, x -> x / sqrt({SQL_DOT('w', 'w')})) AS v
       FROM w1),
{iter_ctes(2, 'v1')},
fin AS (SELECT w, sqrt({SQL_DOT('w', 'w')}) AS lam FROM w2),
loadings AS (
  SELECT CAST(i AS INTEGER) AS dim, w[i + 1] / lam AS loading, lam
  FROM fin CROSS JOIN (SELECT unnest(range(64)) AS i))
SELECT dim, ROUND(loading, 9) AS loading, ROUND(lam, 6) AS eigval
FROM loadings ORDER BY ABS(loading) DESC, dim LIMIT 10
"""


@register("vec_top_pc", oracle=_pca_sql())
def q_vec_top_pc(spark, sf_dir):
    """Top principal direction of the embedding corpus (power iteration).

    The spectral primitive under embedding whitening, drift direction
    analysis, and spiked-covariance diagnostics: two power iterations of
    w <- X'X v (uncentered; X rows are the unit-norm embeddings), seeded
    with vector 0, reported as the top-10 |loading| dimensions plus the
    eigenvalue estimate ||w||. Per iteration, one broadcast of the
    64-float v computes per-row projections dt = e.v, and each dimension
    of w = sum_i dt_i * e_i accumulates through a SEQUENTIAL running-
    window fold ordered by vec_id (the IVF Lloyd-mean device) — a
    partitioned window over (dim), never a global one — so the whole
    iteration chain is bit-reproducible and the oracle replays it with
    list_reduce folds. At 100 TB you'd use plain sum() partial
    aggregation per dim (the fold is a parity device) and the plan is
    two scans + a 64-row shuffle per iteration — the classic distributed
    matrix-free eigensolver shape.
    """
    from dataframe_differ_spark.queries.vectors import _emb_double

    e = _emb_double(spark, sf_dir).select("vec_id", "e")
    v = e.filter(F.col("vec_id") == 0).select(
        F.expr(
            "transform(e, x -> x / sqrt(aggregate(zip_with(e, e, "
            "(a, b) -> a * b), CAST(0.0 AS DOUBLE), (acc, u) -> acc + u)))"
        ).alias("v")
    )
    w = None
    for _ in range(2):
        dotted = e.crossJoin(F.broadcast(v)).select(
            "vec_id",
            "e",
            F.expr(
                "aggregate(zip_with(e, v, (x, y) -> x * y), "
                "CAST(0.0 AS DOUBLE), (acc, u) -> acc + u)"
            ).alias("dt"),
        )
        md = dotted.select(
            "vec_id", "dt", F.posexplode("e").alias("dim", "val")
        )
        wrun = (
            Window.partitionBy("dim")
            .orderBy("vec_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        wd = (
            md.withColumn("s", F.sum(F.col("val") * F.col("dt")).over(wrun))
            .withColumn(
                "rn",
                F.row_number().over(
                    Window.partitionBy("dim").orderBy(F.col("vec_id").desc())
                ),
            )
            .filter(F.col("rn") == 1)
            .select("dim", "s")
        )
        w = wd.agg(
            F.expr(
                "transform(array_sort(collect_list(struct(dim, s))), x -> x.s)"
            ).alias("w")
        )
        v = w.select(
            F.expr(
                "transform(w, x -> x / sqrt(aggregate(zip_with(w, w, "
                "(a, b) -> a * b), CAST(0.0 AS DOUBLE), (acc, u) -> acc + u)))"
            ).alias("v")
        )
    fin = w.select(
        "w",
        F.sqrt(
            F.expr(
                "aggregate(zip_with(w, w, (a, b) -> a * b), "
                "CAST(0.0 AS DOUBLE), (acc, u) -> acc + u)"
            )
        ).alias("lam"),
    )
    loadings = fin.select(
        F.posexplode("w").alias("dim", "wv"), "lam"
    ).select(
        F.col("dim").cast("int").alias("dim"),
        (F.col("wv") / F.col("lam")).alias("loading"),
        "lam",
    )
    return (
        loadings.orderBy(F.abs(F.col("loading")).desc(), "dim")
        .limit(10)
        .select(
            "dim",
            F.round("loading", 9).alias("loading"),
            F.round("lam", 6).alias("eigval"),
        )
    )


# ---------------------------------------------------------------------------
# Weighted quantiles (median + quartiles) via the distributed-rank operator
# ---------------------------------------------------------------------------

_WMED_SQL = """
WITH g AS (
  SELECT l_extendedprice AS v,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18, 2))) AS DECIMAL(18, 2)) AS w
  FROM lineitem GROUP BY l_extendedprice),
cum AS (
  SELECT v, w,
         CAST(SUM(w) OVER (ORDER BY v) AS DECIMAL(28, 2)) AS cw,
         CAST((SELECT SUM(w) FROM g) AS DECIMAL(28, 2)) AS tw
  FROM g),
fr AS (SELECT unnest([0.25, 0.5, 0.75]) AS f),
hit AS (
  SELECT fr.f, MIN(cum.v) AS q
  FROM fr JOIN cum ON CAST(cum.cw AS DOUBLE) >= fr.f * CAST(cum.tw AS DOUBLE)
  GROUP BY fr.f)
SELECT f AS fraction, q AS weighted_quantile,
       (SELECT CAST(tw AS DOUBLE) FROM cum LIMIT 1) AS total_weight
FROM hit
"""


@register("agg_weighted_median", oracle=_WMED_SQL)
def q_agg_weighted_median(spark, sf_dir):
    """Quantity-weighted price quantiles (p25/median/p75), exact and
    distributed.

    The rank-family completion: weighted quantile = smallest value whose
    cumulative weight reaches f * W. Per-distinct-value weights cumulate
    through `operators.ranks.ranked` (two-phase boundary buckets — no
    global window), and the threshold compare runs in doubles whose
    conversions are all exact (DECIMAL(.,2) weights below 2^53 scaled;
    f in {1/4, 1/2, 3/4} is a power-of-two multiple), so neither engine
    can disagree at a boundary. One shuffle to distinct values, one
    bucketed rank pass, one broadcast of 3 threshold rows.
    """
    li = load_table(spark, sf_dir, "lineitem")
    g = li.groupBy(F.col("l_extendedprice").alias("v")).agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)"))
        .cast("decimal(18,2)")
        .alias("w")
    )
    kdf = ranked(
        g,
        F.col("v"),
        ["v"],
        running_sum=F.col("w"),
        running_col="cw",
        running_total_col="tw",
    ).localCheckpoint(eager=False)
    fr = None
    for f in (0.25, 0.5, 0.75):
        one = kdf.sparkSession.range(1).select(F.lit(f).alias("f"))
        fr = one if fr is None else fr.unionAll(one)
    hit = (
        kdf.crossJoin(F.broadcast(fr))
        .filter(
            F.col("cw").cast("double")
            >= F.col("f") * F.col("tw").cast("double")
        )
        .groupBy("f")
        .agg(F.min("v").alias("q"))
    )
    tw1 = kdf.agg(F.any_value(F.col("tw").cast("double")).alias("total_weight"))
    return hit.crossJoin(F.broadcast(tw1)).select(
        F.col("f").alias("fraction"),
        F.col("q").alias("weighted_quantile"),
        "total_weight",
    )


# ---------------------------------------------------------------------------
# Cohort LTV curve (cumulative revenue per signup cohort by age)
# ---------------------------------------------------------------------------

_LTV_SQL = """
WITH fo AS (
  SELECT o_custkey,
         MIN(CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT))
           AS cohort_m
  FROM orders GROUP BY o_custkey),
sized AS (
  SELECT cohort_m, CAST(COUNT(*) AS BIGINT) AS n_customers FROM fo
  GROUP BY cohort_m),
rev AS (
  SELECT fo.cohort_m,
         CAST(year(o.o_orderdate) * 12 + month(o.o_orderdate) AS BIGINT)
           - fo.cohort_m AS age_m,
         CAST(SUM(CAST(FLOOR(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS revenue_cents
  FROM orders o JOIN fo ON fo.o_custkey = o.o_custkey
  GROUP BY 1, 2),
cum AS (
  SELECT a.cohort_m, a.age_m, a.revenue_cents,
         CAST(SUM(b.revenue_cents) AS BIGINT) AS cum_revenue_cents
  FROM rev a JOIN rev b
    ON b.cohort_m = a.cohort_m AND b.age_m <= a.age_m
  GROUP BY a.cohort_m, a.age_m, a.revenue_cents)
SELECT CAST(cum.cohort_m // 12 AS INTEGER) AS cohort_year,
       CAST(cum.cohort_m % 12 + 1 AS INTEGER) AS cohort_month,
       CAST(cum.age_m AS INTEGER) AS age_months,
       s.n_customers, cum.revenue_cents, cum.cum_revenue_cents,
       CAST(cum.cum_revenue_cents // s.n_customers AS BIGINT)
         AS ltv_cents_per_customer
FROM cum JOIN sized s ON s.cohort_m = cum.cohort_m
"""


@register("orders_cohort_ltv", oracle=_LTV_SQL)
def q_orders_cohort_ltv(spark, sf_dir):
    """Customer-lifetime-value curve: cumulative revenue per signup cohort
    by months since first order.

    The revenue-weighted companion to `cohort_retention`: customers
    cohort by first-order month (encoded year*12+month, integer month
    math both engines — never engine DOW/interval semantics), revenue
    rolls up per (cohort, age) in exact integer cents (per-customer
    LTV stays integer cents via floor division; a 4-dp double round
    measured a half-tie disagreement), and the running
    LTV accumulates via a broadcast triangle join over the calendar-
    bounded (cohort x age) frame — months², never data-sized, so no
    window at all. Two shuffles on customer/cohort keys; scan-bound.
    """
    o = load_table(spark, sf_dir, "orders")
    m = (F.year("o_orderdate") * 12 + F.month("o_orderdate")).cast("long")
    fo = o.groupBy("o_custkey").agg(F.min(m).alias("cohort_m"))
    sized = fo.groupBy("cohort_m").agg(
        F.count(F.lit(1)).alias("n_customers")
    )
    rev = (
        o.join(fo, "o_custkey")
        .groupBy(
            "cohort_m", (m - F.col("cohort_m")).alias("age_m")
        )
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint")).alias(
                "revenue_cents"
            )
        )
        .localCheckpoint(eager=False)
    )
    other = rev.select(
        F.col("cohort_m").alias("bc"),
        F.col("age_m").alias("ba"),
        F.col("revenue_cents").alias("br"),
    )
    cum = (
        rev.join(
            F.broadcast(other),
            (F.col("bc") == F.col("cohort_m")) & (F.col("ba") <= F.col("age_m")),
        )
        .groupBy("cohort_m", "age_m", "revenue_cents")
        .agg(F.sum("br").alias("cum_revenue_cents"))
    )
    return cum.join(F.broadcast(sized), "cohort_m").select(
        (F.col("cohort_m") / 12).cast("int").alias("cohort_year"),
        (F.col("cohort_m") % 12 + 1).cast("int").alias("cohort_month"),
        F.col("age_m").cast("int").alias("age_months"),
        "n_customers",
        "revenue_cents",
        "cum_revenue_cents",
        F.expr("cum_revenue_cents DIV n_customers").alias(
            "ltv_cents_per_customer"
        ),
    )


# ---------------------------------------------------------------------------
# Sliding-window distinct users (7-day trailing window per day)
# ---------------------------------------------------------------------------

_SLIDE_DISTINCT_SQL = """
WITH ad AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
days AS (SELECT DISTINCT d FROM ad),
hits AS (
  SELECT DISTINCT ad.user_id, days.d AS target
  FROM ad JOIN days
    ON days.d >= ad.d AND days.d <= ad.d + INTERVAL 6 DAY)
SELECT CAST(target AS STRING) AS day,
       CAST(COUNT(*) AS BIGINT) AS distinct_users_7d
FROM hits GROUP BY target
"""


@register("events_sliding_distinct", oracle=_SLIDE_DISTINCT_SQL)
def q_events_sliding_distinct(spark, sf_dir):
    """Trailing-7-day distinct active users per day — the sliding-window
    COUNT DISTINCT that naive window frames cannot express.

    Distinct-over-overlapping-windows is the classic hard rollup: a
    running-frame window can sum but not dedup. The distributed answer:
    collapse to distinct (user, active_day) once, fan each activity out
    to the <= 7 calendar days whose trailing window it touches
    (constant-factor explode), dedup (user, target_day), count per day.
    Here the fan-out is a compact range join against the <= 31-row day
    spine (broadcast); at a longer window you'd explode a sequence
    instead, and at 100 TB the orthodox swap is per-day HLL partials
    merged over the window (`agg_hll_merge` is that sketch) — this exact
    form is its ground truth. One shuffle to distinct pairs, one count.
    """
    e = load_table(spark, sf_dir, "events")
    ad = e.select(
        "user_id", F.col("ts").cast("date").alias("d")
    ).distinct()
    days = ad.select("d").distinct().select(F.col("d").alias("target"))
    hits = (
        ad.join(
            F.broadcast(days),
            (F.col("target") >= F.col("d"))
            & (F.col("target") <= F.date_add("d", 6)),
        )
        .select("user_id", "target")
        .distinct()
    )
    return hits.groupBy("target").agg(
        F.count(F.lit(1)).alias("distinct_users_7d")
    ).select(
        F.col("target").cast("string").alias("day"), "distinct_users_7d"
    )


# ---------------------------------------------------------------------------
# CUPED variance-reduced experiment readout
# ---------------------------------------------------------------------------

_CUPED_SQL = """
WITH span AS (
  SELECT MIN(CAST(ts AS DATE)) AS d0, MAX(CAST(ts AS DATE)) AS d1
  FROM events),
per_user AS (
  SELECT user_id,
         substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8' AS treat,
         CAST(SUM(CASE WHEN CAST(ts AS DATE)
                        < d0 + CAST(FLOOR(datediff('day', d0, d1) / 2)
                                    AS INTEGER) THEN 1 ELSE 0 END)
              AS BIGINT) AS x,
         CAST(SUM(CASE WHEN CAST(ts AS DATE)
                        >= d0 + CAST(FLOOR(datediff('day', d0, d1) / 2)
                                     AS INTEGER) THEN 1 ELSE 0 END)
              AS BIGINT) AS y
  FROM events CROSS JOIN span
  GROUP BY user_id),
mom AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
         CAST(SUM(x * x) AS DOUBLE) AS sxx,
         CAST(SUM(x * y) AS DOUBLE) AS sxy
  FROM per_user),
theta_t AS (
  SELECT n, sx / n AS mx,
         (n * sxy - sx * sy) / (n * sxx - sx * sx) AS theta
  FROM mom),
arm AS (
  SELECT treat,
         CAST(COUNT(*) AS DOUBLE) AS an,
         CAST(SUM(x) AS DOUBLE) AS ax, CAST(SUM(y) AS DOUBLE) AS ay,
         CAST(SUM(x * x) AS DOUBLE) AS axx,
         CAST(SUM(x * y) AS DOUBLE) AS axy,
         CAST(SUM(y * y) AS DOUBLE) AS ayy
  FROM per_user GROUP BY treat),
adj AS (
  SELECT treat, an,
         ay / an AS mean_raw,
         (ay - theta * (ax - an * mx)) / an AS mean_cuped,
         (ayy - ay * ay / an) / (an - 1) AS var_raw,
         (ayy - 2 * theta * (axy - mx * ay)
              + theta * theta * (axx - 2 * mx * ax + an * mx * mx)
          - (ay - theta * (ax - an * mx))
            * (ay - theta * (ax - an * mx)) / an) / (an - 1) AS var_cuped
  FROM arm CROSS JOIN theta_t)
SELECT treat AS is_treatment, CAST(an AS BIGINT) AS n_users,
       ROUND(mean_raw, 9) AS mean_raw,
       ROUND(mean_cuped, 9) AS mean_cuped,
       ROUND(var_raw, 9) AS var_raw,
       ROUND(var_cuped, 9) AS var_cuped,
       ROUND(1.0 - var_cuped / var_raw, 9) AS var_reduction,
       ROUND((SELECT theta FROM theta_t), 9) AS theta
FROM adj
"""


@register("events_uplift_cuped", oracle=_CUPED_SQL)
def q_events_uplift_cuped(spark, sf_dir):
    """CUPED variance reduction for the A/B readout (Deng et al. 2013).

    The experimentation-platform standard: per user, pre-period activity
    x (first half of the calendar span) predicts post-period activity y;
    theta = cov(x, y)/var(x) pooled over all users; the adjusted metric
    y - theta*(x - mean(x)) keeps the same expectation per arm but
    shrinks variance by the pre/post correlation. The determinism trick
    is ALGEBRAIC: per-arm variance of the adjusted metric expands into
    the exact integer moments (Sy², Sxy, Sx² ...), so no per-row float
    is ever summed — every output is a fixed double op chain on exact
    BIGINT-rooted moments, like stats_ols_multi. One user shuffle + two
    tiny rollups; scan-bound.
    """
    e = load_table(spark, sf_dir, "events")
    span = e.agg(
        F.min(F.col("ts").cast("date")).alias("d0"),
        F.max(F.col("ts").cast("date")).alias("d1"),
    )
    cut = F.date_add(
        F.col("d0"),
        F.floor(F.datediff("d1", "d0") / 2).cast("int"),
    )
    per_user = (
        e.crossJoin(F.broadcast(span))
        .groupBy(
            "user_id",
            (
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 1)
                < "8"
            ).alias("treat"),
        )
        .agg(
            F.sum(
                F.when(F.col("ts").cast("date") < cut, 1).otherwise(0)
            ).alias("x"),
            F.sum(
                F.when(F.col("ts").cast("date") >= cut, 1).otherwise(0)
            ).alias("y"),
        )
        .localCheckpoint(eager=False)
    )
    mom = per_user.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
    )
    theta_t = mom.select(
        "n",
        (F.col("sx") / F.col("n")).alias("mx"),
        (
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        ).alias("theta"),
    )
    arm = per_user.groupBy("treat").agg(
        F.count(F.lit(1)).cast("double").alias("an"),
        F.sum("x").cast("double").alias("ax"),
        F.sum("y").cast("double").alias("ay"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("axx"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("axy"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("ayy"),
    )
    an, ax, ay = F.col("an"), F.col("ax"), F.col("ay")
    axx, axy, ayy = F.col("axx"), F.col("axy"), F.col("ayy")
    th, mx = F.col("theta"), F.col("mx")
    adj_sum = ay - th * (ax - an * mx)
    adj = arm.crossJoin(F.broadcast(theta_t)).select(
        "treat",
        "an",
        (ay / an).alias("mean_raw"),
        (adj_sum / an).alias("mean_cuped"),
        ((ayy - ay * ay / an) / (an - 1)).alias("var_raw"),
        (
            (
                ayy
                - 2 * th * (axy - mx * ay)
                + th * th * (axx - 2 * mx * ax + an * mx * mx)
                - adj_sum * adj_sum / an
            )
            / (an - 1)
        ).alias("var_cuped"),
        th.alias("theta"),
    )
    return adj.select(
        F.col("treat").alias("is_treatment"),
        F.col("an").cast("long").alias("n_users"),
        F.round("mean_raw", 9).alias("mean_raw"),
        F.round("mean_cuped", 9).alias("mean_cuped"),
        F.round("var_raw", 9).alias("var_raw"),
        F.round("var_cuped", 9).alias("var_cuped"),
        F.round(F.lit(1.0) - F.col("var_cuped") / F.col("var_raw"), 9).alias(
            "var_reduction"
        ),
        F.round("theta", 9).alias("theta"),
    )


# ---------------------------------------------------------------------------
# Jaccard link prediction on the co-purchase graph
# ---------------------------------------------------------------------------

def _linkpred_sql(nbr_ctes: str, nbrs: str) -> str:
    """Top-50 Jaccard link prediction over the co-purchase edges, with
    wedges and degrees taken from the ``nbrs`` neighbour CTE."""
    return f"""
WITH {copurchase_edges_ctes()},
sym AS (SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges),
{nbr_ctes}deg AS (SELECT u AS n, CAST(COUNT(*) AS BIGINT) AS d FROM {nbrs} GROUP BY u),
wedge AS (
  SELECT a.v AS x, b.v AS y, a.u AS w
  FROM {nbrs} a JOIN {nbrs} b ON a.u = b.u AND a.v < b.v),
cn AS (
  SELECT x, y, CAST(COUNT(*) AS BIGINT) AS common
  FROM wedge GROUP BY x, y),
cand AS (
  SELECT cn.x, cn.y, cn.common
  FROM cn LEFT JOIN edges e ON e.u = cn.x AND e.v = cn.y
  WHERE e.u IS NULL),
scored AS (
  SELECT c.x, c.y, c.common,
         dx.d + dy.d - c.common AS uni,
         ROUND(CAST(c.common AS DOUBLE) / (dx.d + dy.d - c.common), 9)
           AS jaccard
  FROM cand c JOIN deg dx ON dx.n = c.x JOIN deg dy ON dy.n = c.y)
SELECT x AS part_a, y AS part_b, common AS n_common, uni AS n_union, jaccard
FROM scored
ORDER BY jaccard DESC, x, y LIMIT 50
"""


_LINKPRED_SQL = _linkpred_sql("", "sym")


def _top50_link_predictions(spark, sf_dir, cap):
    """Top-50 co-purchase pairs by Jaccard from
    :func:`operators.graph.link_prediction` at the given degree cap."""
    from dataframe_differ_spark.operators.graph import link_prediction

    edges = copurchase_edges(spark, sf_dir)
    lp = link_prediction(edges, src="u", dst="v", cap=cap)
    return (
        lp.orderBy(F.col("jaccard").desc(), "u", "v")
        .limit(50)
        .select(
            F.col("u").alias("part_a"),
            F.col("v").alias("part_b"),
            "n_common",
            "n_union",
            "jaccard",
        )
    )


@register(
    "graph_link_prediction",
    oracle=_LINKPRED_SQL,
    scale_path="graph_link_prediction_capped",
)
def q_graph_link_prediction(spark, sf_dir):
    """Jaccard-coefficient link prediction on the co-purchase graph.

    The classic neighborhood-overlap recommender: for part pairs NOT yet
    co-purchased, score = |N(a) n N(b)| / |N(a) u N(b)|; high scorers
    are the "customers also bought together" predictions. Wedges come
    from one self-equi-join of the symmetrized edge list on the center
    vertex (cost sum(deg²) — bounded here because basket sampling caps
    edges at O(orders)); existing edges drop out via an anti join; the
    union size is inclusion-exclusion from the degree table, never a
    second pass. All-integer until the final ratio. Top-50 via
    TakeOrdered. Completes the graph family: components, triangles,
    BFS, PageRank, link prediction.

    Thin binding over the parametric
    :func:`operators.graph.link_prediction` (round-6 extraction;
    ``cap=None`` = this exact form).
    """
    return _top50_link_predictions(spark, sf_dir, None)


# Degree cap for the scale form of link prediction: at 100 TB a popular
# vertex's degree grows linearly with orders, and the wedge self-join costs
# Σ deg(w)² — so each vertex keeps only its top-64 neighbors by a
# deterministic hash (an unbiased fixed-size neighborhood sample; the
# standard mitigation when degree orientation is impossible because the
# score needs full neighborhoods). 64 ≥ every degree in the test corpus,
# so capped == exact here; the cap binds only on the hot vertices it
# exists to protect (pytest asserts both properties).
_LINKPRED_CAP = 64

_LINKPRED_CAPPED_SQL = _linkpred_sql(
    f"""capped AS (
  SELECT u, v FROM (
    SELECT u, v,
           ROW_NUMBER() OVER (PARTITION BY u
             ORDER BY md5(CAST(u AS VARCHAR) || ':' || CAST(v AS VARCHAR)), v)
             AS rn
    FROM sym) WHERE rn <= {_LINKPRED_CAP}),
""",
    "capped",
)


@register("graph_link_prediction_capped", oracle=_LINKPRED_CAPPED_SQL)
def q_graph_link_prediction_capped(spark, sf_dir):
    """Degree-capped Jaccard link prediction — the declared 100 TB form.

    Same recommender as `graph_link_prediction`, but each vertex's
    neighborhood is first sampled down to its top-64 neighbors by
    md5(u:v) (a deterministic, engine-portable hash order → an unbiased
    fixed-size sample). The wedge self-join's cost drops from Σ deg(w)²
    (which explodes 10,000× on a hot vertex at 100× data) to Σ min(deg,
    64)² = O(V · 64²) — the skewed-key shuffle amplification the exact
    form carries is gone, at the price of estimated scores on vertices
    whose true degree exceeds the cap (none in this corpus, so the top-50
    here equals the exact form's — asserted in pytest along with the
    structural wedge bound on a synthetic hub graph).

    The cap itself is the two-phase `partitioned_topk` (operators/ranks),
    so no per-vertex window ever sees more than ~cap·partitions rows even
    on a hot key. Degrees for the Jaccard union are the CAPPED degrees
    (the estimator stays internally consistent: common ≤ min(d_x, d_y)).

    Thin binding over the parametric
    :func:`operators.graph.link_prediction` with ``cap=64`` (round-6
    extraction — the cap mechanics described above live there).
    """
    return _top50_link_predictions(spark, sf_dir, _LINKPRED_CAP)


# ---------------------------------------------------------------------------
# k-anonymity audit over customer quasi-identifiers
# ---------------------------------------------------------------------------

_KANON_SQL = """
WITH qi AS (
  SELECT c_nationkey,
         c_mktsegment,
         CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS balance_band,
         CAST(COUNT(*) AS BIGINT) AS grp_size
  FROM customer
  GROUP BY 1, 2, 3),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
         CAST(SUM(CASE WHEN grp_size < 5 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_groups_lt_k,
         CAST(SUM(CASE WHEN grp_size < 5 THEN grp_size ELSE 0 END)
              AS BIGINT) AS n_rows_at_risk,
         CAST(MIN(grp_size) AS BIGINT) AS min_group_size
  FROM qi)
SELECT qi.c_nationkey, qi.c_mktsegment, qi.balance_band, qi.grp_size,
       tot.n_groups, tot.n_groups_lt_k, tot.n_rows_at_risk,
       tot.min_group_size
FROM qi CROSS JOIN tot
ORDER BY qi.grp_size, qi.c_nationkey, qi.c_mktsegment, qi.balance_band
LIMIT 10
"""


@register("privacy_k_anonymity", oracle=_KANON_SQL)
def q_privacy_k_anonymity(spark, sf_dir):
    """k-anonymity audit (k = 5) over customer quasi-identifiers.

    The data-governance pre-release check: group by the quasi-identifier
    tuple (nation, market segment, account-balance band) and find
    equivalence classes smaller than k — rows in those groups are
    re-identifiable by linking the QIs to an external dataset (Sweeney
    2002). One map-side-combinable groupBy + a 1-row broadcast of the
    corpus-level risk stats; the 10 riskiest (smallest) groups surface
    via TakeOrdered. At 100 TB this is a scan-bound aggregation on a
    uniform composite key — the same shape as any rollup.
    """
    from dataframe_differ_spark.operators.privacy import k_anonymity

    c = load_table(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias(
            "balance_band"
        ),
    )
    return k_anonymity(
        c, ["c_nationkey", "c_mktsegment", "balance_band"], k=5, top_n=10
    )


# ---------------------------------------------------------------------------
# Class-balanced downsampling of the embedding corpus
# ---------------------------------------------------------------------------

_BALANCE_SQL = """
WITH sized AS (
  SELECT label, CAST(COUNT(*) AS BIGINT) AS n_before
  FROM embeddings GROUP BY label),
k AS (SELECT MIN(n_before) AS k FROM sized),
ranked_r AS (
  SELECT label, vec_id,
         ROW_NUMBER() OVER (PARTITION BY label
           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
  FROM embeddings),
picked AS (
  SELECT label, vec_id FROM ranked_r CROSS JOIN k WHERE rn <= k.k)
SELECT s.label, s.n_before,
       CAST(COUNT(p.vec_id) AS BIGINT) AS n_after,
       CAST(SUM(p.vec_id) AS BIGINT) AS picked_id_sum
FROM sized s JOIN picked p ON p.label = s.label
GROUP BY s.label, s.n_before
"""


@register("sample_balanced_classes", oracle=_BALANCE_SQL)
def q_sample_balanced_classes(spark, sf_dir):
    """Class-balanced downsampling: md5-deterministic k-per-label pick.

    The classifier-training prep step: cap every label at the minority
    class size so the training mix is uniform. Membership is an
    md5-ordered row_number PARTITIONED BY label (a per-class window —
    never global; per-class data is ~n/|labels| per task), making the
    picked set stable across runs, engines, and repartitioning — the
    split_train_val_test hashing philosophy applied to class balancing.
    The verification column is an order-free exact integer sum of the
    picked ids, so the oracle pins the exact membership, not just the
    counts.
    """
    from dataframe_differ_spark.operators.sampling import balanced_sample

    emb = load_table(spark, sf_dir, "embeddings")
    sized = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n_before"))
    picked = balanced_sample(
        emb.select("label", "vec_id"), "vec_id", "label", per_class=None
    )
    return (
        sized.join(picked, "label")
        .groupBy("label", "n_before")
        .agg(
            F.count("vec_id").alias("n_after"),
            F.sum("vec_id").alias("picked_id_sum"),
        )
    )


# ---------------------------------------------------------------------------
# Welch's t-test on per-user purchase spend
# ---------------------------------------------------------------------------


def _ab_spend_cells_cached(spark, sf_dir):
    """Per-user (treat, cents) A/B cells over `events`, built ONCE per
    (session, sf_dir) — round-10 application of the session-cache
    pattern: `stats_welch_ttest` and `stats_cohens_d` read the IDENTICAL
    frame (md5 arm + exact-cent purchase spend per user), and the events
    scan + user shuffle behind it was the whole cost of the second
    query."""
    import os

    from dataframe_differ_spark.operators.session_cache import session_cached
    from dataframe_differ_spark.tables import load_table as _lt

    def build():
        e = _lt(spark, sf_dir, "events")
        return e.groupBy(
            "user_id",
            (
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 1) < "8"
            ).alias("treat"),
        ).agg(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.round(F.col("value") * 100).cast("bigint"),
                ).otherwise(F.lit(0))
            ).alias("cents")
        )

    (cells,) = session_cached(
        spark, ("ab_spend_cells", os.path.abspath(sf_dir)), build
    )
    return cells


def _ab_moments_sql(arm_note: str) -> str:
    """Per-user purchase cents by md5 arm, each arm's n and exact Σv, Σv²
    pivoted to one row; ends inside the v CTE's select list."""
    return f"""
WITH per_user AS (
  SELECT user_id,
         substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8' AS treat,
         CAST(SUM(CASE WHEN event_type = 'purchase'
                       THEN CAST(ROUND(value * 100) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS cents
  FROM events GROUP BY user_id),
arm AS (
{arm_note}  SELECT treat, CAST(COUNT(*) AS DOUBLE) AS n,
         {_split_sql('SUM(CAST(cents AS HUGEINT))')} AS s,
         {_split_sql('SUM(CAST(cents AS HUGEINT) * cents)')} AS q
  FROM per_user GROUP BY treat),
w AS (
  SELECT MAX(CASE WHEN treat THEN n END) AS na,
         MAX(CASE WHEN treat THEN s END) AS sa,
         MAX(CASE WHEN treat THEN q END) AS qa,
         MAX(CASE WHEN NOT treat THEN n END) AS nb,
         MAX(CASE WHEN NOT treat THEN s END) AS sb,
         MAX(CASE WHEN NOT treat THEN q END) AS qb
  FROM arm),
v AS (
  SELECT na, nb, """


_WELCH_SQL = _ab_moments_sql(
    """  -- round 7: Σv / Σv² accumulate exactly (HUGEINT) and convert via the
  -- shared split-cast device (operators/numeric.py), mirroring the
  -- DECIMAL(38,0) sums in operators/stats.welch_ttest.
"""
) + f"""sa / na AS ma, sb / nb AS mb,
         (qa - sa * sa / na) / (na - 1) AS va,
         (qb - sb * sb / nb) / (nb - 1) AS vb
  FROM w),
t AS (
  SELECT na, nb, ma, mb, va, vb,
         (ma - mb) / sqrt(va / na + vb / nb) AS t_stat,
         (va / na + vb / nb) * (va / na + vb / nb)
           / ((va / na) * (va / na) / (na - 1)
              + (vb / nb) * (vb / nb) / (nb - 1)) AS df
  FROM v)
SELECT CAST(na AS BIGINT) AS n_treat, CAST(nb AS BIGINT) AS n_control,
       ROUND(ma, 4) AS mean_treat_cents, ROUND(mb, 4) AS mean_control_cents,
       ROUND(ma - mb, 4) AS mean_diff_cents,
       ROUND(t_stat, 9) AS t_stat, ROUND(df, 9) AS df_welch,
       abs(t_stat) > 1.96 AS significant_95
FROM t
"""


@register("stats_welch_ttest", oracle=_WELCH_SQL)
def q_stats_welch_ttest(spark, sf_dir):
    """Welch's unequal-variance t-test on per-user purchase spend.

    The continuous-metric companion to `events_ab_test` (proportions)
    and `events_uplift_cuped` (variance reduction): md5 arms, per-user
    spend in exact integer cents, and the t statistic + the
    Welch-Satterthwaite degrees of freedom computed from six
    BIGINT-rooted moments in ONE fixed double op chain (+ - * / sqrt
    are all IEEE-deterministic, so both engines produce bit-identical
    doubles — the stats_ols_multi device; no per-row float is ever
    summed). Significance gates on the normal approximation 1.96
    (documented: df is in the hundreds at bench scale, where t and z
    quantiles agree to 3 dp). One user shuffle + a 2-row rollup;
    scan-bound at any scale.

    Thin binding over the parametric :func:`operators.stats.welch_ttest`
    (round-6 extraction) — the moment chain above lives there, callable
    on any (integer-exact value, boolean arm) DataFrame.
    """
    from dataframe_differ_spark.operators.stats import welch_ttest

    per_user = _ab_spend_cells_cached(spark, sf_dir)
    return welch_ttest(per_user, "cents", "treat", z_crit=1.96).select(
        F.col("n_a").alias("n_treat"),
        F.col("n_b").alias("n_control"),
        F.col("mean_a").alias("mean_treat_cents"),
        F.col("mean_b").alias("mean_control_cents"),
        F.col("mean_diff").alias("mean_diff_cents"),
        "t_stat",
        "df_welch",
        F.col("significant").alias("significant_95"),
    )


# ---------------------------------------------------------------------------
# Cohen's d effect size on per-user purchase spend (round 7)
# ---------------------------------------------------------------------------

_COHENS_D_SQL = _ab_moments_sql("") + f"""(sa / na) - (sb / nb) AS md,
         (qa - sa * sa / na) / (na - 1) AS va,
         (qb - sb * sb / nb) / (nb - 1) AS vb
  FROM w),
e AS (
  SELECT na, nb, md,
         sqrt(((na - 1) * va + (nb - 1) * vb) / (na + nb - 2)) AS sp
  FROM v)
SELECT CAST(na AS BIGINT) AS n_treat, CAST(nb AS BIGINT) AS n_control,
       ROUND(md, 9) AS mean_diff_cents,
       ROUND(sp, 9) AS pooled_sd,
       ROUND(md / sp, 9) AS cohens_d,
       ROUND((md / sp) * (1.0 - 3.0 / (4 * (na + nb) - 9)), 9) AS hedges_g
FROM e
"""


@register("stats_cohens_d", oracle=_COHENS_D_SQL)
def q_stats_cohens_d(spark, sf_dir):
    """Cohen's d / Hedges' g effect size between the md5 A/B arms on
    per-user purchase spend — the practical-significance companion to
    `stats_welch_ttest` (same cells): a tiny p-value at large n can hide
    a negligible standardized effect, and d is what a launch review
    actually reads. Exactness: the welch devices (the oracle shares
    `_ab_moments_sql`, the operator `stats._two_arm_moments`) — integer
    cents, DECIMAL(38,0) moments, split-cast conversion, ONE fixed
    IEEE chain (sub/mul/div/sqrt) on both engines. One user shuffle +
    a 2-row rollup; scan-bound at any scale.

    Thin binding over the parametric :func:`operators.stats.cohens_d`
    (round-7 addition).
    """
    from dataframe_differ_spark.operators.stats import cohens_d

    per_user = _ab_spend_cells_cached(spark, sf_dir)
    return cohens_d(per_user, "cents", "treat").select(
        F.col("n_a").alias("n_treat"),
        F.col("n_b").alias("n_control"),
        F.col("mean_diff").alias("mean_diff_cents"),
        "pooled_sd",
        "cohens_d",
        "hedges_g",
    )


# ---------------------------------------------------------------------------
# Herfindahl-Hirschman revenue concentration per nation (round 7)
# ---------------------------------------------------------------------------

_HHI_SQL = f"""
WITH per_cust AS (
  SELECT c.c_nationkey,
         o.o_custkey,
         CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY c.c_nationkey, o.o_custkey),
per_nation AS (
  SELECT c_nationkey,
         CAST(COUNT(*) AS BIGINT) AS n_customers,
         {_split_sql('SUM(CAST(cents AS HUGEINT) * cents)')} AS sq,
         {_split_sql('SUM(CAST(cents AS HUGEINT))')} AS s
  FROM per_cust GROUP BY c_nationkey)
SELECT n.n_name AS nation, p.n_customers,
       ROUND(p.sq / (p.s * p.s), 9) AS hhi,
       ROUND((p.s * p.s) / p.sq, 9) AS effective_n
FROM per_nation p JOIN nation n ON n.n_nationkey = p.c_nationkey
"""


@register("orders_hhi_concentration", oracle=_HHI_SQL)
def q_orders_hhi_concentration(spark, sf_dir):
    """Herfindahl-Hirschman index of per-customer revenue concentration,
    by nation — the antitrust-style companion to `orders_gini_revenue`
    (Gini measures inequality of the distribution, HHI measures how few
    customers dominate it; effective_n = 1/HHI is "how many equal-sized
    customers this market behaves like").

    Exactness: HHI = Σc²/(Σc)² over exact integer cents; both sums
    accumulate in DECIMAL(38,0)/HUGEINT and convert through the shared
    split-cast device, then ONE IEEE div/mul chain — bit-identical
    cross-engine, no per-row float. Plan: one (nation, customer) rollup
    with map-side combine, one 25-row nation rollup, broadcast nation
    name join — scan-bound at 100 TB, no window anywhere.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    per_cust = (
        o.select(
            "o_custkey",
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("c0"),
        )
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_nationkey", "o_custkey")
        .agg(F.sum("c0").alias("cents"))
    )
    dec = F.col("cents").cast("decimal(38,0)")
    per_nation = per_cust.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_customers"),
        _split_dbl(F.sum(dec * F.col("cents"))).alias("sq"),
        _split_dbl(F.sum(dec)).alias("s"),
    )
    return per_nation.join(
        F.broadcast(n), F.col("n_nationkey") == F.col("c_nationkey")
    ).select(
        F.col("n_name").alias("nation"),
        "n_customers",
        F.round(F.col("sq") / (F.col("s") * F.col("s")), 9).alias("hhi"),
        F.round((F.col("s") * F.col("s")) / F.col("sq"), 9).alias(
            "effective_n"
        ),
    )


# ---------------------------------------------------------------------------
# Wald-Wolfowitz runs test on the daily volume series (round 7)
# ---------------------------------------------------------------------------

def _daily_volume_pts_cached(spark, sf_dir):
    """Daily event-volume points (day index i from the min day, count x),
    built ONCE per (session, sf_dir): `events_runs_test` and
    `stats_mann_kendall` read the identical KB-sized frame, and the
    events scan + daily rollup behind it was each query's whole cost
    (round-10 session-cache application)."""
    import os

    from dataframe_differ_spark.operators.session_cache import session_cached

    def build():
        e = load_table(spark, sf_dir, "events")
        daily = e.groupBy(F.to_date("ts").alias("d")).agg(
            F.count(F.lit(1)).alias("x")
        )
        m = daily.agg(F.min("d").alias("d0"))
        return daily.crossJoin(F.broadcast(m)).select(
            F.datediff("d", "d0").cast("long").alias("i"), "x"
        )

    (pts,) = session_cached(
        spark, ("daily_volume_pts", os.path.abspath(sf_dir)), build
    )
    return pts


_RUNS_SQL = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY CAST(ts AS DATE)),
m AS (SELECT MIN(d) AS d0 FROM daily),
pts AS (
  SELECT CAST(datediff('day', m.d0, daily.d) AS BIGINT) AS i, x
  FROM daily CROSS JOIN m),
signs AS (
  SELECT a.i,
         CASE WHEN b.x > a.x THEN 1 ELSE 0 END AS up
  FROM pts a JOIN pts b ON b.i = a.i + 1
  WHERE b.x <> a.x),
rk AS (
  SELECT up, CAST(ROW_NUMBER() OVER (ORDER BY i) AS BIGINT) AS r
  FROM signs),
runs AS (
  SELECT CAST(1 + SUM(CASE WHEN a.up <> b.up THEN 1 ELSE 0 END) AS BIGINT)
           AS n_runs
  FROM rk a JOIN rk b ON b.r = a.r + 1),
counts AS (
  SELECT CAST(SUM(up) AS BIGINT) AS n1,
         CAST(SUM(1 - up) AS BIGINT) AS n2
  FROM rk),
z AS (
  SELECT n1, n2, n_runs,
         2.0 * n1 * n2 / (n1 + n2) + 1.0 AS mu,
         sqrt((2.0 * n1 * n2) * (2.0 * n1 * n2 - n1 - n2)
              / (CAST((n1 + n2) AS DOUBLE) * (n1 + n2) * (n1 + n2 - 1)))
           AS sigma
  FROM counts CROSS JOIN runs)
SELECT n1 AS n_up, n2 AS n_down, n_runs,
       ROUND((n_runs - mu) / sigma, 9) AS z_stat
FROM z
"""


@register("events_runs_test", oracle=_RUNS_SQL)
def q_events_runs_test(spark, sf_dir):
    """Wald-Wolfowitz runs test for randomness of the daily event-volume
    direction sequence — the trend/oscillation detector that belongs
    next to `events_autocorr` (too FEW runs = trending, too MANY =
    oscillating; |z| > 1.96 rejects randomness).

    Up/down signs come from a day-to-day+1 equi-join on the daily rollup
    (zero-change days dropped by both engines); the run count is
    1 + #(sign flips between CONSECUTIVE retained days), where
    consecutiveness is an exact rank from `operators.ranks.ranked` —
    so the whole chain is joins + integer counts, no global window on
    the engine side, no ordering assumption, gap-tolerant. The z
    statistic is one fixed IEEE chain on four BIGINTs. At 100 TB the
    daily rollup is KB-sized; everything downstream is trivial.
    """
    from dataframe_differ_spark.operators.ranks import ranked

    pts = _daily_volume_pts_cached(spark, sf_dir)
    b = pts.select(F.col("i").alias("j"), F.col("x").alias("y"))
    signs = (
        pts.join(b, F.col("j") == F.col("i") + 1)
        .filter(F.col("y") != F.col("x"))
        .select("i", (F.col("y") > F.col("x")).cast("int").alias("up"))
    )
    rk = ranked(signs, F.col("i"), ["i"], rank_col="r").select("up", "r")
    nxt = rk.select(F.col("r").alias("r2"), F.col("up").alias("up2"))
    runs = (
        rk.join(nxt, F.col("r2") == F.col("r") + 1)
        .agg(
            (
                F.lit(1)
                + F.sum((F.col("up") != F.col("up2")).cast("long"))
            ).alias("n_runs")
        )
    )
    counts = rk.agg(
        F.sum("up").cast("long").alias("n1"),
        F.sum(1 - F.col("up")).cast("long").alias("n2"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    mu = 2.0 * n1 * n2 / (n1 + n2) + F.lit(1.0)
    sigma = F.sqrt(
        (2.0 * n1 * n2)
        * (2.0 * n1 * n2 - n1 - n2)
        / ((n1 + n2).cast("double") * (n1 + n2) * (n1 + n2 - 1))
    )
    return counts.crossJoin(F.broadcast(runs)).select(
        n1.alias("n_up"),
        n2.alias("n_down"),
        "n_runs",
        F.round((F.col("n_runs") - mu) / sigma, 9).alias("z_stat"),
    )


# ---------------------------------------------------------------------------
# Benjamini-Hochberg FDR across per-nation A/B tests
# ---------------------------------------------------------------------------

# Abramowitz & Stegun 7.1.26 erf polynomial (max abs error 1.5e-7):
# shared constants written identically into both engines' texts.
_AS_A = (0.254829592, -0.284496736, 1.421413741, -1.453152027, 1.061405429)
_AS_P0 = 0.3275911
_SQRT2 = 1.4142135623730951

_FDR_SQL = f"""
WITH per_user AS (
  SELECT e.user_id, c.c_nationkey AS nation,
         substr(md5(CAST(e.user_id AS VARCHAR)), 1, 1) < '8' AS treat,
         MAX(CASE WHEN e.event_type = 'purchase' AND e.value > 150
                  THEN 1 ELSE 0 END) AS conv
  FROM events e JOIN customer c ON c.c_custkey = e.user_id
  GROUP BY e.user_id, c.c_nationkey, treat),
cell AS (
  SELECT nation,
         CAST(SUM(CASE WHEN treat THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
         CAST(SUM(CASE WHEN treat THEN conv ELSE 0 END) AS BIGINT) AS c_t,
         CAST(SUM(CASE WHEN treat THEN 0 ELSE 1 END) AS BIGINT) AS n_c,
         CAST(SUM(CASE WHEN treat THEN 0 ELSE conv END) AS BIGINT) AS c_c
  FROM per_user GROUP BY nation),
testable AS (
  SELECT * FROM cell
  WHERE n_t > 0 AND n_c > 0 AND c_t + c_c > 0 AND c_t + c_c < n_t + n_c),
z AS (
  SELECT nation, n_t, c_t, n_c, c_c,
         (CAST(c_t AS DOUBLE) / n_t - CAST(c_c AS DOUBLE) / n_c)
           / sqrt((CAST(c_t + c_c AS DOUBLE) / (n_t + n_c))
                  * (1.0 - CAST(c_t + c_c AS DOUBLE) / (n_t + n_c))
                  * (1.0 / n_t + 1.0 / n_c)) AS zval
  FROM testable),
p AS (
  SELECT nation, n_t, c_t, n_c, c_c, zval,
         ROUND(abs(zval) / {_SQRT2}, 9) AS x
  FROM z),
pv AS (
  SELECT nation, n_t, c_t, n_c, c_c, zval,
         ROUND((((({_AS_A[4]} * (1.0 / (1.0 + {_AS_P0} * x))
             + {_AS_A[3]}) * (1.0 / (1.0 + {_AS_P0} * x))
             + {_AS_A[2]}) * (1.0 / (1.0 + {_AS_P0} * x))
             + {_AS_A[1]}) * (1.0 / (1.0 + {_AS_P0} * x))
             + {_AS_A[0]}) * (1.0 / (1.0 + {_AS_P0} * x))
           * exp(-x * x), 9) AS p_two,
         CAST(ROUND(abs(zval) * 1e9) AS BIGINT) AS zkey
  FROM p),
ranked AS (
  SELECT a.nation, a.n_t, a.c_t, a.n_c, a.c_c, a.zval, a.p_two,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM pv b
          WHERE b.zkey > a.zkey
             OR (b.zkey = a.zkey AND b.nation <= a.nation)) AS rk,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM pv) AS m
  FROM pv a),
kstar AS (
  SELECT COALESCE(MAX(rk), 0) AS k
  FROM ranked WHERE p_two <= 0.05 * rk / m)
SELECT nation, rk AS p_rank, m AS n_tests, n_t, c_t, n_c, c_c,
       ROUND(zval, 9) AS z, p_two,
       ROUND(0.05 * rk / m, 9) AS bh_critical,
       rk <= kstar.k AS reject_fdr05
FROM ranked CROSS JOIN kstar
ORDER BY rk
"""


@register("stats_fdr_bh", oracle=_FDR_SQL)
def q_stats_fdr_bh(spark, sf_dir):
    """Benjamini-Hochberg FDR control across per-nation A/B tests.

    The multiple-comparisons step every experimentation platform runs
    after a segmented readout: one two-proportion z-test per customer
    nation (arms = the shared md5 bucketing; conversion = high-value
    purchase), p-values from the Abramowitz-Stegun 7.1.26 erf
    polynomial (the single libm exp runs on a 9-dp-rounded input; both
    engines then round the result to 9 dp — the benford_first_digit
    libm device), and the BH step-up rule: rank p ascending, reject
    all ranks <= k* = max{{i : p_(i) <= i/m * q}} at q = 0.05.
    Determinism: ranking compares an exact BIGINT key (|z| * 1e9
    rounded) rather than floats, z itself is a fixed IEEE op chain on
    integer-rooted counts, and the rank is a broadcast triangle join
    over the <=25-row test frame (window-free, the eval_auc device).
    Scale: the user->nation attach is an equi-join on the user
    dimension (shuffle on user_id, AQE-brokered); everything after the
    per-nation rollup is constant-size.

    Thin binding over the parametric :func:`operators.stats.fdr_bh`
    (round-6 extraction) — the step-up mechanics live there; this query
    keeps the z-test + erf-polynomial p-value construction.
    """
    from dataframe_differ_spark.operators.stats import fdr_bh

    e = load_table(spark, sf_dir, "events")
    c = load_table(spark, sf_dir, "customer")
    per_user = (
        e.join(
            c.select(
                F.col("c_custkey").alias("user_id"),
                F.col("c_nationkey").alias("nation"),
            ),
            "user_id",
        )
        .groupBy(
            "user_id",
            "nation",
            (
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 1)
                < "8"
            ).alias("treat"),
        )
        .agg(
            F.max(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("value") > 150),
                    1,
                ).otherwise(0)
            ).alias("conv")
        )
    )
    cell = per_user.groupBy("nation").agg(
        F.sum(F.when(F.col("treat"), 1).otherwise(0)).alias("n_t"),
        F.sum(F.when(F.col("treat"), F.col("conv")).otherwise(0)).alias(
            "c_t"
        ),
        F.sum(F.when(F.col("treat"), 0).otherwise(1)).alias("n_c"),
        F.sum(F.when(F.col("treat"), 0).otherwise(F.col("conv"))).alias(
            "c_c"
        ),
    )
    testable = cell.filter(
        (F.col("n_t") > 0)
        & (F.col("n_c") > 0)
        & (F.col("c_t") + F.col("c_c") > 0)
        & (F.col("c_t") + F.col("c_c") < F.col("n_t") + F.col("n_c"))
    )
    pool = (F.col("c_t") + F.col("c_c")).cast("double") / (
        F.col("n_t") + F.col("n_c")
    )
    z = testable.select(
        "nation",
        "n_t",
        "c_t",
        "n_c",
        "c_c",
        (
            (
                F.col("c_t").cast("double") / F.col("n_t")
                - F.col("c_c").cast("double") / F.col("n_c")
            )
            / F.sqrt(
                pool
                * (F.lit(1.0) - pool)
                * (F.lit(1.0) / F.col("n_t") + F.lit(1.0) / F.col("n_c"))
            )
        ).alias("zval"),
    )
    x = F.round(F.abs(F.col("zval")) / _SQRT2, 9)
    t_ = F.lit(1.0) / (F.lit(1.0) + _AS_P0 * x)
    poly = (
        (((F.lit(_AS_A[4]) * t_ + _AS_A[3]) * t_ + _AS_A[2]) * t_ + _AS_A[1])
        * t_
        + _AS_A[0]
    ) * t_
    pv = z.select(
        "nation",
        "n_t",
        "c_t",
        "n_c",
        "c_c",
        "zval",
        F.round(poly * F.exp(-x * x), 9).alias("p_two"),
        F.round(F.abs(F.col("zval")) * 1e9).cast("bigint").alias("zkey"),
    )
    return (
        fdr_bh(pv, "p_two", sig_key_col="zkey", tie_col="nation", q=0.05)
        .select(
            "nation",
            "p_rank",
            "n_tests",
            "n_t",
            "c_t",
            "n_c",
            "c_c",
            F.round("zval", 9).alias("z"),
            "p_two",
            "bh_critical",
            F.col("reject").alias("reject_fdr05"),
        )
        .orderBy("p_rank")
    )


# ---------------------------------------------------------------------------
# One-way ANOVA F-test of order value across customer nations
# ---------------------------------------------------------------------------

_ANOVA_SQL = """
WITH obs AS (
  SELECT c.c_nationkey AS nation,
         CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS cents
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
grp AS (
  SELECT nation, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(cents) AS BIGINT) AS s,
         CAST(SUM(CAST(cents AS HUGEINT) * cents) AS DECIMAL(38, 0)) AS q
  FROM obs GROUP BY nation),
terms AS (
  SELECT nation, n, s, q,
         CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n AS t
  FROM grp),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(n) AS BIGINT) AS nn,
         CAST(SUM(s) AS BIGINT) AS ss,
         -- split-cast: >2^64 int -> double via hi*2^30 + lo (DuckDB's
         -- direct int128->double cast rounds 1 ulp off Java/Python)
         CAST(CAST(SUM(q) AS HUGEINT) // 1073741824 AS DOUBLE)
           * 1073741824.0
           + CAST(CAST(SUM(q) AS HUGEINT) % 1073741824 AS DOUBLE) AS sq,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                  list(t ORDER BY nation)),
                     (acc, x) -> acc + x) AS st
  FROM terms),
parts AS (
  SELECT k, nn,
         st - CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE) / nn AS ssb,
         sq - st AS ssw
  FROM tot)
SELECT k AS k_groups, nn AS n_obs,
       ssb AS ss_between, ssw AS ss_within,
       ROUND((ssb / (k - 1)) / (ssw / (nn - k)), 9) AS f_stat,
       ROUND(ssb / (ssb + ssw), 9) AS eta_sq
FROM parts
"""


@register("stats_anova_f", oracle=_ANOVA_SQL)
def q_stats_anova_f(spark, sf_dir):
    """One-way ANOVA F-test: does mean order value differ across nations?

    The >2-arm companion to `stats_welch_ttest`. Observations are order
    totals in exact integer cents; per-nation sufficient statistics
    (n, sum, sum-of-squares) are BIGINT/DECIMAL-rooted. The one
    order-sensitive float reduction — the between-group term
    sum(s_g^2 / n_g) over ~25 nation terms — is made order-FREE by
    folding the per-nation doubles in sorted nation order on both
    engines (array_sort(collect_list) + F.aggregate here,
    list(t ORDER BY nation) + list_reduce in the oracle): each t_g is
    the same IEEE chain on exact integers, and the sorted sequential
    fold is then bit-identical cross-engine (the IVF Lloyd-mean
    device). Two decimal devices were tried first and both FAILED at
    this ~1e16 magnitude, worth recording: (a) DuckDB's direct
    double->DECIMAL(38,6) cast computes value*10^6 IN DOUBLE, landing
    on product-ulp garbage above 2^53/10^6; (b) a VARCHAR hop still
    disagrees because Java 17 Double.toString emits 17 digits
    (...472) where DuckDB's Ryu emits the 16-digit (...47) shortest
    form — same double, different decimal strings. SSW comes from
    exact DECIMAL sum-of-squares cast to double (exact below 2^63 so
    the HUGEINT halves-based cast can't drift; fine through sf~1).
    Plan: a dimension equi-join (AQE handles the build side) + a
    25-group map-side-combinable rollup; the fold runs over k=25 rows
    regardless of data size — scan-bound at 100 TB.

    Thin binding over the parametric :func:`operators.stats.anova_f`
    (round-6 extraction) — the sorted-fold device lives there, callable
    on any (integer-exact value, group) DataFrame.
    """
    from dataframe_differ_spark.operators.stats import anova_f

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    obs = o.join(
        c.select(
            F.col("c_custkey").alias("o_custkey"),
            F.col("c_nationkey").alias("nation"),
        ),
        "o_custkey",
    ).select(
        "nation",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    return anova_f(obs, "cents", "nation")


# ---------------------------------------------------------------------------
# l-diversity audit: sensitive-attribute diversity within QI classes
# ---------------------------------------------------------------------------

_LDIV_SQL = """
WITH cls AS (
  SELECT c_nationkey,
         CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS balance_band,
         CAST(COUNT(*) AS BIGINT) AS grp_size,
         CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS l_distinct
  FROM customer
  GROUP BY 1, 2),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
         CAST(MIN(l_distinct) AS BIGINT) AS min_l,
         CAST(SUM(CASE WHEN l_distinct < 3 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_classes_lt_l,
         CAST(SUM(CASE WHEN l_distinct < 3 THEN grp_size ELSE 0 END)
              AS BIGINT) AS n_rows_at_risk
  FROM cls)
SELECT cls.c_nationkey, cls.balance_band, cls.grp_size, cls.l_distinct,
       tot.n_classes, tot.min_l, tot.n_classes_lt_l, tot.n_rows_at_risk
FROM cls CROSS JOIN tot
ORDER BY cls.l_distinct, cls.grp_size, cls.c_nationkey, cls.balance_band
LIMIT 10
"""


@register("privacy_l_diversity", oracle=_LDIV_SQL)
def q_privacy_l_diversity(spark, sf_dir):
    """l-diversity audit (l = 3) — `privacy_k_anonymity`'s companion.

    k-anonymity alone fails the homogeneity attack (Machanavajjhala et
    al. 2007): a class of >= k rows that all share one sensitive value
    still discloses it. Here the QI is (nation, balance band) and the
    sensitive attribute is the market segment; a class is risky when it
    holds < 3 distinct segments. One groupBy with a distinct-count (the
    two-level partial aggregate Spark plans for distinct aggs) + a
    1-row broadcast of corpus risk stats; the 10 least-diverse classes
    surface via TakeOrdered. Scan-bound at 100 TB.
    """
    from dataframe_differ_spark.operators.privacy import l_diversity

    c = load_table(spark, sf_dir, "customer").select(
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias(
            "balance_band"
        ),
        "c_mktsegment",
    )
    out = l_diversity(
        c, ["c_nationkey", "balance_band"], "c_mktsegment", l=3, top_n=10
    )
    return out.select(
        "c_nationkey",
        "balance_band",
        "grp_size",
        "l_distinct",
        "n_classes",
        "min_l",
        "n_classes_lt_l",
        "n_rows_at_risk",
    )


# ---------------------------------------------------------------------------
# Chi-squared test of independence: customer nation vs market segment
# ---------------------------------------------------------------------------

_CHI2_SQL = """
WITH cells AS (
  SELECT c_nationkey AS nation, c_mktsegment AS seg,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM customer GROUP BY 1, 2),
rowt AS (SELECT nation, CAST(SUM(cnt) AS BIGINT) AS rt FROM cells GROUP BY 1),
colt AS (SELECT seg, CAST(SUM(cnt) AS BIGINT) AS ct FROM cells GROUP BY 1),
tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n,
               CAST(COUNT(DISTINCT nation) AS BIGINT) AS r,
               CAST(COUNT(DISTINCT seg) AS BIGINT) AS c
        FROM cells),
terms AS (
  SELECT cells.nation, cells.seg,
         (cells.cnt - CAST(rowt.rt AS DOUBLE) * colt.ct / tot.n)
         * (cells.cnt - CAST(rowt.rt AS DOUBLE) * colt.ct / tot.n)
         / (CAST(rowt.rt AS DOUBLE) * colt.ct / tot.n) AS term
  FROM cells
  JOIN rowt USING (nation) JOIN colt USING (seg) CROSS JOIN tot),
folded AS (
  SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                  list(term ORDER BY nation, seg)),
                     (acc, x) -> acc + x) AS chi2
  FROM terms)
SELECT tot.n AS n_obs, tot.r * tot.c AS n_cells,
       (tot.r - 1) * (tot.c - 1) AS dof,
       ROUND(folded.chi2, 9) AS chi2,
       ROUND(SQRT(folded.chi2 / (tot.n *
             CASE WHEN tot.r < tot.c THEN tot.r - 1 ELSE tot.c - 1 END)), 9)
         AS cramers_v
FROM folded CROSS JOIN tot
"""


@register("stats_chi2_independence", oracle=_CHI2_SQL)
def q_stats_chi2_independence(spark, sf_dir):
    """Chi-squared test of independence: nation x market segment.

    The categorical companion to `stats_anova_f` (continuous >2-arm):
    is the segment mix independent of nation? Observed cell counts are
    exact BIGINTs from one groupBy; each expected count and cell term is
    the same fixed IEEE op chain on exact integers both engines
    (e = CAST(rt AS DOUBLE) * ct / n, term = (cnt-e)^2/e — + - * / are
    correctly-rounded, so per-cell doubles are bit-identical). The one
    order-sensitive reduction — summing ~125 cell terms — uses the
    sorted sequential fold (array_sort(collect_list) + F.aggregate vs
    list(... ORDER BY) + list_reduce), the `stats_anova_f` /
    IVF-Lloyd-mean device. Effect size reported as Cramer's V. Plan:
    one map-side-combinable groupBy, two tiny rollups re-joined
    broadcast; the fold runs over r*c rows (125 here) regardless of
    data volume — scan-bound at 100 TB.

    Thin binding over the parametric
    :func:`operators.stats.chi2_independence` (round-6 extraction) —
    the sorted-fold device lives there, callable on any two-categorical
    DataFrame.
    """
    from dataframe_differ_spark.operators.stats import chi2_independence

    c = load_table(spark, sf_dir, "customer")
    return chi2_independence(
        c.select(
            F.col("c_nationkey").alias("nation"),
            F.col("c_mktsegment").alias("seg"),
        ),
        "nation",
        "seg",
    )


# ---------------------------------------------------------------------------
# Exact higher-moment statistics (skewness / excess kurtosis)
# ---------------------------------------------------------------------------

# Exact BIGINT raw moments of floor(l_quantity) per return flag and their
# central moments m2..m4: the CTEs skewness/kurtosis and Jarque-Bera share.
_MOMENTS_SQL_CTES = """
WITH m AS (
  SELECT l_returnflag,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(q) AS BIGINT) AS s1,
         CAST(SUM(q * q) AS BIGINT) AS s2,
         CAST(SUM(q * q * q) AS BIGINT) AS s3,
         CAST(SUM(q * q * q * q) AS BIGINT) AS s4
  FROM (SELECT l_returnflag, CAST(FLOOR(l_quantity) AS BIGINT) AS q
        FROM lineitem)
  GROUP BY l_returnflag),
d AS (
  SELECT l_returnflag, n,
         CAST(s1 AS DOUBLE) / n AS mean,
         CAST(s2 AS DOUBLE) / n AS a2,
         CAST(s3 AS DOUBLE) / n AS a3,
         CAST(s4 AS DOUBLE) / n AS a4
  FROM m),
c AS (
  SELECT l_returnflag, n, mean,
         a2 - mean * mean AS m2,
         a3 - 3 * mean * a2 + 2 * mean * mean * mean AS m3,
         a4 - 4 * mean * a3 + 6 * mean * mean * a2
            - 3 * mean * mean * mean * mean AS m4
  FROM d)"""


_SKEWKURT_SQL = _MOMENTS_SQL_CTES + """
SELECT l_returnflag, n,
       ROUND(mean, 9) AS mean_qty,
       ROUND(m2, 9) AS var_pop,
       ROUND(m3 / (m2 * sqrt(m2)), 9) AS skewness,
       ROUND(m4 / (m2 * m2) - 3, 9) AS excess_kurtosis
FROM c
"""


def _lineitem_central_moments(spark, sf_dir):
    """Per-return-flag frame (l_returnflag, n, mean, a2, a3, a4) of exact
    BIGINT raw moments of floor(l_quantity) over n, and the central-moment
    columns m2, m3, m4 expanded as one fixed left-associated IEEE chain."""
    q = F.floor(F.col("l_quantity")).cast("long")
    m = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_returnflag", q.alias("q"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("q").alias("s1"),
            F.sum(F.col("q") * F.col("q")).alias("s2"),
            F.sum(F.col("q") * F.col("q") * F.col("q")).alias("s3"),
            F.sum(F.col("q") * F.col("q") * F.col("q") * F.col("q")).alias("s4"),
        )
    )
    mean = F.col("s1").cast("double") / F.col("n")
    a2 = F.col("s2").cast("double") / F.col("n")
    a3 = F.col("s3").cast("double") / F.col("n")
    a4 = F.col("s4").cast("double") / F.col("n")
    d = m.select("l_returnflag", "n", mean.alias("mean"), a2.alias("a2"),
                 a3.alias("a3"), a4.alias("a4"))
    mn = F.col("mean")
    m2 = F.col("a2") - mn * mn
    m3 = F.col("a3") - 3 * mn * F.col("a2") + 2 * mn * mn * mn
    m4 = (
        F.col("a4")
        - 4 * mn * F.col("a3")
        + 6 * mn * mn * F.col("a2")
        - 3 * mn * mn * mn * mn
    )
    return d, m2, m3, m4


@register("agg_skewness_kurtosis", oracle=_SKEWKURT_SQL)
def q_agg_skewness_kurtosis(spark, sf_dir):
    """Exact population skewness and excess kurtosis of order quantities
    per return flag — the higher-moment companions to mean/variance.

    Spark's built-in `skewness`/`kurtosis` accumulate central moments in
    floats whose partial-aggregation order is partition-dependent — the
    classic cross-engine (and cross-run) hash breaker. Here the raw
    moments Σq..Σq⁴ are EXACT BIGINTs (quantity ≤ 50 → q⁴ ≤ 6.25e6; the
    sums stay under 2^63 beyond sf100), and the central-moment expansion
    m₂..m₄ runs as one fixed left-associated IEEE chain on both engines —
    identical doubles, no rounding tricks needed beyond the final 9 dp.
    sqrt(m2) instead of pow(m2, 1.5): sqrt is IEEE-exact, pow is a libm
    ulp hazard. One map-side-combinable groupBy — scan-bound at any sf.
    """
    d, m2, m3, m4 = _lineitem_central_moments(spark, sf_dir)
    c = d.select("l_returnflag", "n", "mean", m2.alias("m2"), m3.alias("m3"),
                 m4.alias("m4"))
    return c.select(
        "l_returnflag",
        "n",
        F.round("mean", 9).alias("mean_qty"),
        F.round("m2", 9).alias("var_pop"),
        F.round(F.col("m3") / (F.col("m2") * F.sqrt("m2")), 9).alias("skewness"),
        F.round(F.col("m4") / (F.col("m2") * F.col("m2")) - 3, 9).alias(
            "excess_kurtosis"
        ),
    )


# ---------------------------------------------------------------------------
# Mann-Whitney U (Wilcoxon rank-sum) test
# ---------------------------------------------------------------------------

# Order prices split into md5 groups, with per-value tie counts: the CTEs
# Mann-Whitney U and Anderson-Darling share.
_ORDER_PRICE_TIES_SQL_CTES = """
WITH base AS (
  SELECT o_totalprice AS v,
         substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) < '8' AS grp
  FROM orders),
vals AS (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS c,
         CAST(SUM(CASE WHEN grp THEN 1 ELSE 0 END) AS BIGINT) AS c1
  FROM base GROUP BY v),
r AS (
  SELECT v, c, c1,
"""


_MWU_SQL = _ORDER_PRICE_TIES_SQL_CTES + """\
         CAST(SUM(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) - c
              AS BIGINT) AS cprev
  FROM vals),
s AS (
  SELECT CAST(SUM(c1) AS BIGINT) AS n1,
         CAST(SUM(c - c1) AS BIGINT) AS n2,
         CAST(SUM(c1 * (2 * cprev + c + 1)) AS BIGINT) AS r1x2,
         CAST(SUM(c * c * c - c) AS BIGINT) AS ties
  FROM r),
u AS (
  SELECT n1, n2, ties, n1 + n2 AS n,
         CAST(r1x2 - n1 * (n1 + 1) AS DOUBLE) / 2 AS u1
  FROM s)
SELECT n1, n2, u1,
       CAST(n1 AS DOUBLE) * n2 - u1 AS u2,
       ROUND((u1 - CAST(n1 AS DOUBLE) * n2 / 2)
             / sqrt(CAST(n1 AS DOUBLE) * n2 / 12
                    * ((n + 1) - CAST(ties AS DOUBLE) / (CAST(n AS DOUBLE)
                                                         * (n - 1)))), 9)
         AS z_score
FROM u
"""


@register("stats_mann_whitney", oracle=_MWU_SQL)
def q_stats_mann_whitney(spark, sf_dir):
    """Mann-Whitney U (Wilcoxon rank-sum) test of order value between the
    md5 cohorts — the nonparametric companion to `stats_welch_ttest`
    (no normality assumption) and `drift_ks_test` (tests location shift
    rather than any-distribution difference). Normal approximation with
    the standard tie correction.

    Exactness device: midranks are computed on the DISTINCT-VALUE frame —
    rank sums stay INTEGERS by carrying 2·R1 = Σ c1_v·(2·C_prev + c_v + 1)
    (each value's midrank doubled), so U, the tie term Σ(t³−t), and every
    input to the z formula are exact BIGINTs; z is one fixed IEEE chain
    (fits 2^63 up to ~sf5; beyond that the sum moves to DECIMAL(38,0) —
    one cast). Scale shape: one value-keyed groupBy (uniform key), then
    the ordered prefix sum runs through operators.ranks.ranked on the
    distinct-value frame (bucket rank + offset merge — no single-partition
    window over the corpus), and a 1-row aggregate.

    Thin binding over the parametric :func:`operators.stats.mann_whitney`
    (round-6 extraction) — the doubled-midrank device lives there.
    """
    from dataframe_differ_spark.operators.stats import mann_whitney

    base = load_table(spark, sf_dir, "orders").select(
        F.col("o_totalprice").alias("v"),
        (
            F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1) < "8"
        ).alias("grp"),
    )
    return mann_whitney(base, "v", "grp")


# ---------------------------------------------------------------------------
# Spearman / Pearson correlation of order value vs basket size
# ---------------------------------------------------------------------------

_SPEARMAN_SQL = f"""
WITH li AS (
  SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS y FROM lineitem
  GROUP BY l_orderkey),
pairs AS (
  SELECT o.o_orderkey,
         o.o_totalprice AS x,
         CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS xc,
         li.y
  FROM orders o JOIN li ON li.l_orderkey = o.o_orderkey),
xv AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS c FROM pairs GROUP BY x),
xr AS (
  SELECT x, 2 * (CAST(SUM(c) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING)
                      AS BIGINT) - c) + c + 1 AS rx2
  FROM xv),
yv AS (SELECT y, CAST(COUNT(*) AS BIGINT) AS c FROM pairs GROUP BY y),
yr AS (
  SELECT y, 2 * (CAST(SUM(c) OVER (ORDER BY y ROWS UNBOUNDED PRECEDING)
                      AS BIGINT) - c) + c + 1 AS ry2
  FROM yv),
j AS (
  SELECT p.xc, p.y, xr.rx2, yr.ry2
  FROM pairs p JOIN xr ON xr.x = p.x JOIN yr ON yr.y = p.y),
s AS (
  -- round 7: every moment converts via the shared split-cast device
  -- (operators/numeric.py) — the rank-product sums cross 2^64 past ~4e6
  -- rows, where plain int128->double casts can differ one ulp.
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         {_split_sql('SUM(CAST(rx2 AS HUGEINT))')} AS srx,
         {_split_sql('SUM(CAST(ry2 AS HUGEINT))')} AS sry,
         {_split_sql('SUM(CAST(rx2 AS HUGEINT) * ry2)')} AS srxy,
         {_split_sql('SUM(CAST(rx2 AS HUGEINT) * rx2)')} AS srxx,
         {_split_sql('SUM(CAST(ry2 AS HUGEINT) * ry2)')} AS sryy,
         {_split_sql('SUM(CAST(xc AS HUGEINT))')} AS sx,
         {_split_sql('SUM(CAST(y AS HUGEINT))')} AS sy,
         {_split_sql('SUM(CAST(xc AS HUGEINT) * y)')} AS sxy,
         {_split_sql('SUM(CAST(xc AS HUGEINT) * xc)')} AS sxx,
         {_split_sql('SUM(CAST(y AS HUGEINT) * y)')} AS syy
  FROM j)
SELECT n,
       ROUND((n * srxy - srx * sry)
             / sqrt((n * srxx - srx * srx) * (n * sryy - sry * sry)), 9)
         AS spearman_rho,
       ROUND((n * sxy - sx * sy)
             / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 9)
         AS pearson_r_cents
FROM s
"""


@register("stats_spearman_corr", oracle=_SPEARMAN_SQL)
def q_stats_spearman_corr(spark, sf_dir):
    """Spearman rank correlation (and exact-cents Pearson) between order
    value and basket size — the monotone-association companion to the
    OLS/chi²/Mann-Whitney family. Spearman is Pearson on midranks, so
    ties are handled exactly.

    Exactness devices: midranks carried DOUBLED (2·rank is an integer even
    at tie midpoints — the Mann-Whitney device applied to BOTH variables),
    Pearson on integer CENTS — so every sum entering either correlation is
    an exact integer (DuckDB HUGEINT / Spark DECIMAL(38,0), cast to double
    only at the 1-row formula, where both engines round the same integer
    to the same double). The scale factors (2×, 100×) cancel in the
    normalized ratios. Plan: per-variable distinct-value frames with
    ordered prefix sums via operators.ranks.ranked (no corpus-wide
    window), two uniform value-keyed joins back, one 1-row aggregate.

    Thin binding over the parametric :func:`operators.stats.spearman`
    (round-6 extraction) — both doubled-midrank prefixes and the
    integer-exact Pearson live there.
    """
    from dataframe_differ_spark.operators.stats import spearman

    li = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("y"))
    )
    pairs = (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            F.col("o_totalprice").alias("x"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("xc"),
        )
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .select("x", "xc", "y")
    )
    return spearman(
        pairs, "x", "y", x_exact_col="xc", broadcast_y_ranks=True
    ).select(
        "n",
        "spearman_rho",
        F.col("pearson_r").alias("pearson_r_cents"),
    )


# ---------------------------------------------------------------------------
# Kendall tau-b between basket size and price band (round 6)
# ---------------------------------------------------------------------------

_KENDALL_SQL = """
WITH li AS (
  SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS x
  FROM lineitem GROUP BY l_orderkey),
pairs AS (
  SELECT li.x,
         LEAST(9, GREATEST(0, CAST(FLOOR(o.o_totalprice / 50000) AS BIGINT)))
           AS y
  FROM orders o JOIN li ON li.l_orderkey = o.o_orderkey),
grid AS (SELECT x, y, CAST(COUNT(*) AS BIGINT) AS c FROM pairs GROUP BY x, y),
cd AS (
  SELECT CAST(COALESCE(SUM(CASE WHEN b.y > a.y THEN a.c * b.c END), 0)
              AS BIGINT) AS con,
         CAST(COALESCE(SUM(CASE WHEN b.y < a.y THEN a.c * b.c END), 0)
              AS BIGINT) AS dis
  FROM grid a JOIN grid b ON b.x > a.x AND b.y <> a.y),
xt AS (
  SELECT CAST(SUM(t) AS BIGINT) AS n,
         CAST(SUM(t * (t - 1)) // 2 AS BIGINT) AS n1
  FROM (SELECT x, CAST(SUM(c) AS BIGINT) AS t FROM grid GROUP BY x)),
yt AS (
  SELECT CAST(SUM(t * (t - 1)) // 2 AS BIGINT) AS n2
  FROM (SELECT y, CAST(SUM(c) AS BIGINT) AS t FROM grid GROUP BY y))
SELECT n, con AS n_concordant, dis AS n_discordant,
       n1 AS ties_x, n2 AS ties_y,
       -- each factor < 2^53 converts to double exactly; multiplying in
       -- double avoids the int64 overflow the product hits past ~3e9
       -- pairs per side (caught at sf0.1, round 6)
       ROUND(CAST(con - dis AS DOUBLE)
             / sqrt(CAST(n * (n - 1) // 2 - n1 AS DOUBLE)
                    * CAST(n * (n - 1) // 2 - n2 AS DOUBLE)), 9) AS tau_b
FROM cd CROSS JOIN xt CROSS JOIN yt
"""


@register("stats_kendall_tau", oracle=_KENDALL_SQL)
def q_stats_kendall_tau(spark, sf_dir):
    """Kendall tau-b between order basket size and price band.

    The third rank-correlation of the family (Pearson: stats_ols_multi,
    Spearman: stats_spearman_corr): tau-b counts concordant vs discordant
    pairs with full tie correction, the right association measure when
    BOTH variables are coarse ordinals (basket size 1-7, price band
    0-9). The engine answer to the O(n^2) pair count: collapse to the
    <= 70-cell contingency grid in one map-side-combinable groupBy, then
    count pair blocks on the broadcast grid self-join — all BIGINT, no
    window, no sort, one corpus scan (integer `div` for the tie-pair
    halves, so no float hop anywhere before the final ratio).

    Thin binding over the parametric :func:`operators.stats.kendall_tau`
    (round-6 extraction).
    """
    from dataframe_differ_spark.operators.stats import kendall_tau

    li = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    pairs = (
        load_table(spark, sf_dir, "orders")
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            "x",
            F.least(
                F.lit(9),
                F.greatest(
                    F.lit(0), F.floor(F.col("o_totalprice") / 50000)
                ),
            ).cast("long").alias("y"),
        )
    )
    kt = kendall_tau(pairs, "x", "y")
    return kt.select(
        "n",
        "n_concordant",
        "n_discordant",
        "ties_x",
        "ties_y",
        F.round("tau_b", 9).alias("tau_b"),
    )


# ---------------------------------------------------------------------------
# Brown-Forsythe variance-equality test across order priorities (round 6)
# ---------------------------------------------------------------------------

_LEVENE_SQL = """
WITH v AS (
  SELECT o_orderpriority AS g,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders),
med AS (SELECT g, MEDIAN(cents) AS m FROM v GROUP BY g),
z AS (
  SELECT v.g,
         ABS(2 * v.cents - CAST(2 * med.m AS BIGINT)) AS z
  FROM v JOIN med ON v.g = med.g),
grp AS (
  SELECT g, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(z) AS BIGINT) AS s,
         CAST(SUM(CAST(z AS HUGEINT) * z) AS DECIMAL(38, 0)) AS q
  FROM z GROUP BY g),
terms AS (
  SELECT g, n, s, q, CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n AS t
  FROM grp),
folded AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(n) AS BIGINT) AS nn,
         CAST(SUM(s) AS BIGINT) AS ss,
         -- split-cast: >2^64 int -> double via hi*2^30 + lo (DuckDB's
         -- direct int128->double cast rounds 1 ulp off Java/Python —
         -- this binding at sf0.1 is where round 6 caught it)
         CAST(CAST(SUM(q) AS HUGEINT) // 1073741824 AS DOUBLE)
           * 1073741824.0
           + CAST(CAST(SUM(q) AS HUGEINT) % 1073741824 AS DOUBLE) AS sq,
         list_reduce(
           list_prepend(CAST(0.0 AS DOUBLE),
                        list(t ORDER BY g)), (acc, x) -> acc + x) AS st
  FROM terms),
parts AS (
  SELECT k, nn,
         st - CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE) / nn AS ssb,
         sq - st AS ssw
  FROM folded)
SELECT k AS k_groups, nn AS n_obs, ssb AS ss_between, ssw AS ss_within,
       ROUND((ssb / (k - 1)) / (ssw / (nn - k)), 9) AS f_stat,
       ROUND(ssb / (ssb + ssw), 9) AS eta_sq
FROM parts
"""


@register("stats_levene_bf", oracle=_LEVENE_SQL)
def q_stats_levene_bf(spark, sf_dir):
    """Brown-Forsythe (median-centered Levene) test: do order-price
    VARIANCES differ across the five order priorities?

    The variance-equality companion the ANOVA family was missing — ANOVA
    compares means and silently assumes equal variances; this is the
    robust (median-centered, Brown & Forsythe 1974) gatekeeper for that
    assumption. Exactness devices stack three rounds of parity lessons:
    deviations carried DOUBLED so |2v - 2*median| is a BIGINT even at
    half-valued medians (the Mann-Whitney midrank device), F is
    scale-invariant so F(2z) = F(z) exactly (ss_* are reported on the
    doubled scale, 4x conventional), and the k-term between-group fold
    runs in sorted group order (the anova_f device). Two group-keyed
    shuffles; scan-bound at 100 TB.

    Thin binding over the parametric :func:`operators.stats.levene_bf`
    (round-6 extraction), which composes :func:`operators.stats.anova_f`.
    """
    from dataframe_differ_spark.operators.stats import levene_bf

    v = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("g"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    return levene_bf(v, "cents", "g")


# ---------------------------------------------------------------------------
# Fano-factor burstiness of daily event volume (round 6)
# ---------------------------------------------------------------------------

_FANO_SQL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY event_type, CAST(ts AS DATE)),
mom AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS s1,
         CAST(SUM(x * x) AS BIGINT) AS s2
  FROM daily GROUP BY event_type)
SELECT event_type, n AS n_days,
       ROUND(CAST(s1 AS DOUBLE) / n, 9) AS mean_daily,
       ROUND(CAST(n * s2 - s1 * s1 AS DOUBLE) / CAST(n * s1 AS DOUBLE), 9)
         AS fano,
       CAST(n * s2 - s1 * s1 AS DOUBLE) / CAST(n * s1 AS DOUBLE) > 1.0
         AS overdispersed
FROM mom
"""


@register("events_fano_burstiness", oracle=_FANO_SQL)
def q_events_fano_burstiness(spark, sf_dir):
    """Fano factor (index of dispersion) of daily event counts per type.

    The burstiness screen for event streams: a Poisson-arrival process
    has variance = mean on any aggregation window (Fano = 1); Fano >> 1
    flags bursty/overdispersed types (incident storms, batch replays),
    Fano << 1 metronomic ones (cron heartbeats). Var_pop/mean collapses
    algebraically to (n*Sx^2 - Sx*Sx) / (n*Sx) - exact BIGINT moments
    from one daily rollup, ONE double division, one comparison against
    literal 1.0 (no epsilon: the division is the same IEEE op in both
    engines). The corpus is touched once; everything after is per-type
    KB frames.
    """
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(F.count(F.lit(1)).alias("x"))
    mom = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("s1"),
        F.sum(F.col("x") * F.col("x")).alias("s2"),
    )
    fano = (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")).cast(
        "double"
    ) / (F.col("n") * F.col("s1")).cast("double")
    return mom.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.round(F.col("s1").cast("double") / F.col("n"), 9).alias("mean_daily"),
        F.round(fano, 9).alias("fano"),
        (fano > F.lit(1.0)).alias("overdispersed"),
    )


# ---------------------------------------------------------------------------
# Gini coefficient of customer revenue concentration (round 6)
# ---------------------------------------------------------------------------

_GINI_SQL = f"""
WITH per_cust AS (
  SELECT o_custkey,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY o_custkey),
rk AS (
  SELECT cents,
         CAST(ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS BIGINT) AS r
  FROM per_cust),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(cents) AS BIGINT) AS total,
         SUM(CAST(r AS HUGEINT) * cents) AS rv
  FROM rk)
-- round 7: numerator/denominator cross 2^64 at scale; both engines
-- convert via the shared split-cast device (operators/numeric.py).
SELECT n, total,
       ROUND({_split_sql('2 * rv - CAST(n + 1 AS HUGEINT) * total')}
             / {_split_sql('CAST(n AS HUGEINT) * total')}, 9) AS gini
FROM agg
"""


@register("orders_gini_revenue", oracle=_GINI_SQL)
def q_orders_gini_revenue(spark, sf_dir):
    """Gini coefficient of per-customer revenue concentration.

    The single-number companion to `revenue_pareto` ("how few customers
    make 80%"): G = (2*sum(r_i*v_i) - (n+1)*sum(v)) / (n*sum(v)) over
    ascending-ranked exact cents. The oracle ranks with a window; the
    engine side NEVER does - the global rank is the two-phase bucketed
    rank (operators/ranks.ranked: approx_percentile boundaries ->
    per-bucket windows -> broadcast offset merge), the plan that
    survives 1000 executors. sum(r*v) accumulates as DECIMAL(38,0)
    (BIGINT overflows at ~1e8 customers x 1e7 cents); one final double
    division.

    Thin binding over the parametric :func:`operators.stats.gini`
    (round-6 extraction).
    """
    from dataframe_differ_spark.operators.stats import gini

    per_cust = customer_cents(spark, sf_dir)
    return gini(per_cust, "cents", "o_custkey")


# ---------------------------------------------------------------------------
# Two-proportion z-test on user conversion (round 6)
# ---------------------------------------------------------------------------

# (user, day) conversion cells rolled up per md5 arm, opening the pivot:
# the CTEs the two-proportion z-test and the MDE design share.
_CONV_ARM_SQL_CTES = """
WITH per_cell AS (
  SELECT user_id, CAST(ts AS DATE) AS d,
         substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8' AS treat,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY user_id, CAST(ts AS DATE)),
arm AS (
  SELECT treat, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(conv) AS BIGINT) AS x
  FROM per_cell GROUP BY treat),
w AS (
  SELECT MAX(CASE WHEN treat THEN n END) AS n1,
"""


_PROP_Z_SQL = _CONV_ARM_SQL_CTES + """\
         MAX(CASE WHEN treat THEN x END) AS x1,
         MAX(CASE WHEN NOT treat THEN n END) AS n2,
         MAX(CASE WHEN NOT treat THEN x END) AS x2
  FROM arm),
c AS (
  SELECT n1, x1, n2, x2,
         CAST(x1 AS DOUBLE) / n1 AS p1,
         CAST(x2 AS DOUBLE) / n2 AS p2,
         CAST(x1 + x2 AS DOUBLE) / (n1 + n2) AS pp
  FROM w)
SELECT n1 AS n_treat, n2 AS n_control,
       ROUND(p1, 9) AS conv_treat, ROUND(p2, 9) AS conv_control,
       ROUND(pp, 9) AS conv_pooled,
       ROUND((p1 - p2) / sqrt(pp * (1.0 - pp)
                              * (1.0 / n1 + 1.0 / n2)), 9) AS z_score,
       abs((p1 - p2) / sqrt(pp * (1.0 - pp)
                            * (1.0 / n1 + 1.0 / n2))) > 1.96
         AS significant_95
FROM c
"""


def _conversion_arms(spark, sf_dir):
    """Per md5 arm: active (user, day) cells ``n`` and converting cells
    ``x`` (MAX of the purchase flag per cell), from one rollup."""
    e = load_table(spark, sf_dir, "events")
    per_cell = e.groupBy("user_id", F.col("ts").cast("date").alias("d")).agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("conv")
    ).select(
        (
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 1) < "8"
        ).alias("treat"),
        "conv",
    )
    return per_cell.groupBy("treat").agg(
        F.count(F.lit(1)).alias("n"), F.sum("conv").alias("x")
    )


@register("stats_two_proportions_z", oracle=_PROP_Z_SQL)
def q_stats_two_proportions_z(spark, sf_dir):
    """Two-proportion z-test: do the md5-split treatment arm's ACTIVE
    USER-DAYS convert (>= 1 purchase that day) at a different rate?

    The A/B statistic for binary outcomes — `stats_welch_ttest` compares
    continuous spend, this compares conversion RATES: z = (p1 - p2) /
    sqrt(p_pool*(1 - p_pool)*(1/n1 + 1/n2)). The unit is the active
    (user, day) cell — per-USER conversion saturates at 1 on this corpus
    (every user eventually buys), a real dashboard's daily-conversion
    framing. Everything reduces to four exact BIGINTs (per-arm cells and
    converting cells) from one (user, day) rollup; the statistic is ONE
    fixed IEEE chain both engines evaluate identically, compared against
    the plain literal 1.96 (no epsilon: same double both sides).
    MAX(flag) per cell, not COUNT, so heavy purchasers cannot skew the
    proportion. One uniform composite-keyed shuffle; scan-bound at
    100 TB.
    """
    arm = _conversion_arms(spark, sf_dir)
    w = arm.agg(
        F.max(F.when(F.col("treat"), F.col("n"))).alias("n1"),
        F.max(F.when(F.col("treat"), F.col("x"))).alias("x1"),
        F.max(F.when(~F.col("treat"), F.col("n"))).alias("n2"),
        F.max(F.when(~F.col("treat"), F.col("x"))).alias("x2"),
    )
    p1 = F.col("x1").cast("double") / F.col("n1")
    p2 = F.col("x2").cast("double") / F.col("n2")
    pp = (F.col("x1") + F.col("x2")).cast("double") / (F.col("n1") + F.col("n2"))
    z = (p1 - p2) / F.sqrt(
        pp * (F.lit(1.0) - pp) * (F.lit(1.0) / F.col("n1") + F.lit(1.0) / F.col("n2"))
    )
    return w.select(
        F.col("n1").alias("n_treat"),
        F.col("n2").alias("n_control"),
        F.round(p1, 9).alias("conv_treat"),
        F.round(p2, 9).alias("conv_control"),
        F.round(pp, 9).alias("conv_pooled"),
        F.round(z, 9).alias("z_score"),
        (F.abs(z) > F.lit(1.96)).alias("significant_95"),
    )


# ---------------------------------------------------------------------------
# Minimum detectable effect / power design for the conversion A/B (round 6)
# ---------------------------------------------------------------------------

# Standard normal quantiles as shared 9-dp literals (public constants:
# two-sided alpha = 0.05 -> z = Phi^-1(0.975); power 80% -> Phi^-1(0.8)).
# Hard-coded so neither engine ever calls an inverse-CDF.
_Z_ALPHA2 = 1.959963985
_Z_BETA80 = 0.841621234

_POWER_MDE_SQL = _CONV_ARM_SQL_CTES + f"""\
         MAX(CASE WHEN NOT treat THEN n END) AS n2,
         CAST(SUM(x) AS BIGINT) AS xt, CAST(SUM(n) AS BIGINT) AS nt
  FROM arm),
c AS (
  SELECT n1, n2, CAST(xt AS DOUBLE) / nt AS p,
         ({_Z_ALPHA2} + {_Z_BETA80})
           * sqrt((CAST(xt AS DOUBLE) / nt) * (1.0 - CAST(xt AS DOUBLE) / nt)
                  * (1.0 / n1 + 1.0 / n2)) AS mde
  FROM w)
SELECT n1 AS n_treat, n2 AS n_control,
       ROUND(p, 9) AS baseline_rate,
       ROUND(mde, 9) AS mde_abs,
       ROUND(mde / p, 9) AS mde_rel,
       CAST(CEIL(2.0 * ({_Z_ALPHA2} + {_Z_BETA80}) * ({_Z_ALPHA2} + {_Z_BETA80})
                 * p * (1.0 - p) / (0.01 * 0.01)) AS BIGINT)
         AS n_per_arm_for_1pt
FROM c
"""


@register("stats_power_mde", oracle=_POWER_MDE_SQL)
def q_stats_power_mde(spark, sf_dir):
    """Experiment-design companion to `stats_two_proportions_z`: at the
    CURRENT arm sizes, what's the minimum detectable effect (80% power,
    two-sided 95%) on the daily conversion rate — and how many cells per
    arm would a 1-point absolute lift need?

    MDE = (z_a/2 + z_b)·sqrt(p(1-p)(1/n1 + 1/n2)) on the pooled rate;
    the normal quantiles are shared 9-dp literals (no inverse-CDF call
    in either engine — the Poisson-CDF-constants device). Everything
    reduces to three exact BIGINTs from the same one-rollup plan as the
    z-test; both reported designs are single fixed IEEE chains. The
    dashboard use: an experiment platform refuses to launch a test whose
    expected lift is below the MDE this query reports.
    """
    arm = _conversion_arms(spark, sf_dir)
    w = arm.agg(
        F.max(F.when(F.col("treat"), F.col("n"))).alias("n1"),
        F.max(F.when(~F.col("treat"), F.col("n"))).alias("n2"),
        F.sum("x").alias("xt"),
        F.sum("n").alias("nt"),
    )
    p = F.col("xt").cast("double") / F.col("nt")
    zsum = F.lit(_Z_ALPHA2 + _Z_BETA80)
    mde = zsum * F.sqrt(
        p * (F.lit(1.0) - p) * (F.lit(1.0) / F.col("n1") + F.lit(1.0) / F.col("n2"))
    )
    return w.select(
        F.col("n1").alias("n_treat"),
        F.col("n2").alias("n_control"),
        F.round(p, 9).alias("baseline_rate"),
        F.round(mde, 9).alias("mde_abs"),
        F.round(mde / p, 9).alias("mde_rel"),
        F.ceil(
            F.lit(2.0) * zsum * zsum * p * (F.lit(1.0) - p) / F.lit(0.01 * 0.01)
        )
        .cast("long")
        .alias("n_per_arm_for_1pt"),
    )


# ---------------------------------------------------------------------------
# t-closeness audit over customer quasi-identifiers (round 7)
# ---------------------------------------------------------------------------

_TCLOSE_SQL = """
WITH base AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS band
  FROM customer),
cv AS (
  SELECT c_nationkey, c_mktsegment, band, CAST(COUNT(*) AS BIGINT) AS c
  FROM base GROUP BY c_nationkey, c_mktsegment, band),
classes AS (
  SELECT c_nationkey, c_mktsegment, CAST(SUM(c) AS BIGINT) AS nc
  FROM cv GROUP BY c_nationkey, c_mktsegment),
gv AS (
  SELECT band, CAST(COUNT(*) AS BIGINT) AS g FROM base GROUP BY band),
gtot AS (
  SELECT CAST(SUM(g) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS m
  FROM gv),
dense AS (
  SELECT cl.c_nationkey, cl.c_mktsegment, cl.nc, gv.band, gv.g,
         COALESCE(cv.c, 0) AS c
  FROM classes cl CROSS JOIN gv
  LEFT JOIN cv ON cv.c_nationkey = cl.c_nationkey
              AND cv.c_mktsegment = cl.c_mktsegment
              AND cv.band = gv.band),
run AS (
  SELECT d.c_nationkey, d.c_mktsegment, d.nc, d.band, gtot.m,
         SUM(CAST(d.c AS DOUBLE) / d.nc - CAST(d.g AS DOUBLE) / gtot.n)
           OVER (PARTITION BY d.c_nationkey, d.c_mktsegment
                 ORDER BY d.band ROWS UNBOUNDED PRECEDING) AS r
  FROM dense d CROSS JOIN gtot),
emd AS (
  SELECT c_nationkey, c_mktsegment, nc,
         ROUND(list_reduce(list_prepend(0.0, list(abs(r) ORDER BY band)),
                           (acc, x) -> acc + x) / (ANY_VALUE(m) - 1), 9)
           AS emd
  FROM run GROUP BY c_nationkey, c_mktsegment, nc)
SELECT c_nationkey, c_mktsegment, nc AS n_class, emd,
       emd > 0.2 AS exceeds_t
FROM emd
ORDER BY emd DESC, c_nationkey, c_mktsegment
LIMIT 10
"""


@register("privacy_t_closeness", oracle=_TCLOSE_SQL)
def q_privacy_t_closeness(spark, sf_dir):
    """t-closeness audit (t = 0.2) over customer quasi-identifiers,
    completing the k-anonymity -> l-diversity -> t-closeness governance
    ladder (Li, Li, Venkatasubramanian 2007) on the same QI fixture: a
    (nation, segment) class whose account-balance-band distribution
    diverges from the global one leaks balance information even when
    k-anonymous and l-diverse. Distance is the ordered-attribute Earth
    Mover's Distance: EMD = sum over the band spine of |running
    (p_j - q_j)| / (m - 1).

    Exactness: all counts BIGINT; each p_j - q_j a difference of two
    BIGINT ratios (identical doubles both engines); the per-class
    |running| fold runs over the sorted ~14-band spine (order-free);
    the top-10 cut orders by the ROUNDED emd with QI tie-breaks. Plan:
    two rollups + a bounded classes x bands dense spine (125 x 14) +
    partitioned windows over it — scan-bound at 100 TB.

    Thin binding over the parametric
    :func:`operators.privacy.t_closeness` (round-7 addition).
    """
    from dataframe_differ_spark.operators.privacy import t_closeness

    c = load_table(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias("band"),
    )
    return t_closeness(
        c, ["c_nationkey", "c_mktsegment"], "band", t=0.2, top_n=10
    ).select(
        "c_nationkey", "c_mktsegment", "n_class", "emd", "exceeds_t"
    )


# ---------------------------------------------------------------------------
# Jarque-Bera normality test per return flag (round 7)
# ---------------------------------------------------------------------------

_JB_SQL = _MOMENTS_SQL_CTES + """,
s AS (
  SELECT l_returnflag, n,
         (m3 / (m2 * sqrt(m2))) AS skew,
         (m4 / (m2 * m2) - 3) AS exkurt
  FROM c)
SELECT l_returnflag, n,
       ROUND(n / 6.0 * (skew * skew + exkurt * exkurt / 4.0), 9) AS jb_stat,
       n / 6.0 * (skew * skew + exkurt * exkurt / 4.0) > 5.991464547
         AS reject_normal_95
FROM s
"""


@register("stats_jarque_bera", oracle=_JB_SQL)
def q_stats_jarque_bera(spark, sf_dir):
    """Jarque-Bera normality test per return flag — the hypothesis-test
    face of `agg_skewness_kurtosis` on the SAME exact moment cells:
    JB = n/6 * (S^2 + K^2/4) ~ chi^2(2) under normality, rejecting at
    the 5.991 critical value (0.95 quantile, a fixed literal so no
    quantile function enters the plan).

    Exactness devices shared with it (`_lineitem_central_moments`,
    `_MOMENTS_SQL_CTES`): raw moments sum(q)..sum(q^4)
    are exact BIGINTs (quantity <= 50; under 2^63 to ~sf200k, the
    BASELINE.md round-7 audit bound), central moments expand in one
    fixed left-associated IEEE chain, sqrt not pow. The rejection
    boolean compares the UNROUNDED statistic identically on both
    engines. One map-side-combinable groupBy — scan-bound at any sf.
    """
    d, m2, m3, m4 = _lineitem_central_moments(spark, sf_dir)
    c = d.select("l_returnflag", "n", m2.alias("m2"), m3.alias("m3"),
                 m4.alias("m4"))
    skew = F.col("m3") / (F.col("m2") * F.sqrt("m2"))
    exk = F.col("m4") / (F.col("m2") * F.col("m2")) - 3
    s = c.select("l_returnflag", "n", skew.alias("skew"), exk.alias("exkurt"))
    jb = F.col("n") / 6.0 * (
        F.col("skew") * F.col("skew")
        + F.col("exkurt") * F.col("exkurt") / 4.0
    )
    return s.select(
        "l_returnflag",
        "n",
        F.round(jb, 9).alias("jb_stat"),
        (jb > 5.991464547).alias("reject_normal_95"),
    )


# ---------------------------------------------------------------------------
# Mann-Kendall trend test on the daily volume series (round 7)
# ---------------------------------------------------------------------------

_MK_SQL = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY CAST(ts AS DATE)),
m AS (SELECT MIN(d) AS d0 FROM daily),
pts AS (
  SELECT CAST(datediff('day', m.d0, daily.d) AS BIGINT) AS i, x
  FROM daily CROSS JOIN m),
s AS (
  SELECT CAST(SUM(CASE WHEN b.x > a.x THEN 1
                       WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT)
           AS s_stat
  FROM pts a JOIN pts b ON a.i < b.i),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM pts),
ties AS (
  SELECT CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT) AS tt
  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM pts GROUP BY x)
  WHERE t > 1),
v AS (
  SELECT n.n, s.s_stat, ties.tt,
         (CAST(n.n AS DOUBLE) * (n.n - 1) * (2 * n.n + 5) - ties.tt) / 18.0
           AS var_s
  FROM n CROSS JOIN s CROSS JOIN ties)
SELECT n AS n_days, s_stat, ROUND(var_s, 9) AS var_s,
       ROUND(CASE WHEN s_stat > 0 THEN (s_stat - 1) / sqrt(var_s)
                  WHEN s_stat < 0 THEN (s_stat + 1) / sqrt(var_s)
                  ELSE 0.0 END, 9) AS z_stat,
       CASE WHEN s_stat > 0 AND (s_stat - 1) / sqrt(var_s) > 1.96
              THEN 'increasing'
            WHEN s_stat < 0 AND (s_stat + 1) / sqrt(var_s) < -1.96
              THEN 'decreasing'
            ELSE 'no_trend' END AS trend
FROM v
"""


@register("stats_mann_kendall", oracle=_MK_SQL)
def q_stats_mann_kendall(spark, sf_dir):
    """Mann-Kendall monotone-trend test on the daily event volume — the
    nonparametric hypothesis-test companion to `trend_theilsen_daily`
    (which estimates the slope; MK decides whether a trend EXISTS):
    S = sum over day pairs i < j of sgn(x_j - x_i), with the standard
    tie-corrected variance and continuity-corrected z.

    Exactness: S and the tie term are exact BIGINTs; var_s is one
    division of an exact integer by 18; z is one fixed IEEE chain. The
    pair space is the DAY SPINE squared — bounded by the calendar
    (730 days = 266k pairs at any corpus size), so the broadcast
    inequality self-join is a deliberate bounded-quadratic, the same
    contract as `ranked`'s triangle join; the corpus itself is touched
    exactly once by the daily rollup.
    """
    pts = _daily_volume_pts_cached(spark, sf_dir)
    b = pts.select(F.col("i").alias("j"), F.col("x").alias("y"))
    s = pts.join(F.broadcast(b), F.col("i") < F.col("j")).agg(
        F.sum(
            F.when(F.col("y") > F.col("x"), 1)
            .when(F.col("y") < F.col("x"), -1)
            .otherwise(0)
        )
        .cast("long")
        .alias("s_stat")
    )
    n = pts.agg(F.count(F.lit(1)).alias("n"))
    ties = (
        pts.groupBy("x")
        .agg(F.count(F.lit(1)).alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)),
                F.lit(0),
            )
            .cast("long")
            .alias("tt")
        )
    )
    v = (
        n.crossJoin(F.broadcast(s))
        .crossJoin(F.broadcast(ties))
        .select(
            "n",
            "s_stat",
            (
                (
                    F.col("n").cast("double")
                    * (F.col("n") - 1)
                    * (2 * F.col("n") + 5)
                    - F.col("tt")
                )
                / 18.0
            ).alias("var_s"),
        )
    )
    sq = F.sqrt("var_s")
    z = (
        F.when(F.col("s_stat") > 0, (F.col("s_stat") - 1) / sq)
        .when(F.col("s_stat") < 0, (F.col("s_stat") + 1) / sq)
        .otherwise(F.lit(0.0))
    )
    return v.select(
        F.col("n").alias("n_days"),
        "s_stat",
        F.round("var_s", 9).alias("var_s"),
        F.round(z, 9).alias("z_stat"),
        F.when(
            (F.col("s_stat") > 0) & ((F.col("s_stat") - 1) / sq > 1.96),
            F.lit("increasing"),
        )
        .when(
            (F.col("s_stat") < 0) & ((F.col("s_stat") + 1) / sq < -1.96),
            F.lit("decreasing"),
        )
        .otherwise(F.lit("no_trend"))
        .alias("trend"),
    )


# ---------------------------------------------------------------------------
# Friedman rank test across event types, blocked by day (round 7)
# ---------------------------------------------------------------------------

_FRIEDMAN_SQL = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, event_type, CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY CAST(ts AS DATE), event_type),
spine AS (
  SELECT days.d, types.event_type
  FROM (SELECT DISTINCT d FROM daily) days
  CROSS JOIN (SELECT DISTINCT event_type FROM daily) types),
dense AS (
  SELECT spine.d, spine.event_type, COALESCE(daily.c, 0) AS c
  FROM spine LEFT JOIN daily
    ON daily.d = spine.d AND daily.event_type = spine.event_type),
dr AS (
  SELECT a.d, a.event_type,
         CAST(SUM(CASE WHEN b.c < a.c THEN 2
                       WHEN b.c = a.c THEN 1 ELSE 0 END) AS BIGINT)
           AS drank
  FROM dense a JOIN dense b ON a.d = b.d
  GROUP BY a.d, a.event_type),
sums AS (
  SELECT event_type, CAST(SUM(drank) AS BIGINT) AS r2
  FROM dr GROUP BY event_type),
consts AS (
  SELECT CAST(COUNT(DISTINCT d) AS BIGINT) AS n,
         CAST(COUNT(DISTINCT event_type) AS BIGINT) AS k
  FROM dense),
a2 AS (SELECT CAST(SUM(drank * drank) AS BIGINT) AS sdr2 FROM dr),
stat AS (
  SELECT consts.n, consts.k,
         CAST((consts.k - 1) AS DOUBLE)
           * (SELECT SUM((r2 - consts.n * (consts.k + 1))
                         * (r2 - consts.n * (consts.k + 1))) FROM sums)
           / (a2.sdr2 - consts.n * consts.k
                        * (consts.k + 1) * (consts.k + 1))
           AS chi2
  FROM consts CROSS JOIN a2)
SELECT n AS n_blocks, k AS k_treatments,
       ROUND(chi2, 9) AS chi2_friedman,
       chi2 > 9.487729037 AS reject_95
FROM stat
"""


@register("stats_friedman", oracle=_FRIEDMAN_SQL)
def q_stats_friedman(spark, sf_dir):
    """Friedman rank test: do the event types differ in daily volume,
    blocking by day? The k-related-samples companion to
    `stats_mann_whitney` (2 independent) and `stats_anova_f`
    (parametric): within each day the k types are midranked, and the
    tie-corrected statistic compares per-type rank sums against the
    all-equal expectation (chi^2 with k-1 df; 9.488 = the 0.95 quantile
    at df=4, a fixed literal).

    Exactness: the DOUBLED-midrank device (2r is an integer even at tie
    midpoints) keeps every quantity BIGINT — with doubled ranks the
    tie-corrected Conover form reduces to (k-1)*sum (R2_j - n(k+1))^2 /
    (sum dr^2 - n*k*(k+1)^2), one final division. Midranks come from
    the bounded within-day k x k self-join (25 pairs/day), never a
    window. Plan: one daily rollup touches the corpus; everything after
    is day-spine-sized.
    """
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.to_date("ts").alias("d"), "event_type"
    ).agg(F.count(F.lit(1)).alias("c"))
    days = daily.select("d").distinct()
    types = daily.select("event_type").distinct()
    dense = (
        days.crossJoin(F.broadcast(types))
        .join(daily, ["d", "event_type"], "left")
        .select("d", "event_type", F.coalesce("c", F.lit(0)).alias("c"))
    )
    b = dense.select(
        F.col("d").alias("d2"), F.col("c").alias("c2")
    )
    dr = (
        dense.join(b, F.col("d2") == F.col("d"))
        .groupBy("d", "event_type")
        .agg(
            F.sum(
                F.when(F.col("c2") < F.col("c"), 2)
                .when(F.col("c2") == F.col("c"), 1)
                .otherwise(0)
            )
            .cast("long")
            .alias("drank")
        )
    )
    sums = dr.groupBy("event_type").agg(F.sum("drank").alias("r2"))
    consts = dense.agg(
        F.countDistinct("d").alias("n"),
        F.countDistinct("event_type").alias("k"),
    )
    a2 = dr.agg(F.sum(F.col("drank") * F.col("drank")).alias("sdr2"))
    dev = sums.crossJoin(F.broadcast(consts)).agg(
        F.sum(
            (F.col("r2") - F.col("n") * (F.col("k") + 1))
            * (F.col("r2") - F.col("n") * (F.col("k") + 1))
        ).alias("ssq"),
        F.max("n").alias("n"),
        F.max("k").alias("k"),
    )
    chi2 = (
        (F.col("k") - 1).cast("double")
        * F.col("ssq")
        / (
            F.col("sdr2")
            - F.col("n") * F.col("k") * (F.col("k") + 1) * (F.col("k") + 1)
        )
    )
    return dev.crossJoin(F.broadcast(a2)).select(
        F.col("n").alias("n_blocks"),
        F.col("k").alias("k_treatments"),
        F.round(chi2, 9).alias("chi2_friedman"),
        (chi2 > 9.487729037).alias("reject_95"),
    )


# ---------------------------------------------------------------------------
# Wilcoxon signed-rank test (round 8)
# ---------------------------------------------------------------------------

_WILCOXON_SQL = """
WITH day_rev AS (
  SELECT CAST(o_orderdate AS DATE) AS d, o_orderpriority AS pri,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders
  WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
  GROUP BY CAST(o_orderdate AS DATE), o_orderpriority),
paired AS (
  SELECT a.cents - b.cents AS diff
  FROM day_rev a JOIN day_rev b ON a.d = b.d
  WHERE a.pri = '1-URGENT' AND b.pri = '5-LOW' AND a.cents <> b.cents),
hist AS (
  SELECT ABS(diff) AS adiff, CAST(COUNT(*) AS BIGINT) AS cnt,
         CAST(SUM(CASE WHEN diff > 0 THEN 1 ELSE 0 END) AS BIGINT) AS npos
  FROM paired GROUP BY ABS(diff)),
ranked AS (
  SELECT h.adiff, h.cnt, h.npos,
         CAST(COALESCE(SUM(l.cnt), 0) AS BIGINT) AS cumb
  FROM hist h LEFT JOIN hist l ON l.adiff < h.adiff
  GROUP BY h.adiff, h.cnt, h.npos),
agg AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS n,
         CAST(SUM(npos * (2 * cumb + cnt + 1)) AS BIGINT) AS w2,
         CAST(SUM(cnt * cnt * cnt - cnt) AS BIGINT) AS ties
  FROM ranked)
SELECT n AS n_pairs, w2 AS w2_plus,
       ROUND((CAST(w2 AS DOUBLE) - CAST(n * (n + 1) AS DOUBLE) / 2.0)
             / sqrt(CAST(2 * n * (n + 1) * (2 * n + 1) - ties AS DOUBLE)
                    / 12.0), 9) AS z
FROM agg
"""


@register("stats_wilcoxon_signed_rank", oracle=_WILCOXON_SQL)
def q_stats_wilcoxon_signed_rank(spark, sf_dir):
    """Wilcoxon signed-rank test (tie-corrected normal approximation):
    do URGENT and LOW orders move DIFFERENT daily revenue, pairing the
    two cohorts BY DAY? The paired nonparametric companion to
    `stats_mann_whitney` (independent cohorts) — pairing removes the
    shared day-level variance a two-sample test wastes power on. Zero
    differences drop (the classic treatment); |d| gets midranks; the
    statistic is the doubled positive-rank sum 2·W⁺ (the doubled-
    midrank device keeps every rank integer), and z uses the exact
    tie-corrected variance Var(2W⁺) = (2n(n+1)(2n+1) − Σ(t³−t))/12.

    Plan: one orders scan → per-(day, priority) exact-cents rollup
    (map-side combinable) → a day-keyed self-join (the pairing) → a
    histogram on |d| → the broadcast triangle join over the DISTINCT
    |d| spine for cumulative counts — never a global rank window; the
    spine is bounded by the calendar (~2,400 days at ANY sf), which is
    what makes this the 100 TB shape. Everything is BIGINT until the
    final z division (n is calendar-bounded, so 2n(n+1)(2n+1) ≈ 5.5e10
    ≪ 2^63 — the cast-audit safe class; int64→double correctly rounded
    on both engines).
    """
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    )
    day_rev = o.groupBy(
        F.col("o_orderdate").cast("date").alias("d"),
        F.col("o_orderpriority").alias("pri"),
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    a = day_rev.filter(F.col("pri") == "1-URGENT").select(
        "d", F.col("cents").alias("ca")
    )
    b = day_rev.filter(F.col("pri") == "5-LOW").select(
        "d", F.col("cents").alias("cb")
    )
    paired = (
        a.join(b, "d")
        .select((F.col("ca") - F.col("cb")).alias("diff"))
        .filter(F.col("diff") != 0)
    )
    hist = paired.groupBy(F.abs("diff").alias("adiff")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.sum(F.when(F.col("diff") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("npos"),
    )
    lower = hist.select(
        F.col("adiff").alias("l_adiff"), F.col("cnt").alias("l_cnt")
    )
    ranked_h = (
        hist.join(
            F.broadcast(lower), F.col("l_adiff") < F.col("adiff"), "left"
        )
        .groupBy("adiff", "cnt", "npos")
        .agg(F.coalesce(F.sum("l_cnt"), F.lit(0)).cast("bigint").alias("cumb"))
    )
    agg = ranked_h.agg(
        F.sum("cnt").cast("bigint").alias("n"),
        F.sum(
            F.col("npos") * (2 * F.col("cumb") + F.col("cnt") + 1)
        )
        .cast("bigint")
        .alias("w2"),
        F.sum(F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt"))
        .cast("bigint")
        .alias("ties"),
    )
    n = F.col("n")
    z = (
        F.col("w2").cast("double") - (n * (n + 1)).cast("double") / F.lit(2.0)
    ) / F.sqrt(
        (2 * n * (n + 1) * (2 * n + 1) - F.col("ties")).cast("double")
        / F.lit(12.0)
    )
    return agg.select(
        n.alias("n_pairs"),
        F.col("w2").alias("w2_plus"),
        F.round(z, 9).alias("z"),
    )


# ---------------------------------------------------------------------------
# Cochran's Q test (round 8) — binary repeated-measures companion to Friedman
# ---------------------------------------------------------------------------

_COCHRAN_SQL = """
WITH grid AS (
  SELECT d.d, p.pri,
         CASE WHEN COALESCE(c.n, 0) >= 2 THEN 1 ELSE 0 END AS x
  FROM (SELECT DISTINCT CAST(o_orderdate AS DATE) AS d FROM orders) d
  CROSS JOIN (SELECT DISTINCT o_orderpriority AS pri FROM orders) p
  LEFT JOIN (
    SELECT CAST(o_orderdate AS DATE) AS d, o_orderpriority AS pri,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM orders GROUP BY 1, 2) c
  ON c.d = d.d AND c.pri = p.pri),
rows_t AS (
  SELECT d, CAST(SUM(x) AS BIGINT) AS ri FROM grid GROUP BY d),
cols_t AS (
  SELECT pri, CAST(SUM(x) AS BIGINT) AS cj FROM grid GROUP BY pri),
agg AS (
  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM rows_t) AS b,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM cols_t) AS k,
         (SELECT CAST(SUM(cj) AS BIGINT) FROM cols_t) AS n,
         (SELECT CAST(SUM(cj * cj) AS BIGINT) FROM cols_t) AS c2,
         (SELECT CAST(SUM(ri) AS BIGINT) FROM rows_t) AS rs,
         (SELECT CAST(SUM(ri * ri) AS BIGINT) FROM rows_t) AS r2)
SELECT b AS n_blocks, k AS k_treatments,
       ROUND(CAST((k - 1) * (k * c2 - n * n) AS DOUBLE)
             / CAST(k * n - r2 AS DOUBLE), 9) AS q_cochran,
       (CAST((k - 1) * (k * c2 - n * n) AS DOUBLE)
        / CAST(k * n - r2 AS DOUBLE)) > 9.487729037 AS reject_95
FROM agg
"""


@register("stats_cochran_q", oracle=_COCHRAN_SQL)
def q_stats_cochran_q(spark, sf_dir):
    """Cochran's Q test: do the five order priorities differ in their
    probability of a "busy day" (≥ 2 orders), treating each calendar
    day as a matched block? The BINARY repeated-measures companion to
    `stats_friedman` (which ranks continuous outcomes): Q =
    (k−1)[k·ΣCⱼ² − N²] / [k·N − ΣRᵢ²] is asymptotically χ²(k−1) under
    exchangeability; with k = 5, reject at 95% above 9.4877 (the same
    critical value as Friedman's — both are 4-df chi-squares).

    Plan: one orders scan → (day, priority) counts (map-side
    combinable); the complete block grid materializes as day-spine ×
    5-row priority dim (a broadcast cross join, calendar-bounded rows);
    row/column totals are two tiny rollups. EVERYTHING is BIGINT
    arithmetic — ΣCⱼ², N², ΣRᵢ² over calendar-bounded counts ≪ 2^63 —
    until the single final division, so the oracle hash-matches
    exactly. At any sf the statistic's input is ~2,400 × 5 cells.
    """
    o = load_table(spark, sf_dir, "orders")
    counts = o.groupBy(
        F.col("o_orderdate").cast("date").alias("d"),
        F.col("o_orderpriority").alias("pri"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    days = o.select(F.col("o_orderdate").cast("date").alias("d")).distinct()
    pris = o.select(F.col("o_orderpriority").alias("pri")).distinct()
    grid = (
        days.crossJoin(F.broadcast(pris))
        .join(counts, ["d", "pri"], "left")
        .select(
            "d",
            "pri",
            F.when(F.coalesce(F.col("n"), F.lit(0)) >= 2, 1)
            .otherwise(0)
            .alias("x"),
        )
    )
    rows_t = grid.groupBy("d").agg(F.sum("x").cast("bigint").alias("ri"))
    cols_t = grid.groupBy("pri").agg(F.sum("x").cast("bigint").alias("cj"))
    b = rows_t.agg(
        F.count(F.lit(1)).cast("bigint").alias("b"),
        F.sum("ri").cast("bigint").alias("rs"),
        F.sum(F.col("ri") * F.col("ri")).cast("bigint").alias("r2"),
    )
    c = cols_t.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("cj").cast("bigint").alias("n"),
        F.sum(F.col("cj") * F.col("cj")).cast("bigint").alias("c2"),
    )
    agg = b.crossJoin(F.broadcast(c))
    qnum = (F.col("k") - 1) * (F.col("k") * F.col("c2") - F.col("n") * F.col("n"))
    qden = F.col("k") * F.col("n") - F.col("r2")
    qv = qnum.cast("double") / qden.cast("double")
    return agg.select(
        F.col("b").alias("n_blocks"),
        F.col("k").alias("k_treatments"),
        F.round(qv, 9).alias("q_cochran"),
        (qv > 9.487729037).alias("reject_95"),
    )


# ---------------------------------------------------------------------------
# McNemar paired-binary test (round 8) — the 2x2 companion to Cochran's Q
# ---------------------------------------------------------------------------

_MCNEMAR_SQL = """
WITH day_flags AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
              AS BIGINT) >= 2 AS a,
         CAST(SUM(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END)
              AS BIGINT) >= 2 AS b
  FROM orders GROUP BY 1),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n10,
         CAST(SUM(CASE WHEN b AND NOT a THEN 1 ELSE 0 END) AS BIGINT) AS n01
  FROM day_flags)
SELECT n_days, n10, n01,
       CASE WHEN n10 + n01 = 0 THEN 0.0
            ELSE ROUND(CAST((ABS(n10 - n01) - 1) * (ABS(n10 - n01) - 1)
                            AS DOUBLE)
                       / CAST(n10 + n01 AS DOUBLE), 9) END AS chi2_mcnemar,
       CASE WHEN n10 + n01 = 0 THEN FALSE
            ELSE (CAST((ABS(n10 - n01) - 1) * (ABS(n10 - n01) - 1) AS DOUBLE)
                  / CAST(n10 + n01 AS DOUBLE)) > 3.841458821
       END AS reject_95
FROM agg
"""


@register("stats_mcnemar", oracle=_MCNEMAR_SQL)
def q_stats_mcnemar(spark, sf_dir):
    """McNemar test on paired day-level binaries: is a calendar day more
    often "urgent-busy" (>= 2 1-URGENT orders) than "low-busy" (>= 2
    5-LOW orders)? Each day is its own matched pair, so only the
    DISCORDANT days carry information: chi2 = (|n10 - n01| - 1)^2 /
    (n10 + n01) (Edwards continuity correction), df = 1, reject at 95%
    above 3.8415. The 2x2 special case of `stats_cochran_q` (k = 2
    treatments) in its classical continuity-corrected form.

    Plan: ONE orders scan -> per-day conditional counts (map-side
    combinable, calendar-bounded output ~2,400 rows) -> one 1-row
    aggregate. Every quantity is BIGINT until the single final division
    (numerator <= n_days^2 << 2^63 at any sf), so the oracle
    hash-matches exactly. Zero discordant days (at large sf EVERY day
    is busy for both priorities) is the test's degenerate no-evidence
    case: both engines pin chi2 = 0 / no-reject rather than diverging
    on 1/0 (Spark NULL vs DuckDB inf — caught by the sf0.1 sweep).
    """
    o = load_table(spark, sf_dir, "orders")
    day_flags = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        (
            F.sum(F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0))
            .cast("bigint")
            >= 2
        ).alias("a"),
        (
            F.sum(F.when(F.col("o_orderpriority") == "5-LOW", 1).otherwise(0))
            .cast("bigint")
            >= 2
        ).alias("b"),
    )
    agg = day_flags.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum(F.when(F.col("a") & ~F.col("b"), 1).otherwise(0))
        .cast("bigint")
        .alias("n10"),
        F.sum(F.when(F.col("b") & ~F.col("a"), 1).otherwise(0))
        .cast("bigint")
        .alias("n01"),
    )
    d = F.abs(F.col("n10") - F.col("n01")) - 1
    disc = F.col("n10") + F.col("n01")
    chi2 = (d * d).cast("double") / disc.cast("double")
    return agg.select(
        "n_days",
        "n10",
        "n01",
        F.when(disc == 0, F.lit(0.0))
        .otherwise(F.round(chi2, 9))
        .alias("chi2_mcnemar"),
        F.when(disc == 0, F.lit(False))
        .otherwise(chi2 > 3.841458821)
        .alias("reject_95"),
    )


# ---------------------------------------------------------------------------
# Cohen's kappa inter-rater agreement (round 8)
# ---------------------------------------------------------------------------

_KAPPA_SQL = """
WITH flags AS (
  SELECT o_totalprice > 150000 AS ra,
         o_orderpriority IN ('1-URGENT', '2-HIGH') AS rb
  FROM orders),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN ra THEN 1 ELSE 0 END) AS BIGINT) AS a1,
         CAST(SUM(CASE WHEN rb THEN 1 ELSE 0 END) AS BIGINT) AS b1,
         CAST(SUM(CASE WHEN ra AND rb THEN 1 ELSE 0 END) AS BIGINT) AS n11,
         CAST(SUM(CASE WHEN NOT ra AND NOT rb THEN 1 ELSE 0 END) AS BIGINT)
           AS n00
  FROM flags),
calc AS (
  SELECT n, a1, b1, n11, n00,
         CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE) AS po,
         (CAST(a1 AS DOUBLE) / CAST(n AS DOUBLE))
           * (CAST(b1 AS DOUBLE) / CAST(n AS DOUBLE))
         + (CAST(n - a1 AS DOUBLE) / CAST(n AS DOUBLE))
           * (CAST(n - b1 AS DOUBLE) / CAST(n AS DOUBLE)) AS pe
  FROM agg)
SELECT n AS n_orders, n11, n00,
       ROUND(po, 9) AS p_observed,
       ROUND(pe, 9) AS p_expected,
       ROUND((po - pe) / (1.0 - pe), 9) AS kappa
FROM calc
"""


@register("stats_cohens_kappa", oracle=_KAPPA_SQL)
def q_stats_cohens_kappa(spark, sf_dir):
    """Cohen's kappa between two binary "raters" labelling every order:
    rater A says high-value (o_totalprice > 150000), rater B says
    expedited (priority URGENT/HIGH). kappa = (po - pe) / (1 - pe)
    corrects raw agreement po for the agreement pe expected from the
    raters' marginal rates alone — the standard chance-corrected
    agreement metric for LLM label-quality audits (model-vs-heuristic
    or annotator-vs-annotator).

    Plan: ONE scan, one 1-row conditional aggregate, no shuffle beyond
    the partial-agg combine. Counts stay BIGINT; po/pe are built from
    per-count double divisions (each count is int64->double, a single
    correctly-rounded conversion both engines share, and the op chain
    is written identically in both) so the final kappa hash-matches.
    """
    o = load_table(spark, sf_dir, "orders")
    flags = o.select(
        (F.col("o_totalprice") > 150000).alias("ra"),
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").alias("rb"),
    )
    agg = flags.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("ra"), 1).otherwise(0)).cast("bigint").alias("a1"),
        F.sum(F.when(F.col("rb"), 1).otherwise(0)).cast("bigint").alias("b1"),
        F.sum(F.when(F.col("ra") & F.col("rb"), 1).otherwise(0))
        .cast("bigint")
        .alias("n11"),
        F.sum(F.when(~F.col("ra") & ~F.col("rb"), 1).otherwise(0))
        .cast("bigint")
        .alias("n00"),
    )
    nd = F.col("n").cast("double")
    po = (F.col("n11") + F.col("n00")).cast("double") / nd
    pe = (F.col("a1").cast("double") / nd) * (
        F.col("b1").cast("double") / nd
    ) + ((F.col("n") - F.col("a1")).cast("double") / nd) * (
        (F.col("n") - F.col("b1")).cast("double") / nd
    )
    return agg.select(
        F.col("n").alias("n_orders"),
        "n11",
        "n00",
        F.round(po, 9).alias("p_observed"),
        F.round(pe, 9).alias("p_expected"),
        F.round((po - pe) / (F.lit(1.0) - pe), 9).alias("kappa"),
    )


# ---------------------------------------------------------------------------
# Kendall's W coefficient of concordance (round 8)
# ---------------------------------------------------------------------------

_KENDALL_W_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d, o_orderpriority AS pri,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1, 2),
dense AS (
  SELECT days.d, pris.pri, COALESCE(daily.cents, 0) AS cents
  FROM (SELECT DISTINCT d FROM daily) days
  CROSS JOIN (SELECT DISTINCT pri FROM daily) pris
  LEFT JOIN daily ON daily.d = days.d AND daily.pri = pris.pri),
dr AS (
  SELECT a.d, a.pri,
         CAST(SUM(CASE WHEN b.cents < a.cents THEN 2
                       WHEN b.cents = a.cents THEN 1 ELSE 0 END) AS BIGINT)
           AS drank
  FROM dense a JOIN dense b ON a.pri = b.pri
  GROUP BY a.d, a.pri),
rsum AS (
  SELECT d, CAST(SUM(drank) AS BIGINT) AS dr_i FROM dr GROUP BY d),
ties AS (
  SELECT CAST(SUM(t * t * t - t) AS BIGINT) AS tt
  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t
        FROM dense GROUP BY pri, cents)),
consts AS (
  SELECT CAST(COUNT(DISTINCT d) AS BIGINT) AS n,
         CAST(COUNT(DISTINCT pri) AS BIGINT) AS m
  FROM dense),
s2 AS (
  SELECT CAST(SUM((dr_i - consts.m * (consts.n + 1))
                  * (dr_i - consts.m * (consts.n + 1))) AS BIGINT) AS sprime
  FROM rsum, consts),
stat AS (
  SELECT consts.n, consts.m,
         CAST(3 * s2.sprime AS DOUBLE)
           / CAST(consts.m * consts.m * (consts.n * consts.n * consts.n
                                         - consts.n)
                  - consts.m * ties.tt AS DOUBLE) AS w
  FROM consts, s2, ties)
SELECT n AS n_days, m AS k_judges,
       ROUND(w, 9) AS w_kendall,
       ROUND(CAST(m * (n - 1) AS DOUBLE) * w, 9) AS chi2_w
FROM stat
"""


@register("stats_kendall_w", oracle=_KENDALL_W_SQL)
def q_stats_kendall_w(spark, sf_dir):
    """Kendall's W (coefficient of concordance): do the five order
    priorities AGREE on which calendar days are big-revenue days? Each
    priority is a judge ranking all n days by its own daily revenue;
    W = 12S / [m^2(n^3 - n) - m*SUM(t^3 - t)] in [0, 1] measures
    inter-judge agreement with the standard tie correction, and
    m(n-1)W is asymptotically chi^2(n-1). The transposed complement of
    `stats_friedman`: Friedman ranks treatments within blocks, W ranks
    blocks within judges.

    Exactness: the DOUBLED-midrank device keeps every moment BIGINT
    (with doubled ranks, W = 3S' / [m^2(n^3-n) - m*T]); one final
    double division. Plan: one orders scan -> (day, priority) rollup;
    the within-judge midranks come from a CALENDAR-BOUNDED n x n
    self-join per judge (~2,400^2 x 5 ~ 29M transient rows at ANY sf —
    constant, not data-scaled), then two tiny rollups.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderdate").cast("date").alias("d"),
        F.col("o_orderpriority").alias("pri"),
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    days = daily.select("d").distinct()
    pris = daily.select("pri").distinct()
    dense = (
        days.crossJoin(F.broadcast(pris))
        .join(daily, ["d", "pri"], "left")
        .select("d", "pri", F.coalesce("cents", F.lit(0)).alias("cents"))
    )
    b = dense.select(F.col("pri").alias("pri2"), F.col("cents").alias("c2"))
    dr = (
        dense.join(b, F.col("pri2") == F.col("pri"))
        .groupBy("d", "pri")
        .agg(
            F.sum(
                F.when(F.col("c2") < F.col("cents"), 2)
                .when(F.col("c2") == F.col("cents"), 1)
                .otherwise(0)
            )
            .cast("long")
            .alias("drank")
        )
    )
    rsum = dr.groupBy("d").agg(F.sum("drank").cast("long").alias("dr_i"))
    ties = (
        dense.groupBy("pri", "cents")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .agg(
            F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
            .cast("long")
            .alias("tt")
        )
    )
    consts = dense.agg(
        F.countDistinct("d").alias("n"), F.countDistinct("pri").alias("m")
    )
    s2 = rsum.crossJoin(F.broadcast(consts)).agg(
        F.sum(
            (F.col("dr_i") - F.col("m") * (F.col("n") + 1))
            * (F.col("dr_i") - F.col("m") * (F.col("n") + 1))
        )
        .cast("long")
        .alias("sprime"),
        F.max("n").alias("n"),
        F.max("m").alias("m"),
    )
    w = (3 * F.col("sprime")).cast("double") / (
        F.col("m")
        * F.col("m")
        * (F.col("n") * F.col("n") * F.col("n") - F.col("n"))
        - F.col("m") * F.col("tt")
    ).cast("double")
    return s2.crossJoin(F.broadcast(ties)).select(
        F.col("n").alias("n_days"),
        F.col("m").alias("k_judges"),
        F.round(w, 9).alias("w_kendall"),
        F.round((F.col("m") * (F.col("n") - 1)).cast("double") * w, 9).alias(
            "chi2_w"
        ),
    )

# ---------------------------------------------------------------------------
# Durbin-Watson autocorrelation of OLS residuals (round 8)
# ---------------------------------------------------------------------------

_DW_SQL = f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
  FROM orders GROUP BY 1),
idxd AS (
  SELECT d, y, CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS idx
  FROM daily),
sums AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(idx) AS BIGINT) AS st,
         CAST(SUM(idx * idx) AS BIGINT) AS stt,
         {_split_sql('SUM(CAST(y AS HUGEINT))')} AS syd,
         {_split_sql('SUM(CAST(idx AS HUGEINT) * y)')} AS styd
  FROM idxd),
fit AS (
  SELECT n, st, stt, syd, styd,
         (CAST(n AS DOUBLE) * styd - CAST(st AS DOUBLE) * syd)
           / (CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
              - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)) AS slope
  FROM sums),
resid AS (
  SELECT idxd.idx,
         (CAST(idxd.y AS DOUBLE)
          - (fit.syd - fit.slope * CAST(fit.st AS DOUBLE))
            / CAST(fit.n AS DOUBLE)
          - fit.slope * CAST(idxd.idx AS DOUBLE)) / 100.0 AS e
  FROM idxd, fit),
num AS (
  SELECT CAST(SUM(CAST(ROUND((a.e - b.e) * (a.e - b.e), 12)
                       AS DECIMAL(38,12))) AS DOUBLE) AS dw_num
  FROM resid a JOIN resid b ON b.idx = a.idx - 1),
den AS (
  SELECT CAST(SUM(CAST(ROUND(e * e, 12) AS DECIMAL(38,12))) AS DOUBLE)
    AS dw_den
  FROM resid)
SELECT fit.n AS n_days,
       ROUND(fit.slope, 9) AS slope_cents_per_day,
       ROUND(num.dw_num / den.dw_den, 9) AS dw_stat
FROM fit, num, den
"""


@register("stats_durbin_watson", oracle=_DW_SQL)
def q_stats_durbin_watson(spark, sf_dir):
    """Durbin-Watson test for lag-1 autocorrelation in the residuals of
    an OLS trend fit to daily revenue: DW = SUM((e_t - e_{t-1})^2) /
    SUM(e_t^2), ~2 under independence, <2 positive autocorrelation.
    The residual-diagnostic companion to `stats_ols_multi` (which fits)
    and `events_autocorr` (which correlates the raw series).

    Exactness: regression moments (n, St, Stt, Sy, Sty) are exact
    integers over cents; the two 2^64-exposed moments go through the
    shared split-cast device; slope/intercept are one identically-
    written double op chain. Residuals are rescaled to dollars (DW is
    scale-invariant; keeps e^2 within DECIMAL(38,12) headroom at any
    sf), each squared term rounded to 12 dp and summed as
    DECIMAL(38,12) — order-free, so Spark's arbitrary partition-sum
    order cannot surface. Plan: one orders scan -> calendar-bounded
    daily rollup (~2,400 rows at ANY sf); the day index, the lag-1
    pairing, and both quadratic sums live on that bounded spine
    (self-joins on idx, never a global window over data-scaled rows).
    """
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("y")
    )
    spine = daily.select(F.col("d").alias("d2"))
    idxd = (
        daily.join(spine, F.col("d2") <= F.col("d"))
        .groupBy("d", "y")
        .agg(F.count(F.lit(1)).cast("long").alias("idx"))
    )
    sums = idxd.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("idx").cast("long").alias("st"),
        F.sum(F.col("idx") * F.col("idx")).cast("long").alias("stt"),
        _split_dbl(F.sum(F.col("y").cast("decimal(38,0)"))).alias("syd"),
        _split_dbl(
            F.sum(F.col("idx").cast("decimal(38,0)") * F.col("y"))
        ).alias("styd"),
    )
    nd = F.col("n").cast("double")
    std = F.col("st").cast("double")
    slope = (nd * F.col("styd") - std * F.col("syd")) / (
        nd * F.col("stt").cast("double") - std * std
    )
    fit = sums.select("n", "st", F.col("syd"), slope.alias("slope"))
    resid = idxd.crossJoin(F.broadcast(fit)).select(
        "idx",
        "n",
        "slope",
        (
            (
                F.col("y").cast("double")
                - (
                    F.col("syd")
                    - F.col("slope") * F.col("st").cast("double")
                )
                / F.col("n").cast("double")
                - F.col("slope") * F.col("idx").cast("double")
            )
            / 100.0
        ).alias("e"),
    )
    rb = resid.select(F.col("idx").alias("idx2"), F.col("e").alias("ep"))
    num = (
        resid.join(rb, F.col("idx2") == F.col("idx") - 1)
        .agg(
            F.sum(
                F.round((F.col("e") - F.col("ep")) * (F.col("e") - F.col("ep")), 12)
                .cast("decimal(38,12)")
            ).alias("dw_num")
        )
    )
    den = resid.agg(
        F.sum(F.round(F.col("e") * F.col("e"), 12).cast("decimal(38,12)")).alias(
            "dw_den"
        ),
        F.max("n").alias("n"),
        F.max("slope").alias("slope"),
    )
    return den.crossJoin(F.broadcast(num)).select(
        F.col("n").alias("n_days"),
        F.round(F.col("slope"), 9).alias("slope_cents_per_day"),
        F.round(
            F.col("dw_num").cast("double") / F.col("dw_den").cast("double"), 9
        ).alias("dw_stat"),
    )


# ---------------------------------------------------------------------------
# Grubbs extreme-outlier test (round 8)
# ---------------------------------------------------------------------------

_GRUBBS_SQL = f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
  FROM orders GROUP BY 1),
mom AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
  FROM daily),
sd AS (
  SELECT n, sy,
         SQRT({_split_sql('n * syy - CAST(sy AS HUGEINT) * sy')}
              / CAST(n * (n - 1) AS DOUBLE)) AS s
  FROM mom),
dev AS (
  SELECT daily.d, daily.y,
         ABS(sd.n * daily.y - sd.sy) AS ndev, sd.n, sd.s
  FROM daily, sd)
SELECT n AS n_days, strftime(d, '%Y-%m-%d') AS outlier_day, y AS y_cents,
       ROUND(s, 9) AS sd_cents,
       ROUND(CAST(ndev AS DOUBLE) / (CAST(n AS DOUBLE) * s), 9) AS g_stat
FROM dev
ORDER BY ndev DESC, d LIMIT 1
"""


@register("stats_grubbs", oracle=_GRUBBS_SQL)
def q_stats_grubbs(spark, sf_dir):
    """Grubbs test statistic for the single most extreme daily-revenue
    outlier: G = max|y - mean| / s over the daily series, reported with
    the arg-max day. The one-point outlier screen that complements
    `events_anomaly_mad` (robust, per-point) — G against the t-based
    critical value is the classical lab-data rejection rule; we report
    the statistic and the day (the critical value needs a t-quantile,
    deliberately out of scope for a deterministic cross-engine oracle).

    Exactness: moments are exact integers (Sy BIGINT, Sy^2 and n*Syy
    through DECIMAL(38,0)/HUGEINT with the shared split-cast device);
    the deviation is kept as the INTEGER |n*y - Sy| (scaling by n
    avoids a float mean), so the arg-max is an exact BIGINT compare and
    the only doubles are one sqrt and one final division. Plan: one
    scan -> calendar-bounded daily rollup -> 1-row moments broadcast
    back -> TakeOrdered(1).
    """
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("y")
    )
    mom = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias("syy"),
    )
    s = F.sqrt(
        _split_dbl(
            F.col("n").cast("decimal(38,0)") * F.col("syy")
            - F.col("sy").cast("decimal(38,0)") * F.col("sy")
        )
        / (F.col("n") * (F.col("n") - 1)).cast("double")
    )
    sd = mom.select("n", "sy", s.alias("s"))
    dev = daily.crossJoin(F.broadcast(sd)).select(
        "d",
        "y",
        F.abs(F.col("n") * F.col("y") - F.col("sy")).alias("ndev"),
        "n",
        "s",
    )
    return dev.orderBy(F.col("ndev").desc(), "d").limit(1).select(
        F.col("n").alias("n_days"),
        F.date_format("d", "yyyy-MM-dd").alias("outlier_day"),
        F.col("y").alias("y_cents"),
        F.round(F.col("s"), 9).alias("sd_cents"),
        F.round(
            F.col("ndev").cast("double")
            / (F.col("n").cast("double") * F.col("s")),
            9,
        ).alias("g_stat"),
    )


# ---------------------------------------------------------------------------
# Hellinger / Bhattacharyya drift distance (round 8)
# ---------------------------------------------------------------------------

_HELLINGER_SQL = """
WITH occ AS (
  SELECT event_type,
         substr(md5(CAST(event_id AS VARCHAR)), 1, 1) < '8' AS is_base
  FROM events),
per AS (
  SELECT event_type,
         CAST(SUM(CASE WHEN is_base THEN 1 ELSE 0 END) AS BIGINT) AS cnt_base,
         CAST(SUM(CASE WHEN is_base THEN 0 ELSE 1 END) AS BIGINT) AS cnt_cur
  FROM occ GROUP BY 1),
tot AS (
  SELECT CAST(SUM(cnt_base) AS BIGINT) AS n_base,
         CAST(SUM(cnt_cur) AS BIGINT) AS n_cur
  FROM per),
c AS (
  SELECT per.event_type, per.cnt_base, per.cnt_cur, tot.n_base, tot.n_cur,
         ROUND(SQRT((CAST(cnt_base AS DOUBLE) / n_base)
                    * (CAST(cnt_cur AS DOUBLE) / n_cur)), 12) AS bc_contrib
  FROM per, tot),
j AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
         CAST(SUM(CAST(bc_contrib AS DECIMAL(38,12))) AS DOUBLE) AS bc
  FROM c)
SELECT c.event_type, c.cnt_base, c.cnt_cur, c.bc_contrib,
       ROUND(j.bc, 9) AS bc_total,
       ROUND(SQRT(GREATEST(1.0 - j.bc, 0.0)), 9) AS hellinger,
       j.n_items, c.n_base, c.n_cur
FROM c, j
"""


@register("drift_hellinger", oracle=_HELLINGER_SQL)
def q_drift_hellinger(spark, sf_dir):
    """Hellinger distance between the event-type mixes of two md5-split
    cohorts — the bounded [0,1] drift metric that complements
    `drift_js_divergence` (unbounded nats) and `drift_psi` (binned):
    H = sqrt(1 - BC), BC = SUM sqrt(p_i * q_i). Thin binding over
    `operators.drift.hellinger`; the per-category sqrt(p*q) terms are
    rounded to 12 dp and summed DECIMAL(38,12) (order-free), so the
    oracle replays the sum bit-exactly. Plan: one scan, one
    groupBy(event_type) with map-side combine, two 1-row broadcasts.
    """
    from dataframe_differ_spark.operators.drift import hellinger

    e = load_table(spark, sf_dir, "events")
    occ = e.select(
        "event_type",
        (
            F.substring(F.md5(F.col("event_id").cast("string")), 1, 1) < "8"
        ).alias("is_base"),
    )
    h = hellinger(occ, "event_type", "is_base", contrib_dp=12)
    return h.select(
        "event_type",
        "cnt_base",
        "cnt_cur",
        "bc_contrib",
        F.round("bc_total", 9).alias("bc_total"),
        F.round("hellinger", 9).alias("hellinger"),
        "n_items",
        "n_base",
        "n_cur",
    )


# ---------------------------------------------------------------------------
# Log-log price elasticity of demand (round 8)
# ---------------------------------------------------------------------------

_ELASTICITY_SQL = f"""
WITH pts AS (
  SELECT CAST(ROUND(LN(CAST(l_extendedprice AS DOUBLE)
                       / CAST(l_quantity AS DOUBLE)) * 1000000.0, 0)
              AS BIGINT) AS x,
         CAST(ROUND(LN(CAST(l_quantity AS DOUBLE)) * 1000000.0, 0)
              AS BIGINT) AS y
  FROM lineitem),
mom AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         {_split_sql('SUM(CAST(x AS HUGEINT))')} AS sx,
         {_split_sql('SUM(CAST(y AS HUGEINT))')} AS sy,
         {_split_sql('SUM(CAST(x AS HUGEINT) * x)')} AS sxx,
         {_split_sql('SUM(CAST(y AS HUGEINT) * y)')} AS syy,
         {_split_sql('SUM(CAST(x AS HUGEINT) * y)')} AS sxy
  FROM pts),
fit AS (
  SELECT n,
         (sxy - sx * sy / CAST(n AS DOUBLE))
           / (sxx - sx * sx / CAST(n AS DOUBLE)) AS slope,
         ((sxy - sx * sy / CAST(n AS DOUBLE))
          * (sxy - sx * sy / CAST(n AS DOUBLE)))
           / ((sxx - sx * sx / CAST(n AS DOUBLE))
              * (syy - sy * sy / CAST(n AS DOUBLE))) AS r2
  FROM mom)
SELECT n AS n_lines, ROUND(slope, 9) AS elasticity, ROUND(r2, 9) AS r2
FROM fit
"""


@register("orders_price_elasticity", oracle=_ELASTICITY_SQL)
def q_orders_price_elasticity(spark, sf_dir):
    """Log-log price elasticity of demand across line items: the OLS
    slope of ln(quantity) on ln(unit price) — the constant-elasticity
    model's one-number answer to "do expensive parts sell in smaller
    quantities?", with R² alongside. The econometric companion to
    `stats_ols_multi` (levels) on the classic multiplicative form.

    Parity: ln is libm-tainted, so each log is snapped to an exact
    INTEGER micro-log unit (round(ln·1e6)) at the row level — from
    there every moment (Σx, Σx², Σxy, Σy²) is an exact DECIMAL/HUGEINT
    integer through the shared split-cast device, and the slope/R² are
    one identically-written centered-moment double chain (elasticity is
    scale-free, so the 1e6 unit cancels). Quantization bias ≤ 1e-6
    per log — far below the statistic's own noise. Plan: one scan, one
    1-row aggregate with map-side combine; nothing else.
    """
    li = load_table(spark, sf_dir, "lineitem")
    pts = li.select(
        F.round(
            F.log(
                F.col("l_extendedprice").cast("double")
                / F.col("l_quantity").cast("double")
            )
            * 1000000.0,
            0,
        )
        .cast("long")
        .alias("x"),
        F.round(F.log(F.col("l_quantity").cast("double")) * 1000000.0, 0)
        .cast("long")
        .alias("y"),
    )
    dec = "decimal(38,0)"
    mom = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        _split_dbl(F.sum(F.col("x").cast(dec))).alias("sx"),
        _split_dbl(F.sum(F.col("y").cast(dec))).alias("sy"),
        _split_dbl(F.sum(F.col("x").cast(dec) * F.col("x"))).alias("sxx"),
        _split_dbl(F.sum(F.col("y").cast(dec) * F.col("y"))).alias("syy"),
        _split_dbl(F.sum(F.col("x").cast(dec) * F.col("y"))).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    cov = F.col("sxy") - F.col("sx") * F.col("sy") / nd
    varx = F.col("sxx") - F.col("sx") * F.col("sx") / nd
    vary = F.col("syy") - F.col("sy") * F.col("sy") / nd
    return mom.select(
        F.col("n").alias("n_lines"),
        F.round(cov / varx, 9).alias("elasticity"),
        F.round((cov * cov) / (varx * vary), 9).alias("r2"),
    )


# ---------------------------------------------------------------------------
# Page trend test for ordered alternatives (round 8)
# ---------------------------------------------------------------------------

_PAGE_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d, o_orderpriority AS pri,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM orders GROUP BY 1, 2),
spine AS (
  SELECT days.d, pris.pri
  FROM (SELECT DISTINCT d FROM daily) days
  CROSS JOIN (SELECT DISTINCT pri FROM daily) pris),
dense AS (
  SELECT spine.d, spine.pri, COALESCE(daily.c, 0) AS c
  FROM spine LEFT JOIN daily
    ON daily.d = spine.d AND daily.pri = spine.pri),
dr AS (
  SELECT a.d, CAST(substr(a.pri, 1, 1) AS BIGINT) AS j,
         CAST(SUM(CASE WHEN b.c < a.c THEN 2
                       WHEN b.c = a.c THEN 1 ELSE 0 END) AS BIGINT)
           AS drank
  FROM dense a JOIN dense b ON a.d = b.d
  GROUP BY a.d, a.pri),
consts AS (
  SELECT CAST(COUNT(DISTINCT d) AS BIGINT) AS b,
         CAST(COUNT(DISTINCT pri) AS BIGINT) AS k
  FROM dense),
lsum AS (
  SELECT CAST(SUM(j * drank) AS BIGINT) AS l2 FROM dr),
stat AS (
  SELECT consts.b, consts.k, lsum.l2,
         (CAST(lsum.l2 AS DOUBLE)
          - CAST(consts.b * consts.k * (consts.k + 1) * (consts.k + 1)
                 AS DOUBLE) / 2.0)
           / SQRT(CAST(consts.b * consts.k * consts.k * (consts.k + 1)
                       * (consts.k * consts.k - 1) AS DOUBLE) / 36.0) AS z
  FROM consts, lsum)
SELECT b AS n_blocks, k AS k_treatments, l2 AS l_doubled,
       ROUND(z, 9) AS z_page,
       ABS(z) > 1.959963985 AS reject_95
FROM stat
"""


@register("stats_page_trend", oracle=_PAGE_SQL)
def q_stats_page_trend(spark, sf_dir):
    """Page's L trend test for ORDERED alternatives: does daily order
    volume increase monotonically along the priority scale 1-URGENT →
    5-LOW? Where `stats_friedman` asks "do the k treatments differ at
    all?", Page's test spends its power on the one-sided ordered
    hypothesis: L = Σ_j j·R_j over within-day ranks, standardized by
    E[L] = bk(k+1)²/4 and Var[L] = bk²(k+1)(k²−1)/144 (ranks here are
    midranks; the classical no-tie variance is an approximation under
    heavy ties — stated, since both engines replay the SAME formula).
    The treatment order j is the priority's own leading digit.

    Exactness: the DOUBLED-midrank device keeps L and every moment
    BIGINT (doubling L doubles E and quadruples Var — the z chain below
    is written for doubled quantities on both engines); one final
    division + sqrt. Plan: identical to `stats_friedman` — one orders
    scan, a calendar-bounded day×5 grid, a 25-pair/day midrank join,
    two tiny rollups.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderdate").cast("date").alias("d"),
        F.col("o_orderpriority").alias("pri"),
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    days = daily.select("d").distinct()
    pris = daily.select("pri").distinct()
    dense = (
        days.crossJoin(F.broadcast(pris))
        .join(daily, ["d", "pri"], "left")
        .select("d", "pri", F.coalesce("c", F.lit(0)).alias("c"))
    )
    b2 = dense.select(F.col("d").alias("d2"), F.col("c").alias("c2"))
    dr = (
        dense.join(b2, F.col("d2") == F.col("d"))
        .groupBy("d", "pri")
        .agg(
            F.sum(
                F.when(F.col("c2") < F.col("c"), 2)
                .when(F.col("c2") == F.col("c"), 1)
                .otherwise(0)
            )
            .cast("long")
            .alias("drank")
        )
        .select(
            F.substring("pri", 1, 1).cast("long").alias("j"), "drank"
        )
    )
    consts = dense.agg(
        F.countDistinct("d").alias("b"), F.countDistinct("pri").alias("k")
    )
    lsum = dr.agg(F.sum(F.col("j") * F.col("drank")).cast("long").alias("l2"))
    bb, kk = F.col("b"), F.col("k")
    z = (
        F.col("l2").cast("double")
        - (bb * kk * (kk + 1) * (kk + 1)).cast("double") / 2.0
    ) / F.sqrt(
        (bb * kk * kk * (kk + 1) * (kk * kk - 1)).cast("double") / 36.0
    )
    return lsum.crossJoin(F.broadcast(consts)).select(
        F.col("b").alias("n_blocks"),
        F.col("k").alias("k_treatments"),
        F.col("l2").alias("l_doubled"),
        F.round(z, 9).alias("z_page"),
        (F.abs(z) > 1.959963985).alias("reject_95"),
    )


# ---------------------------------------------------------------------------
# Kruskal-Wallis H test (round 8)
# ---------------------------------------------------------------------------

_KW_SQL = f"""
WITH src AS (
  SELECT o_totalprice AS v, o_orderpriority AS g FROM orders),
vals AS (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM src GROUP BY v),
r AS (
  SELECT v, c,
         2 * (CAST(SUM(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                   AS BIGINT) - c) + c + 1 AS dmr
  FROM vals),
gv AS (
  SELECT v, g, CAST(COUNT(*) AS BIGINT) AS cg FROM src GROUP BY v, g),
rg AS (
  SELECT gv.g, CAST(SUM(gv.cg) AS BIGINT) AS ng,
         CAST(SUM(CAST(gv.cg AS HUGEINT) * r.dmr) AS HUGEINT) AS r2
  FROM gv JOIN r ON r.v = gv.v GROUP BY gv.g),
ties AS (
  SELECT CAST(SUM(CAST(c AS HUGEINT) * c * c - c) AS HUGEINT) AS t
  FROM vals),
consts AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(ng) AS BIGINT) AS n
  FROM rg),
terms AS (
  SELECT g, ng, r2,
         ROUND({_split_sql('r2 * r2')} / CAST(ng AS DOUBLE), 12) AS q
  FROM rg),
s4 AS (
  SELECT CAST(SUM(CAST(q AS DECIMAL(38,12))) AS DOUBLE) AS s4 FROM terms),
stat AS (
  SELECT consts.k, consts.n,
         3.0 * s4.s4 / (CAST(consts.n AS DOUBLE)
                        * (CAST(consts.n AS DOUBLE) + 1.0))
           - 3.0 * (CAST(consts.n AS DOUBLE) + 1.0) AS h,
         1.0 - {_split_sql('ties.t')}
                 / {_split_sql('CAST(consts.n AS HUGEINT) * consts.n * consts.n - consts.n')}
           AS corr
  FROM consts, s4, ties)
SELECT terms.g AS o_orderpriority, terms.ng AS n_g,
       ROUND({_split_sql('terms.r2')} / (2.0 * CAST(terms.ng AS DOUBLE)), 9)
         AS mean_rank,
       ROUND(stat.h, 9) AS h,
       ROUND(stat.h / stat.corr, 9) AS h_corrected,
       stat.k AS k_groups, stat.n AS n_total
FROM terms, stat
"""


@register("stats_kruskal_wallis", oracle=_KW_SQL)
def q_stats_kruskal_wallis(spark, sf_dir):
    """Kruskal-Wallis H: do the five order priorities differ in order
    VALUE distribution? The k-sample generalization of
    `stats_mann_whitney` (k = 2) and the nonparametric sibling of
    `stats_anova_f` — pooled midranks across all ~N orders, per-group
    rank sums, tie-corrected H ~ chi^2(4). Completes the rank-test
    family: Friedman/Page (related samples), MWU (2 independent), KW
    (k independent).

    Thin binding over :func:`operators.stats.kruskal_wallis` (round-8
    addition) — the doubled-midrank DISTINCT-VALUE device, DECIMAL
    rank-sum accumulation, split-cast conversions of the 2^64-exposed
    R'^2 and N^3 terms, and 12-dp DECIMAL summation of the k per-group
    R'^2/n_g doubles all live there. Plan: two uniform-key rollups +
    the two-phase bucketed prefix sum + k-row rollups.
    """
    from dataframe_differ_spark.operators.stats import kruskal_wallis

    src = load_table(spark, sf_dir, "orders").select(
        F.col("o_totalprice").alias("v"),
        F.col("o_orderpriority").alias("g"),
    )
    kw = kruskal_wallis(src, "v", "g")
    return kw.select(
        F.col("g").alias("o_orderpriority"),
        "n_g",
        "mean_rank",
        "h",
        "h_corrected",
        "k_groups",
        "n_total",
    )


# ---------------------------------------------------------------------------
# Bartlett's test for equal variances (round 8)
# ---------------------------------------------------------------------------

_BARTLETT_SQL = f"""
WITH src AS (
  SELECT l_returnflag AS g,
         CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS v
  FROM lineitem),
mom AS (
  SELECT g, CAST(COUNT(*) AS BIGINT) AS ng,
         CAST(SUM(v) AS BIGINT) AS s1,
         CAST(SUM(CAST(v AS HUGEINT) * v) AS HUGEINT) AS s2
  FROM src GROUP BY g),
varg AS (
  SELECT g, ng,
         (CAST(ng AS DOUBLE) * {_split_sql('s2')}
          - {_split_sql('s1')} * {_split_sql('s1')})
           / (CAST(ng AS DOUBLE) * (CAST(ng AS DOUBLE) - 1.0)) AS s2g
  FROM mom),
consts AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(ng) AS BIGINT) AS n,
         CAST(SUM(CAST(ROUND((ng - 1) * LN(s2g), 12)
                       AS DECIMAL(38,12))) AS DOUBLE) AS sum_nl,
         CAST(SUM(CAST(ROUND((ng - 1) * s2g, 6)
                       AS DECIMAL(38,6))) AS DOUBLE) AS pool_num,
         CAST(SUM(CAST(ROUND(1.0 / (ng - 1), 12)
                       AS DECIMAL(38,12))) AS DOUBLE) AS sum_inv
  FROM varg),
stat AS (
  SELECT k, n,
         ((CAST(n AS DOUBLE) - k)
            * LN(pool_num / (CAST(n AS DOUBLE) - k)) - sum_nl)
           / (1.0 + (sum_inv - 1.0 / (CAST(n AS DOUBLE) - k))
                      / (3.0 * (k - 1.0))) AS chi2
  FROM consts)
SELECT k AS k_groups, n AS n_total,
       ROUND(chi2, 9) AS bartlett_chi2,
       chi2 > 5.991464547 AS reject_95
FROM stat
"""


@register("stats_bartlett", oracle=_BARTLETT_SQL)
def q_stats_bartlett(spark, sf_dir):
    """Bartlett's test: do the three return-flag cohorts have equal
    price variance? The PARAMETRIC (normal-theory, variance-ratio)
    counterpart of `stats_levene_bf` — more powerful under normality,
    famously fragile otherwise, which is exactly why a pipeline runs
    both. chi^2 = [(N−k)ln(s_p^2) − Σ(n_g−1)ln(s_g^2)] / C with the
    standard correction C; df = k−1 = 2 (5.9915 at 95%).

    Parity: per-group moments are exact integers over cents (Σv BIGINT,
    Σv² DECIMAL/HUGEINT via split-cast); s_g² is one identical double
    chain; ln is libm-tainted so each group's (n_g−1)ln(s_g²) term —
    and the pooled numerator and 1/(n_g−1) terms — are rounded and
    summed as DECIMALs (order-free, k = 3 terms). The pooled variance
    numerator rounds at 6 dp (cents² scale — values ~1e11, far above
    rounding noise). Plan: ONE scan, one 3-row rollup, two 1-row
    aggregates.
    """
    li = load_table(spark, sf_dir, "lineitem")
    src = li.select(
        F.col("l_returnflag").alias("g"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("v"),
    )
    mom = src.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("ng"),
        F.sum("v").cast("long").alias("s1"),
        F.sum(F.col("v").cast("decimal(38,0)") * F.col("v")).alias("s2"),
    )
    ngd = F.col("ng").cast("double")
    s2g = (ngd * _split_dbl(F.col("s2")) - _split_dbl(F.col("s1")) * _split_dbl(F.col("s1"))) / (
        ngd * (ngd - 1.0)
    )
    varg = mom.select("g", "ng", s2g.alias("s2g"))
    consts = varg.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("ng").cast("long").alias("n"),
        F.sum(
            F.round((F.col("ng") - 1) * F.log(F.col("s2g")), 12).cast(
                "decimal(38,12)"
            )
        )
        .cast("double")
        .alias("sum_nl"),
        F.sum(
            F.round((F.col("ng") - 1) * F.col("s2g"), 6).cast("decimal(38,6)")
        )
        .cast("double")
        .alias("pool_num"),
        F.sum(
            F.round(F.lit(1.0) / (F.col("ng") - 1), 12).cast("decimal(38,12)")
        )
        .cast("double")
        .alias("sum_inv"),
    )
    nd = F.col("n").cast("double")
    kd = F.col("k").cast("double")
    chi2 = (
        (nd - kd) * F.log(F.col("pool_num") / (nd - kd)) - F.col("sum_nl")
    ) / (
        F.lit(1.0)
        + (F.col("sum_inv") - F.lit(1.0) / (nd - kd)) / (3.0 * (kd - 1.0))
    )
    return consts.select(
        F.col("k").alias("k_groups"),
        F.col("n").alias("n_total"),
        F.round(chi2, 9).alias("bartlett_chi2"),
        (chi2 > 5.991464547).alias("reject_95"),
    )


# ---------------------------------------------------------------------------
# Cramér's V effect size (round 8)
# ---------------------------------------------------------------------------

_CRAMERS_V_SQL = """
WITH cells AS (
  SELECT o_orderpriority AS a, dayofweek(CAST(o_orderdate AS DATE)) AS b,
         CAST(COUNT(*) AS BIGINT) AS o
  FROM orders GROUP BY 1, 2),
rows_t AS (SELECT a, CAST(SUM(o) AS BIGINT) AS ra FROM cells GROUP BY a),
cols_t AS (SELECT b, CAST(SUM(o) AS BIGINT) AS cb FROM cells GROUP BY b),
tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells),
chi AS (
  SELECT CAST(SUM(CAST(ROUND(
           (CAST(cells.o AS DOUBLE)
            - CAST(rows_t.ra AS DOUBLE) * cols_t.cb / tot.n)
           * (CAST(cells.o AS DOUBLE)
              - CAST(rows_t.ra AS DOUBLE) * cols_t.cb / tot.n)
           / (CAST(rows_t.ra AS DOUBLE) * cols_t.cb / tot.n), 12)
           AS DECIMAL(38,12))) AS DOUBLE) AS chi2,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM rows_t) AS r,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM cols_t) AS c,
         MAX(tot.n) AS n
  FROM cells JOIN rows_t ON rows_t.a = cells.a
  JOIN cols_t ON cols_t.b = cells.b CROSS JOIN tot)
SELECT n AS n_orders, r AS n_rows, c AS n_cols,
       ROUND(chi2, 9) AS chi2,
       ROUND(SQRT(chi2 / (CAST(n AS DOUBLE)
                          * LEAST(r - 1, c - 1))), 9) AS cramers_v
FROM chi
"""


@register("stats_cramers_v", oracle=_CRAMERS_V_SQL)
def q_stats_cramers_v(spark, sf_dir):
    """Cramér's V effect size for the priority × day-of-week contingency:
    the [0, 1]-normalized companion to `stats_chi2_independence`, which
    reports raw chi² (scale-dependent — any association looks "huge" at
    100 TB). V = sqrt(chi² / (N·min(r−1, c−1))) answers the question a
    pipeline actually asks: is the association STRONG, not merely
    significant at this row count.

    Exactness: cell/margin counts stay BIGINT; each cell's (O−E)²/E is
    one identically-written double chain rounded to 12 dp and summed
    DECIMAL(38,12) (order-free over the 35 cells); V is one sqrt.
    Plan: one scan -> 35-cell rollup with map-side combine -> broadcast
    margins -> 1-row aggregate.
    """
    o = load_table(spark, sf_dir, "orders")
    cells = o.groupBy(
        F.col("o_orderpriority").alias("a"),
        (F.dayofweek(F.col("o_orderdate").cast("date")) - 1)
        .cast("long")
        .alias("b"),
    ).agg(F.count(F.lit(1)).cast("long").alias("o"))
    rows_t = cells.groupBy("a").agg(F.sum("o").cast("long").alias("ra"))
    cols_t = cells.groupBy("b").agg(F.sum("o").cast("long").alias("cb"))
    tot = cells.agg(F.sum("o").cast("long").alias("n"))
    e = F.col("ra").cast("double") * F.col("cb") / F.col("n")
    term = F.round(
        (F.col("o").cast("double") - e) * (F.col("o").cast("double") - e) / e,
        12,
    )
    rc = rows_t.agg(F.count(F.lit(1)).cast("long").alias("r")).crossJoin(
        F.broadcast(cols_t.agg(F.count(F.lit(1)).cast("long").alias("c")))
    )
    chi = (
        cells.join(F.broadcast(rows_t), "a")
        .join(F.broadcast(cols_t), "b")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.sum(term.cast("decimal(38,12)")).cast("double").alias("chi2"),
            F.max("n").alias("n"),
        )
        .crossJoin(F.broadcast(rc))
    )
    return chi.select(
        F.col("n").alias("n_orders"),
        F.col("r").alias("n_rows"),
        F.col("c").alias("n_cols"),
        F.round("chi2", 9).alias("chi2"),
        F.round(
            F.sqrt(
                F.col("chi2")
                / (
                    F.col("n").cast("double")
                    * F.least(F.col("r") - 1, F.col("c") - 1)
                )
            ),
            9,
        ).alias("cramers_v"),
    )


# ---------------------------------------------------------------------------
# Two-sample Anderson-Darling test (round 8)
# ---------------------------------------------------------------------------

_AD_SQL = _ORDER_PRICE_TIES_SQL_CTES + """\
         CAST(SUM(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS bj,
         CAST(SUM(c1) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS mj,
         CAST((SELECT SUM(c1) FROM vals) AS BIGINT) AS n1,
         CAST((SELECT SUM(c) FROM vals) AS BIGINT) AS nt
  FROM vals),
terms AS (
  SELECT n1, nt,
         CAST(SUM(CAST(ROUND(
           CAST(c AS DOUBLE)
             * (CAST(nt * mj - n1 * bj AS DOUBLE)
                * CAST(nt * mj - n1 * bj AS DOUBLE))
             / (CAST(bj AS DOUBLE) * CAST(nt - bj AS DOUBLE)), 12)
           AS DECIMAL(38,12))) AS DOUBLE) AS s
  FROM r WHERE bj < nt GROUP BY n1, nt)
SELECT n1, nt - n1 AS n2,
       ROUND(s / (CAST(n1 AS DOUBLE) * CAST(nt - n1 AS DOUBLE)), 9) AS a2
FROM terms
"""


@register("stats_anderson_darling", oracle=_AD_SQL)
def q_stats_anderson_darling(spark, sf_dir):
    """Two-sample Anderson-Darling statistic between the md5 cohorts'
    order-value distributions — the tail-sensitive companion to
    `drift_ks_test`: KS sees only the single largest ECDF gap (middle-
    weighted), AD integrates the squared gap with 1/(F(1−F)) weighting,
    so tail divergence (exactly where pricing distributions drift
    first) is amplified. Discrete/tied form (Pettitt 1976; Scholz-
    Stephens weights): A² = (1/(n·m)) Σ_j t_j (N·M_j − n·B_j)² /
    (B_j(N−B_j)) over distinct pooled values below the maximum.

    Exactness: the ECDF machinery is the `drift_ks_test` device —
    per-distinct-value cohort counts with TWO exact BIGINT running sums
    through the two-phase bucketed rank (no single-partition window);
    the per-value numerator N·M − n·B stays an exact BIGINT, each
    term's double chain is written identically and rounded to 12 dp
    into a DECIMAL(38,12) sum (order-free). One value shuffle + one
    bucketed rank pass — scan-bound at 100 TB.
    """
    from dataframe_differ_spark.operators.ranks import ranked

    base = load_table(spark, sf_dir, "orders").select(
        F.col("o_totalprice").alias("v"),
        (
            F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1) < "8"
        ).alias("grp"),
    )
    vals = base.groupBy("v").agg(
        F.count(F.lit(1)).alias("c"),
        F.sum(F.when(F.col("grp"), 1).otherwise(0)).alias("c1"),
    )
    r = ranked(
        vals,
        F.col("v"),
        ["v"],
        running_sums=[
            (F.col("c"), "bj", "nt"),
            (F.col("c1"), "mj", "n1"),
        ],
    )
    d = F.col("nt") * F.col("mj") - F.col("n1") * F.col("bj")
    term = F.round(
        F.col("c").cast("double")
        * (d.cast("double") * d.cast("double"))
        / (F.col("bj").cast("double") * (F.col("nt") - F.col("bj")).cast("double")),
        12,
    )
    terms = (
        r.filter(F.col("bj") < F.col("nt"))
        .groupBy("n1", "nt")
        .agg(F.sum(term.cast("decimal(38,12)")).cast("double").alias("s"))
    )
    return terms.select(
        "n1",
        (F.col("nt") - F.col("n1")).alias("n2"),
        F.round(
            F.col("s")
            / (
                F.col("n1").cast("double")
                * (F.col("nt") - F.col("n1")).cast("double")
            ),
            9,
        ).alias("a2"),
    )


# ---------------------------------------------------------------------------
# Pettitt changepoint test (round 8)
# ---------------------------------------------------------------------------

_PETTITT_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
  FROM orders GROUP BY 1),
v AS (
  SELECT a.d,
         CAST(SUM(CASE WHEN b.y < a.y THEN 1
                       WHEN b.y > a.y THEN -1 ELSE 0 END) AS BIGINT) AS vi
  FROM daily a CROSS JOIN daily b
  GROUP BY a.d),
u AS (
  SELECT d,
         CAST(SUM(vi) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS ut,
         CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS t,
         CAST((SELECT COUNT(*) FROM daily) AS BIGINT) AS n
  FROM v),
k AS (
  SELECT CAST(MAX(ABS(ut)) AS BIGINT) AS kstat, MAX(n) AS n
  FROM u WHERE t < n),
arg AS (
  SELECT u.d, u.ut, k.kstat, k.n
  FROM u JOIN k ON ABS(u.ut) = k.kstat AND u.t < k.n
  ORDER BY u.d LIMIT 1)
SELECT n AS n_days, strftime(d, '%Y-%m-%d') AS change_day,
       kstat AS k_stat, ut AS u_at_k,
       ROUND(2.0 * EXP(-6.0 * CAST(kstat * kstat AS DOUBLE)
                       / CAST(n * n * n + n * n AS DOUBLE)), 9) AS p_value,
       (2.0 * EXP(-6.0 * CAST(kstat * kstat AS DOUBLE)
                  / CAST(n * n * n + n * n AS DOUBLE))) < 0.05 AS reject_95
FROM arg
"""


@register("stats_pettitt", oracle=_PETTITT_SQL)
def q_stats_pettitt(spark, sf_dir):
    """Pettitt changepoint test on daily revenue: the rank-based
    (distribution-free) single-changepoint locator that complements
    `events_changepoint_cusum` (parametric, mean/sigma-driven):
    U_t = Σ_{i≤t} Σ_{j>t} sgn(y_i − y_j) peaks where the series splits
    into two shifted regimes, K = max|U_t|, and p ≈ 2·exp(−6K²/(n³+n²)).
    Computed through the identity U_t = Σ_{i≤t} V_i with
    V_i = Σ_j sgn(y_i − y_j) (cross terms cancel), so one pass of
    whole-series sign counts + one running sum replaces the O(n²·n)
    triple loop.

    Exactness: everything is BIGINT (sign counts, U, K, n³) until the
    single exp; the arg-max day ties break on the earliest day in both
    engines. Plan: one orders scan -> CALENDAR-BOUNDED daily rollup;
    the n×n sign join and the prefix sum live on the ~2,400-row spine
    (~5.8M transient pairs at ANY sf — constant, not data-scaled).
    """
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("y")
    )
    b = daily.select(F.col("d").alias("d2"), F.col("y").alias("y2"))
    v = (
        daily.crossJoin(b)
        .groupBy("d")
        .agg(
            F.sum(
                F.when(F.col("y2") < F.col("y"), 1)
                .when(F.col("y2") > F.col("y"), -1)
                .otherwise(0)
            )
            .cast("long")
            .alias("vi")
        )
    )
    vb = v.select(F.col("d").alias("d2"), F.col("vi").alias("vi2"))
    u = (
        v.join(vb, F.col("d2") <= F.col("d"))
        .groupBy("d")
        .agg(
            F.sum("vi2").cast("long").alias("ut"),
            F.count(F.lit(1)).cast("long").alias("t"),
        )
    )
    n = daily.agg(F.count(F.lit(1)).cast("long").alias("n"))
    uu = u.crossJoin(F.broadcast(n))
    k = uu.filter(F.col("t") < F.col("n")).agg(
        F.max(F.abs(F.col("ut"))).cast("long").alias("kstat"),
        F.max("n").alias("n"),
    )
    arg = (
        uu.join(
            F.broadcast(k.select("kstat")),
            F.abs(F.col("ut")) == F.col("kstat"),
        )
        .filter(F.col("t") < F.col("n"))
        .orderBy("d")
        .limit(1)
    )
    nn = F.col("n")
    p = 2.0 * F.exp(
        -6.0
        * (F.col("kstat") * F.col("kstat")).cast("double")
        / (nn * nn * nn + nn * nn).cast("double")
    )
    return arg.select(
        F.col("n").alias("n_days"),
        F.date_format("d", "yyyy-MM-dd").alias("change_day"),
        F.col("kstat").alias("k_stat"),
        F.col("ut").alias("u_at_k"),
        F.round(p, 9).alias("p_value"),
        (p < 0.05).alias("reject_95"),
    )


# ---------------------------------------------------------------------------
# DFT periodicity scan over the daily event series (round 9)
# ---------------------------------------------------------------------------

_DFT_TWO_PI = "6.283185307179586"

_DFT_SQL = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY CAST(ts AS DATE)),
st AS (
  SELECT MIN(d) AS d0, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx
  FROM daily),
base AS (
  SELECT CAST(daily.d - st.d0 AS BIGINT) AS t,
         CAST(x AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS xc,
         st.n
  FROM daily CROSS JOIN st),
terms AS (
  SELECT p.period, base.n,
         CAST(ROUND(xc * ROUND(cos({_DFT_TWO_PI} * (t % p.period)
                                    / p.period), 12), 12)
              AS DECIMAL(38,12)) AS tc,
         CAST(ROUND(xc * ROUND(sin({_DFT_TWO_PI} * (t % p.period)
                                    / p.period), 12), 12)
              AS DECIMAL(38,12)) AS ts
  FROM base CROSS JOIN
       (SELECT CAST(range AS INTEGER) AS period FROM range(2, 15)) p),
pw AS (
  SELECT period, MAX(n) AS n_days,
         CAST(SUM(tc) AS DOUBLE) * CAST(SUM(tc) AS DOUBLE)
         + CAST(SUM(ts) AS DOUBLE) * CAST(SUM(ts) AS DOUBLE) AS power
  FROM terms GROUP BY period),
mx AS (SELECT MAX(power) AS maxp FROM pw)
SELECT period AS period_days, n_days,
       ROUND(power, 6) AS dft_power,
       power = mx.maxp AS is_peak
FROM pw CROSS JOIN mx
"""


@register("events_dft_power", oracle=_DFT_SQL)
def q_events_dft_power(spark, sf_dir):
    """Discrete-Fourier periodicity scan of the daily event-volume
    series: spectral power at candidate periods 2..14 days over the
    mean-centered counts, flagging the dominant cycle — the
    frequency-domain companion to `events_autocorr` (lag domain) and
    `events_seasonality_dow` (calendar domain); a weekly-driven series
    peaks at period 7.

    Determinism devices: angles reduce mod the period BEFORE the libm
    call (small arguments, engine-stable); cos/sin round to 12 dp, the
    centered-count product rounds to 12 dp and sums as DECIMAL(38,12)
    (order-free), and the power is arithmetic on those exact sums —
    identical doubles in both engines, so even the `is_peak` argmax
    (a float equality) is safe. At 100 TB only the daily rollup touches
    the corpus; the 13-period scan runs on a KB spine crossed with a
    13-row broadcast.
    """
    import math

    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.count(F.lit(1)).alias("x")
    )
    st = daily.agg(
        F.min("d").alias("d0"),
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
    )
    base = daily.crossJoin(F.broadcast(st)).select(
        F.datediff("d", "d0").cast("long").alias("t"),
        (
            F.col("x").cast("double")
            - F.col("sx").cast("double") / F.col("n").cast("double")
        ).alias("xc"),
        "n",
    )
    periods = spark.range(2, 15).select(F.col("id").cast("int").alias("period"))
    two_pi = F.lit(2 * math.pi)
    ang = two_pi * (F.col("t") % F.col("period")) / F.col("period")
    dec = "decimal(38,12)"
    terms = base.crossJoin(F.broadcast(periods)).select(
        "period",
        "n",
        F.round(F.col("xc") * F.round(F.cos(ang), 12), 12).cast(dec).alias("tc"),
        F.round(F.col("xc") * F.round(F.sin(ang), 12), 12).cast(dec).alias("ts"),
    )
    pw = terms.groupBy("period").agg(
        F.max("n").alias("n_days"),
        (
            F.sum("tc").cast("double") * F.sum("tc").cast("double")
            + F.sum("ts").cast("double") * F.sum("ts").cast("double")
        ).alias("power"),
    )
    mx = pw.agg(F.max("power").alias("maxp"))
    return pw.crossJoin(F.broadcast(mx)).select(
        F.col("period").alias("period_days"),
        "n_days",
        F.round("power", 6).alias("dft_power"),
        (F.col("power") == F.col("maxp")).alias("is_peak"),
    )


# ---------------------------------------------------------------------------
# Yule-Walker AR(2) one-step forecast of the daily event series (round 9)
# ---------------------------------------------------------------------------

_AR2_SQL = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY CAST(ts AS DATE)),
gm AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         {_split_sql('SUM(CAST(x AS HUGEINT))')} AS s,
         {_split_sql('SUM(CAST(x AS HUGEINT) * x)')} AS q,
         MAX(d) AS dmax
  FROM daily),
lagm AS (
  SELECT l.lag,
         CAST(COUNT(*) AS BIGINT) AS nk,
         {_split_sql('SUM(CAST(a.x AS HUGEINT) * b.x)')} AS pk,
         {_split_sql('SUM(CAST(a.x AS HUGEINT))')} AS hk,
         {_split_sql('SUM(CAST(b.x AS HUGEINT))')} AS tk
  FROM daily a
  JOIN (SELECT CAST(range AS INTEGER) AS lag FROM range(1, 3)) l ON TRUE
  JOIN daily b ON b.d = a.d + l.lag
  GROUP BY l.lag),
rho AS (
  SELECT lag,
         (pk - (gm.s / gm.n) * hk - (gm.s / gm.n) * tk
          + nk * ((gm.s / gm.n) * (gm.s / gm.n)))
         / (gm.q - gm.s * gm.s / gm.n) AS r
  FROM lagm CROSS JOIN gm),
phi AS (
  SELECT r1.r AS r1, r2.r AS r2,
         r1.r * (1.0 - r2.r) / (1.0 - r1.r * r1.r) AS phi1,
         (r2.r - r1.r * r1.r) / (1.0 - r1.r * r1.r) AS phi2
  FROM (SELECT r FROM rho WHERE lag = 1) r1
  CROSS JOIN (SELECT r FROM rho WHERE lag = 2) r2),
lastx AS (
  SELECT gm.n, gm.dmax,
         (SELECT x FROM daily WHERE d = gm.dmax) AS xn,
         (SELECT x FROM daily WHERE d = gm.dmax - 1) AS xp,
         gm.s / gm.n AS mu
  FROM gm)
SELECT l.n AS n_days,
       CAST(l.dmax AS STRING) AS last_day,
       ROUND(l.mu, 9) AS mu,
       ROUND(p.r1, 9) AS r1, ROUND(p.r2, 9) AS r2,
       ROUND(p.phi1, 9) AS phi1, ROUND(p.phi2, 9) AS phi2,
       ROUND(l.mu + p.phi1 * (CAST(l.xn AS DOUBLE) - l.mu)
                  + p.phi2 * (CAST(l.xp AS DOUBLE) - l.mu), 9)
         AS forecast_next
FROM lastx l CROSS JOIN phi p
"""


@register("events_ar2_forecast", oracle=_AR2_SQL)
def q_events_ar2_forecast(spark, sf_dir):
    """AR(2) one-step forecast of tomorrow's event volume via the
    Yule-Walker equations: autocorrelations ρ1, ρ2 from exact integer
    moment sums (the `events_autocorr` calendar-join device, common
    mean), φ1 = ρ1(1−ρ2)/(1−ρ1²), φ2 = (ρ2−ρ1²)/(1−ρ1²), forecast
    μ + φ1(x_n−μ) + φ2(x_{{n−1}}−μ) — the parametric companion to
    `events_holt_linear` (exponential family) and `events_pacf` (whose
    Durbin-Levinson recursion these φ's are the order-2 closed form of).

    Every cross-engine hazard is pinned: moments are HUGEINT/DECIMAL
    split-cast sums, μ and the ρ/φ chain are IDENTICAL double
    expressions in both engines, and the last two observations come
    from calendar-key lookups (no window, no ordering assumption). At
    100 TB only the daily rollup scans the corpus; everything after
    runs on a KB spine.
    """
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.count(F.lit(1)).alias("x")
    )
    dec = "decimal(38,0)"
    gm = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        _split_dbl(F.sum(F.col("x").cast(dec))).alias("s"),
        _split_dbl(F.sum(F.col("x").cast(dec) * F.col("x"))).alias("q"),
        F.max("d").alias("dmax"),
    )
    lags = spark.range(1, 3).select(F.col("id").cast("int").alias("lag"))
    a = daily.select(F.col("d").alias("da"), F.col("x").alias("xa"))
    b = daily.select(F.col("d").alias("db"), F.col("x").alias("xb"))
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("db") == F.expr("date_add(da, lag)"))
    )
    lagm = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).cast("long").alias("nk"),
        _split_dbl(F.sum(F.col("xa").cast(dec) * F.col("xb"))).alias("pk"),
        _split_dbl(F.sum(F.col("xa").cast(dec))).alias("hk"),
        _split_dbl(F.sum(F.col("xb").cast(dec))).alias("tk"),
    )
    mu = F.col("s") / F.col("n")
    rho = lagm.crossJoin(F.broadcast(gm)).select(
        "lag",
        (
            (
                F.col("pk")
                - mu * F.col("hk")
                - mu * F.col("tk")
                + F.col("nk") * (mu * mu)
            )
            / (F.col("q") - F.col("s") * F.col("s") / F.col("n"))
        ).alias("r"),
    )
    r1 = rho.filter(F.col("lag") == 1).select(F.col("r").alias("r1"))
    r2 = rho.filter(F.col("lag") == 2).select(F.col("r").alias("r2"))
    phi = r1.crossJoin(F.broadcast(r2)).select(
        "r1",
        "r2",
        (
            F.col("r1") * (F.lit(1.0) - F.col("r2"))
            / (F.lit(1.0) - F.col("r1") * F.col("r1"))
        ).alias("phi1"),
        (
            (F.col("r2") - F.col("r1") * F.col("r1"))
            / (F.lit(1.0) - F.col("r1") * F.col("r1"))
        ).alias("phi2"),
    )
    xn = daily.join(gm.select("dmax"), F.col("d") == F.col("dmax")).select(
        F.col("x").alias("xn")
    )
    xp = daily.join(
        gm.select("dmax"), F.col("d") == F.expr("date_add(dmax, -1)")
    ).select(F.col("x").alias("xp"))
    lastx = (
        gm.select("n", "dmax", (F.col("s") / F.col("n")).alias("mu"))
        .crossJoin(F.broadcast(xn))
        .crossJoin(F.broadcast(xp))
    )
    return lastx.crossJoin(F.broadcast(phi)).select(
        F.col("n").alias("n_days"),
        F.date_format("dmax", "yyyy-MM-dd").alias("last_day"),
        F.round("mu", 9).alias("mu"),
        F.round("r1", 9).alias("r1"),
        F.round("r2", 9).alias("r2"),
        F.round("phi1", 9).alias("phi1"),
        F.round("phi2", 9).alias("phi2"),
        F.round(
            F.col("mu")
            + F.col("phi1") * (F.col("xn").cast("double") - F.col("mu"))
            + F.col("phi2") * (F.col("xp").cast("double") - F.col("mu")),
            9,
        ).alias("forecast_next"),
    )


# ---------------------------------------------------------------------------
# Forecast backtest: naive vs seasonal-naive one-step-ahead (round 9)
# ---------------------------------------------------------------------------

_BACKTEST_SQL = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY CAST(ts AS DATE)),
preds AS (
  SELECT 'naive_lag1' AS method, a.d, a.x AS actual, b.x AS forecast
  FROM daily a JOIN daily b ON b.d = a.d - 1
  UNION ALL
  SELECT 'seasonal_naive_lag7', a.d, a.x, b.x
  FROM daily a JOIN daily b ON b.d = a.d - 7),
naive_mae AS (
  SELECT CAST(SUM(ABS(a.x - b.x)) AS BIGINT) AS sae,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM daily a JOIN daily b ON b.d = a.d - 1),
m AS (
  SELECT method, CAST(COUNT(*) AS BIGINT) AS n_points,
         CAST(SUM(ABS(actual - forecast)) AS BIGINT) AS sae,
         SUM(CAST(ROUND(2.0 * ABS(CAST(actual AS DOUBLE) - forecast)
                        / (ABS(CAST(actual AS DOUBLE)) + ABS(CAST(forecast AS DOUBLE))),
                        12) AS DECIMAL(38,12))) AS smape_sum
  FROM preds GROUP BY method)
SELECT m.method, m.n_points,
       ROUND(CAST(m.sae AS DOUBLE) / m.n_points, 9) AS mae,
       ROUND(CAST(m.smape_sum AS DOUBLE) / m.n_points, 9) AS smape,
       ROUND((CAST(m.sae AS DOUBLE) / m.n_points)
             / (CAST(nm.sae AS DOUBLE) / nm.n), 9) AS mase
FROM m CROSS JOIN naive_mae nm
"""


@register("eval_forecast_backtest", oracle=_BACKTEST_SQL)
def q_eval_forecast_backtest(spark, sf_dir):
    """One-step-ahead forecast backtest of the two canonical baselines —
    naive (x̂_t = x_{t−1}) and seasonal-naive (x̂_t = x_{t−7}) — over
    the daily event series, scored with MAE, sMAPE, and MASE
    (Hyndman-Koehler: MAE scaled by the naive baseline's, so MASE < 1
    means "beats persistence"). The accuracy harness any forecaster in
    the family (`events_holt_linear`, `events_kalman_level`,
    `events_ar2_forecast`) is judged against.

    All arithmetic exact-integer except sMAPE's per-point ratio
    (rounded 12 dp, DECIMAL-summed — order-free) and the three output
    divisions. Forecasts pair by CALENDAR join (d − 1 / d − 7), no
    window, gap-safe. At 100 TB only the daily rollup scans the corpus.
    """
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.count(F.lit(1)).alias("x")
    )
    b = daily.select(F.col("d").alias("db"), F.col("x").alias("forecast"))

    def lagged(days: int, name: str):
        return (
            daily.join(b, F.col("db") == F.expr(f"date_add(d, -{days})"))
            .select(
                F.lit(name).alias("method"),
                F.col("x").alias("actual"),
                "forecast",
            )
        )

    preds = lagged(1, "naive_lag1").unionByName(
        lagged(7, "seasonal_naive_lag7")
    )
    smape_term = F.round(
        F.lit(2.0)
        * F.abs(F.col("actual").cast("double") - F.col("forecast"))
        / (
            F.abs(F.col("actual").cast("double"))
            + F.abs(F.col("forecast").cast("double"))
        ),
        12,
    ).cast("decimal(38,12)")
    m = preds.groupBy("method").agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.sum(F.abs(F.col("actual") - F.col("forecast")))
        .cast("long")
        .alias("sae"),
        F.sum(smape_term).alias("smape_sum"),
    )
    nm = (
        preds.filter(F.col("method") == "naive_lag1")
        .agg(
            F.sum(F.abs(F.col("actual") - F.col("forecast")))
            .cast("long")
            .alias("nm_sae"),
            F.count(F.lit(1)).cast("long").alias("nm_n"),
        )
    )
    return m.crossJoin(F.broadcast(nm)).select(
        "method",
        "n_points",
        F.round(F.col("sae").cast("double") / F.col("n_points"), 9).alias(
            "mae"
        ),
        F.round(
            F.col("smape_sum").cast("double") / F.col("n_points"), 9
        ).alias("smape"),
        F.round(
            (F.col("sae").cast("double") / F.col("n_points"))
            / (F.col("nm_sae").cast("double") / F.col("nm_n")),
            9,
        ).alias("mase"),
    )


# ---------------------------------------------------------------------------
# Pairwise Pearson correlation matrix over customer metrics (round 9)
# ---------------------------------------------------------------------------

_CORRM_METRICS = ("n_orders", "cents", "max_cents", "n_months")

_CORRM_SQL = f"""
WITH cust AS (
  SELECT o_custkey,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents,
         CAST(MAX(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS max_cents,
         CAST(COUNT(DISTINCT date_trunc('month', o_orderdate)) AS BIGINT)
           AS n_months
  FROM orders GROUP BY o_custkey),
m AS (
  SELECT v.a, v.b,
         CAST(COUNT(*) AS BIGINT) AS n,
         {_split_sql("SUM(CAST(CASE v.a WHEN 'n_orders' THEN n_orders WHEN 'cents' THEN cents WHEN 'max_cents' THEN max_cents ELSE n_months END AS HUGEINT))")} AS sx,
         {_split_sql("SUM(CAST(CASE v.b WHEN 'n_orders' THEN n_orders WHEN 'cents' THEN cents WHEN 'max_cents' THEN max_cents ELSE n_months END AS HUGEINT))")} AS sy,
         {_split_sql("SUM(CAST(CASE v.a WHEN 'n_orders' THEN n_orders WHEN 'cents' THEN cents WHEN 'max_cents' THEN max_cents ELSE n_months END AS HUGEINT) * CASE v.b WHEN 'n_orders' THEN n_orders WHEN 'cents' THEN cents WHEN 'max_cents' THEN max_cents ELSE n_months END)")} AS sxy,
         {_split_sql("SUM(CAST(CASE v.a WHEN 'n_orders' THEN n_orders WHEN 'cents' THEN cents WHEN 'max_cents' THEN max_cents ELSE n_months END AS HUGEINT) * CASE v.a WHEN 'n_orders' THEN n_orders WHEN 'cents' THEN cents WHEN 'max_cents' THEN max_cents ELSE n_months END)")} AS sxx,
         {_split_sql("SUM(CAST(CASE v.b WHEN 'n_orders' THEN n_orders WHEN 'cents' THEN cents WHEN 'max_cents' THEN max_cents ELSE n_months END AS HUGEINT) * CASE v.b WHEN 'n_orders' THEN n_orders WHEN 'cents' THEN cents WHEN 'max_cents' THEN max_cents ELSE n_months END)")} AS syy
  FROM cust
  CROSS JOIN (
    SELECT a.m AS a, b.m AS b
    FROM (SELECT unnest(['n_orders','cents','max_cents','n_months']) AS m) a
    JOIN (SELECT unnest(['n_orders','cents','max_cents','n_months']) AS m) b
      ON a.m < b.m) v
  GROUP BY v.a, v.b)
SELECT a AS metric_x, b AS metric_y, n,
       ROUND((n * sxy - sx * sy)
             / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 9)
         AS pearson_r
FROM m
"""


@register("stats_corr_matrix", oracle=_CORRM_SQL)
def q_stats_corr_matrix(spark, sf_dir):
    """Pairwise Pearson correlation matrix (upper triangle, 6 pairs)
    over four per-customer metrics — order count, revenue cents, max
    order cents, active months — the one-query profiling step a feature
    platform runs before model training to catch collinear features.

    All moments are EXACT integer sums (cents via FLOOR·100; HUGEINT /
    DECIMAL(38,0) with the shared split-cast conversion), so Pearson is
    the single closed-form double chain per pair — identical in both
    engines. Plan: one groupBy(custkey) rollup scans the facts, then
    the 6 metric pairs fan out via a 6-row broadcast crossJoin over the
    customer rollup (map-side-combinable moment aggregate per pair) —
    at 100 TB the fact scan dominates and the pair fan-out rides it.
    """
    o = load_table(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("cents"),
        F.max(F.floor(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("max_cents"),
        F.countDistinct(F.date_trunc("month", "o_orderdate"))
        .cast("long")
        .alias("n_months"),
    )
    names = list(_CORRM_METRICS)
    pairs = [(a, b) for a in names for b in names if a < b]
    pv = spark.createDataFrame(pairs, "a string, b string")
    dec = "decimal(38,0)"

    def pickx(side):
        c = F.when(F.col(side) == "n_orders", F.col("n_orders"))
        c = c.when(F.col(side) == "cents", F.col("cents"))
        c = c.when(F.col(side) == "max_cents", F.col("max_cents"))
        return c.otherwise(F.col("n_months"))

    j = cust.crossJoin(F.broadcast(pv)).select(
        "a", "b",
        pickx("a").cast(dec).alias("x"),
        pickx("b").cast(dec).alias("y"),
    )
    m = j.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        _split_dbl(F.sum("x")).alias("sx"),
        _split_dbl(F.sum("y")).alias("sy"),
        _split_dbl(F.sum(F.col("x") * F.col("y"))).alias("sxy"),
        _split_dbl(F.sum(F.col("x") * F.col("x"))).alias("sxx"),
        _split_dbl(F.sum(F.col("y") * F.col("y"))).alias("syy"),
    )
    nn = F.col("n").cast("double")
    r = (nn * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.sqrt(nn * F.col("sxx") - F.col("sx") * F.col("sx"))
        * F.sqrt(nn * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return m.select(
        F.col("a").alias("metric_x"),
        F.col("b").alias("metric_y"),
        "n",
        F.round(r, 9).alias("pearson_r"),
    )
