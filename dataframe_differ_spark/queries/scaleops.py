"""Round-3 scale operators: sketches, dedup, retrieval, layout, drift.

Each query here exists because of its 100 TB execution strategy, not just
its answer: mergeable sketches (count-min), portable MinHash-LSH and
repeated-substring dedup (plus the end-to-end LSH→connected-components→
canonical pipeline), hybrid BM25+dense RRF retrieval, product quantization
(codes + ADC search), physical data layout (z-order), equi-depth
histograms, distribution/embedding drift screens, reducer-load diagnosis,
compaction planning, and observe-metrics collection are the operators a
training-data pipeline leans on when the naive plan stops fitting. Every
one is deterministic and full-oracle: the
"approximate" structures (CMS, MinHash) are built from portable md5-derived
hashes so DuckDB constructs the *identical* sketch and the estimate itself
hash-matches (the same trick the round-2 verdict asked for on HLL, applied
at construction time instead of bound-check time).

Reference citation: the reference checkout is empty (SURVEY.md §0); rows
here extend SURVEY.md §2.H per [B:6]'s training-pipeline mandate.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from dataframe_differ_spark.functions.vector import SQL_COS, cosine
from dataframe_differ_spark.operators.dedup import (
    _signature_agreement,
    minhash_candidates,
    shingles,
    simhash_fingerprints,
)
from dataframe_differ_spark.operators.ranks import partitioned_topk, ranked
from dataframe_differ_spark.queries import register
from dataframe_differ_spark.queries.textops import (
    SQL_SHINGLES_CTE,
    sql_md5_int64,
    sql_simhash_sig_ctes,
)
from dataframe_differ_spark.tables import load_table

# ---------------------------------------------------------------------------
# Count-min sketch heavy hitters
# ---------------------------------------------------------------------------

_CMS_D = 4  # hash rows
_CMS_W = 256  # counters per row


_SQL_CMS_BUCKET = (
    # bucket r of key k: hex slice [8r+1, 8r+8] of ONE md5 digest -> % W.
    "('0x' || substr(md5(CAST({k} AS VARCHAR)), {r} * 8 + 1, 8))"
    f"::BIGINT % {_CMS_W}"
)


@register(
    "sketch_cms_topk",
    oracle=f"""
WITH keys AS (SELECT l_suppkey AS k FROM lineitem),
rows_ AS (SELECT unnest(range({_CMS_D})) AS r),
sketch AS (
  SELECT r, {_SQL_CMS_BUCKET.format(r="r", k="k")} AS b, COUNT(*) AS cnt
  FROM keys CROSS JOIN rows_ GROUP BY 1, 2
),
exact AS (
  SELECT k, COUNT(*) AS exact_cnt FROM keys GROUP BY k
  ORDER BY exact_cnt DESC, k LIMIT 10
),
probes AS (
  SELECT e.k, e.exact_cnt, r, {_SQL_CMS_BUCKET.format(r="r", k="e.k")} AS b
  FROM exact e CROSS JOIN rows_
)
SELECT p.k AS l_suppkey,
       p.exact_cnt,
       MIN(s.cnt) AS cms_est,
       MIN(s.cnt) >= p.exact_cnt AS no_undercount
FROM probes p JOIN sketch s ON p.r = s.r AND p.b = s.b
GROUP BY p.k, p.exact_cnt
""",
)
def q_sketch_cms_topk(spark, sf_dir):
    """Count-min sketch heavy hitters over lineitem supplier keys.

    The 100 TB frequency-estimation answer: a d x w = 4 x 256 counter grid
    that partial-aggregates map-side and merges by cell addition — O(d*w)
    memory per executor regardless of key cardinality, one shuffle of at
    most d*w rows. The probe joins the top-10 exact heavy hitters (the
    verifier) against the broadcast sketch; `cms_est = min_r cell[r][h_r(k)]`
    can only overcount, asserted by `no_undercount`. Hashes are portable
    md5 math (module docstring) so the estimate itself is full-oracle.
    """
    from dataframe_differ_spark.operators.sketches import cms_build, cms_lookup

    keys = load_table(spark, sf_dir, "lineitem").select(F.col("l_suppkey").alias("k"))
    sketch = cms_build(keys, "k", depth=_CMS_D, width=_CMS_W)
    exact = (
        keys.groupBy("k")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .orderBy(F.desc("exact_cnt"), "k")
        .limit(10)
    )
    est = cms_lookup(sketch, exact, "k", depth=_CMS_D, width=_CMS_W)
    return est.select(
        F.col("k").alias("l_suppkey"),
        "exact_cnt",
        "cms_est",
        (F.col("cms_est") >= F.col("exact_cnt")).alias("no_undercount"),
    )


# ---------------------------------------------------------------------------
# Equi-depth histogram
# ---------------------------------------------------------------------------


EQUIDEPTH_SQL = """
SELECT decile,
       COUNT(*) AS cnt,
       MIN(o_totalprice) AS lo,
       MAX(o_totalprice) AS hi
FROM (
  SELECT o_totalprice,
         CAST(ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS INTEGER)
           AS decile
  FROM orders
)
GROUP BY decile
"""


@register(
    "agg_histogram_equidepth",
    oracle=EQUIDEPTH_SQL,
    scale_path="agg_histogram_equidepth_sketch",
)
def q_agg_histogram_equidepth(spark, sf_dir):
    """Equi-depth (equal-count) histogram of order totals in 10 deciles.

    Correctness form: exact ntile over a total order (ties broken by
    o_orderkey so both engines cut identically). Spark executes the global
    sort range-partitioned, but ntile's single unbounded window frame is a
    one-partition bottleneck — at 100 TB you'd replace it with the
    two-scan plan: `approx_percentile` boundaries (mergeable sketch, no
    sort) then a map-side bucket lookup; `agg_pctl_approx` demonstrates
    that sketch. This query is the exact verifier of those boundaries.
    """
    orders = load_table(spark, sf_dir, "orders")
    w = Window.orderBy("o_totalprice", "o_orderkey")
    return (
        orders.select("o_totalprice", F.ntile(10).over(w).alias("decile"))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
    )


# ---------------------------------------------------------------------------
# Population-stability-index drift screen
# ---------------------------------------------------------------------------


@register(
    "drift_psi",
    oracle="""
WITH binned AS (
  SELECT CAST(LEAST(9, GREATEST(0, CAST(floor(o_totalprice / 50000) AS INTEGER)))
              AS INTEGER) AS bin,
         substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) < '8' AS is_base
  FROM orders
),
per_bin AS (
  SELECT bin,
         CAST(SUM(CASE WHEN is_base THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
         CAST(SUM(CASE WHEN is_base THEN 0 ELSE 1 END) AS BIGINT) AS n_cur
  FROM binned GROUP BY bin
),
tot AS (
  SELECT SUM(n_base) AS tb, SUM(n_cur) AS tc FROM per_bin
)
SELECT bin, n_base, n_cur,
       ROUND(
         (CAST(n_base + 1 AS DOUBLE) / (tb + 10)
          - CAST(n_cur + 1 AS DOUBLE) / (tc + 10))
         * ln((CAST(n_base + 1 AS DOUBLE) / (tb + 10))
              / (CAST(n_cur + 1 AS DOUBLE) / (tc + 10))),
         6) AS psi_bin
FROM per_bin CROSS JOIN tot
""",
)
def q_drift_psi(spark, sf_dir):
    """Population Stability Index between two md5-split order cohorts.

    The standard production drift screen for a feature distribution:
    baseline vs current cohort (deterministic md5 bucket split, the same
    device as `split_train_val_test`), 10 fixed-width price bins,
    per-bin PSI contribution `(p - q) * ln(p / q)` with add-one smoothing
    so empty bins stay finite. One scan + one tiny aggregate + a broadcast
    of the 1-row totals — scan-bound at any scale. `ln` is the one
    non-IEEE-portable op here (round-1 lesson), so the contribution is
    rounded to 6 dp on both sides before hashing.
    """
    from dataframe_differ_spark.operators.sketches import psi_bins

    orders = load_table(spark, sf_dir, "orders")
    binned = orders.select(
        F.least(
            F.lit(9),
            F.greatest(
                F.lit(0), F.floor(F.col("o_totalprice") / 50000).cast("int")
            ),
        ).alias("bin"),
        (F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1) < "8").alias(
            "is_base"
        ),
    )
    # n_bins=10 is the FIXED width of the binning scheme above (not the
    # occupied count), so the smoothing denominator matches the oracle
    # even if a price band is empty at tiny scales.
    out = psi_bins(binned, "bin", "is_base", smoothing=1, n_bins=10)
    return out.select(
        "bin", "n_base", "n_cur", F.round("psi_bin", 6).alias("psi_bin")
    )


# ---------------------------------------------------------------------------
# Portable-hash MinHash-LSH (full oracle, including the signatures)
# ---------------------------------------------------------------------------

_MH_K = 16  # signature length
_MH_BAND_ROWS = 4  # 4 bands x 4 rows

# Shingle hash j: md5("j~shingle") first 12 hex chars -> 48-bit int. Both
# engines hash the same byte string to the same integer, so the MinHash
# signature (min over shingles) is bit-identical cross-engine.
_SQL_MH_HASH = (
    "('0x' || substr(md5(CAST({j} AS VARCHAR) || '~' || {s}), 1, 12))::BIGINT"
)


# Shared oracle CTE chain: planted corpus → shingles → portable MinHash
# signatures → LSH bands → candidate pairs. Reused by `dedup_minhash_exact`
# (pair estimates) and `dedup_pipeline_e2e` (CC clustering over the pairs).
_SQL_MH_CTES = f"""corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id,
         array_to_string(string_split(text, ' ')[3:], ' ') AS text
  FROM documents WHERE doc_id % 11 = 0
),
{SQL_SHINGLES_CTE},
tok AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
sigs AS (
  SELECT doc_id, r.j, MIN({_SQL_MH_HASH.format(j="r.j", s="shingle")}) AS s
  FROM tok CROSS JOIN (SELECT unnest(range({_MH_K})) AS j) r
  GROUP BY doc_id, r.j),
bands AS (
  SELECT doc_id, j // {_MH_BAND_ROWS} AS band,
         string_agg(CAST(s AS VARCHAR), '-' ORDER BY j) AS bkey
  FROM sigs GROUP BY doc_id, j // {_MH_BAND_ROWS}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)"""


def _mh_parts(spark, sf_dir):
    """Spark half of the shared MinHash chain (_SQL_MH_CTES twin): returns
    (corpus, sigs, cand) for the planted-dup documents corpus."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    planted = (
        docs.filter(F.col("doc_id") % 11 == 0)
        .select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.concat_ws(
                " ", F.expr("slice(split(text, ' '), 3, size(split(text, ' ')))")
            ).alias("text"),
        )
    )
    corpus = docs.unionByName(planted)
    sigs, cand = minhash_candidates(
        corpus.select("doc_id", shingles("text", 3).alias("shingles")),
        "doc_id",
        "shingles",
        num_perm=_MH_K,
        bands=_MH_K // _MH_BAND_ROWS,
        out_a="doc_a",
        out_b="doc_b",
    )
    return corpus, sigs, cand


def _mh_parts_cached(spark, sf_dir):
    """`_mh_parts` built ONCE per (session, sf_dir) — round-10
    consolidation (VERDICT r9 item #1): `dedup_minhash_exact`,
    `dedup_pipeline_e2e` and `eval_dedup_pr` each replayed the identical
    shingle→signature→band chain. Same device as
    `textops._near_dup_chain_cached`: eager localCheckpoint under a weak
    session key, so the first consumer pays the build and the rest read
    cached blocks."""
    import os

    from dataframe_differ_spark.operators.session_cache import session_cached

    return session_cached(
        spark,
        ("mh_parts", os.path.abspath(sf_dir)),
        lambda: _mh_parts(spark, sf_dir),
    )


@register(
    "dedup_minhash_exact",
    oracle=f"""
WITH {_SQL_MH_CTES},
est AS (
  SELECT c.doc_a, c.doc_b,
         AVG(CASE WHEN sa.s = sb.s THEN 1.0 ELSE 0.0 END) AS est_jaccard
  FROM cand c
  JOIN sigs sa ON sa.doc_id = c.doc_a
  JOIN sigs sb ON sb.doc_id = c.doc_b AND sb.j = sa.j
  GROUP BY c.doc_a, c.doc_b)
SELECT doc_a, doc_b, ROUND(est_jaccard, 6) AS est_jaccard FROM est
""",
)
def q_dedup_minhash_exact(spark, sf_dir):
    """MinHash-LSH near-dup detection with PORTABLE signatures — the
    full-oracle sibling of `dedup_near` (whose xxhash64 signatures are
    Spark-internal and therefore rows-only).

    Signature: 16 independent min-hashes of the doc's distinct 3-gram
    shingles, each h_j = 48 bits of md5("j~shingle") — identical integer
    in both engines, so signatures, LSH bands (4 x 4), candidate pairs AND
    the per-pair Jaccard estimate (matching-signature fraction) all
    hash-match the oracle exactly. Corpus is documents plus planted
    near-dups (every 11th doc re-added with its first two tokens dropped,
    doc_id + 100000) so the banding provably fires.

    Scale shape: `operators.dedup.minhash_candidates` (signature build is
    one groupBy(doc) min over 16 hash columns — one shuffle keyed by doc;
    candidates come from the (band, bkey) equi-join — sub-linear, no
    all-pairs); the estimate joins 16-row signature slices of candidates
    only. At 100 TB the band tables are the materialized index.
    """
    _corpus, sigs, cand = _mh_parts_cached(spark, sf_dir)
    return _signature_agreement(
        cand, "doc_a", "doc_b", sigs, sigs, "doc_id"
    ).select("doc_a", "doc_b", F.round("_dd_est", 6).alias("est_jaccard"))


# ---------------------------------------------------------------------------
# Hybrid retrieval: BM25 + dense cosine, fused by reciprocal-rank
# ---------------------------------------------------------------------------

_RRF_TERMS = ("hash", "merge", "vector")
_RRF_K = 60  # standard RRF dampening constant


@register(
    "retrieval_hybrid_rrf",
    oracle=f"""
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
             FROM documents),
     tf AS (SELECT doc_id, token, CAST(COUNT(*) AS DOUBLE) AS tf
            FROM tok WHERE token IN ('hash', 'merge', 'vector')
            GROUP BY doc_id, token),
     dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl
            FROM documents),
     stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
                      CAST(SUM(len(string_split(text, ' '))) AS DOUBLE)
                        / COUNT(*) AS avgdl
               FROM documents),
     df AS (SELECT token, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df
            FROM tok WHERE token IN ('hash', 'merge', 'vector')
            GROUP BY token),
     lex AS (
       SELECT tf.doc_id,
              ROUND(SUM(LN(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
                        * (tf.tf * 2.2)
                        / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))),
                    6) AS lex_score
       FROM tf
       JOIN df ON tf.token = df.token
       JOIN dl ON tf.doc_id = dl.doc_id
       CROSS JOIN stats
       GROUP BY tf.doc_id),
     lex_ranked AS (
       SELECT doc_id,
              CAST(row_number() OVER (ORDER BY lex_score DESC, doc_id)
                   AS BIGINT) AS rank_lex
       FROM lex),
     q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
           FROM embeddings WHERE vec_id = 0),
     vec AS (
       SELECT vec_id AS doc_id,
              ROUND({SQL_COS("e", "qe")}, 9) AS cos
       FROM (SELECT vec_id,
                    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
             FROM embeddings) CROSS JOIN q),
     vec_ranked AS (
       SELECT doc_id,
              CAST(row_number() OVER (ORDER BY cos DESC, doc_id) AS BIGINT)
                AS rank_vec
       FROM vec),
     vec_top AS (SELECT * FROM vec_ranked WHERE rank_vec <= 100),
     fused AS (
       SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
              l.rank_lex, v.rank_vec,
              ROUND(COALESCE(1.0 / ({_RRF_K} + l.rank_lex), 0.0)
                    + COALESCE(1.0 / ({_RRF_K} + v.rank_vec), 0.0), 9)
                AS rrf_score
       FROM lex_ranked l FULL OUTER JOIN vec_top v ON l.doc_id = v.doc_id)
SELECT doc_id, rank_lex, rank_vec, rrf_score
FROM fused ORDER BY rrf_score DESC, doc_id LIMIT 10
""",
)
def q_retrieval_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval: BM25 lexical ranking + dense cosine ranking over
    the paired embeddings table, fused with Reciprocal Rank Fusion
    (RRF, k=60) — the standard zero-tuning hybrid-search combiner.

    Two independent rankers (each a rank over a deterministic rounded
    score, ties broken by doc_id), full-outer fused so lexical-only and
    vector-only hits both surface, score = sum of 1/(60 + rank). The
    dense list is cut to its top-100 before fusion, as a real two-stage
    retriever would. At 100 TB: the lexical side is an inverted-index
    shuffle keyed by term (3 terms → 3-partition probe), the dense side is
    `sim_topk_ivf`'s ANN path; the global row_number here is the bounded
    final ranking over candidates, not over the corpus.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    qtok = tok.filter(F.col("token").isin(*_RRF_TERMS))
    tf = qtok.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).cast("double").alias("tf")
    )
    dl = docs.select(
        "doc_id", F.size(F.split("text", " ")).cast("double").alias("dl")
    )
    stats = docs.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (
            F.sum(F.size(F.split("text", " "))).cast("double")
            / F.count(F.lit(1))
        ).alias("avgdl"),
    )
    df_t = qtok.groupBy("token").agg(
        F.countDistinct("doc_id").cast("double").alias("df")
    )
    bm25 = (
        F.log(1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
        * (F.col("tf") * 2.2)
        / (F.col("tf") + 1.2 * (0.25 + 0.75 * F.col("dl") / F.col("avgdl")))
    )
    lex = (
        tf.join(F.broadcast(df_t), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(bm25), 6).alias("lex_score"))
    )
    # Round 4: the lexical ranking runs as a two-phase distributed rank
    # (operators.ranks) — exact, value-identical to the global row_number
    # it replaces, but partitioned; the candidate list grows with the
    # corpus for common terms, so this was the one whitelisted global
    # window whose boundedness argument was soft.
    lex_ranked = ranked(
        lex,
        F.col("lex_score"),
        [F.col("lex_score").desc(), "doc_id"],
        ascending=False,
        n_buckets=8,
        rank_col="rank_lex",
    ).select("doc_id", F.col("rank_lex").cast("long").alias("rank_lex"))
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "e", F.col("embedding").cast("array<double>")
    )
    q = emb.filter(F.col("vec_id") == 0).select(F.col("e").alias("qe"))
    vec = emb.crossJoin(F.broadcast(q)).select(
        F.col("vec_id").alias("doc_id"),
        F.round(cosine("e", "qe"), 9).alias("cos"),
    )
    # Top-100 via orderBy().limit(): TakeOrderedAndProject (per-partition
    # heap), never a corpus-wide single-partition row_number; the residual
    # rank window runs over the 100 survivors only.
    vec_top = (
        vec.orderBy(F.desc("cos"), "doc_id")
        .limit(100)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.desc("cos"), "doc_id"))
            .cast("long")
            .alias("rank_vec"),
        )
    )
    # The fusion step is the parametric operators.similarity.rrf_fuse
    # (round-6 extraction): full-outer N-way fuse, missing ranks
    # contribute 0 to sum(1 / (k + rank_i)).
    from dataframe_differ_spark.operators.similarity import rrf_fuse

    fused = rrf_fuse(
        [
            lex_ranked.select("doc_id", F.col("rank_lex").alias("r")),
            vec_top.select("doc_id", F.col("rank_vec").alias("r")),
        ],
        "doc_id",
        "r",
        k=_RRF_K,
        round_dp=9,
    ).select(
        "doc_id",
        F.col("rank_1").alias("rank_lex"),
        F.col("rank_2").alias("rank_vec"),
        "rrf_score",
    )
    return fused.orderBy(F.desc("rrf_score"), "doc_id").limit(10)


# ---------------------------------------------------------------------------
# Z-order layout for multi-dimensional data skipping
# ---------------------------------------------------------------------------

# Bit-interleave two 8-bit bucket ids into a 16-bit Morton (z-order) code.
# Written as plain integer arithmetic, unrolled, so both engines compute the
# identical code: x bits land on odd positions, y bits on even.
_Z_SQL = " + ".join(
    f"(((bx >> {i}) & 1) * {1 << (2 * i + 1)}) + "
    f"(((by >> {i}) & 1) * {1 << (2 * i)})"
    for i in range(8)
)


ZORDER_SQL = f"""
WITH bucketed AS (
  SELECT CAST(ntile(256) OVER (ORDER BY o_custkey, o_orderkey) AS INTEGER) - 1
           AS bx,
         CAST(ntile(256) OVER (ORDER BY o_orderdate, o_orderkey) AS INTEGER) - 1
           AS by,
         o_orderkey
  FROM orders
),
coded AS (SELECT bx, by, {_Z_SQL} AS z, o_orderkey FROM bucketed),
filed AS (
  SELECT bx, by,
         CAST(ntile(16) OVER (ORDER BY z, o_orderkey) AS INTEGER) AS file_id
  FROM coded
)
SELECT file_id, COUNT(*) AS n_rows,
       MIN(bx) AS min_cust_bucket, MAX(bx) AS max_cust_bucket,
       MIN(by) AS min_date_bucket, MAX(by) AS max_date_bucket
FROM filed GROUP BY file_id
"""


@register(
    "layout_zorder",
    oracle=ZORDER_SQL,
    scale_path="layout_zorder_sketch",
)
def q_layout_zorder(spark, sf_dir):
    """Z-order (Morton-code) clustering of orders on (custkey, orderdate)
    — the physical-layout operator behind multi-dimensional data skipping.

    Each dimension is rank-bucketed to 8 bits (ntile 256, ties broken by
    o_orderkey so both engines cut identically), the bits interleave into
    a 16-bit Morton code, and rows are assigned to 16 "files" in z order.
    The output is exactly what a scan planner reads: per-file min/max of
    BOTH dimensions — z-clustered files stay tight on custkey *and* date
    simultaneously (a single-dim sort is tight on one, spans ~the full
    range on the other), so predicates on either column prune files via
    parquet row-group stats. At 100 TB this is
    `repartitionByRange(z).sortWithinPartitions(z).write` and the ntile
    bucketing is replaced by fixed-width quantization of approx-quantile
    boundaries (no global sort); the Morton arithmetic is unchanged.
    """
    orders = load_table(spark, sf_dir, "orders")
    bucketed = orders.select(
        (F.ntile(256).over(Window.orderBy("o_custkey", "o_orderkey")) - 1).alias(
            "bx"
        ),
        (F.ntile(256).over(Window.orderBy("o_orderdate", "o_orderkey")) - 1).alias(
            "by"
        ),
        "o_orderkey",
    )
    coded = bucketed.select("bx", "by", "o_orderkey", F.expr(_Z_SQL).alias("z"))
    filed = coded.select(
        "bx",
        "by",
        F.ntile(16).over(Window.orderBy("z", "o_orderkey")).alias("file_id"),
    )
    return filed.groupBy("file_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("bx").alias("min_cust_bucket"),
        F.max("bx").alias("max_cust_bucket"),
        F.min("by").alias("min_date_bucket"),
        F.max("by").alias("max_date_bucket"),
    )


# ---------------------------------------------------------------------------
# Exact repeated-substring span detection (training-data dedup)
# ---------------------------------------------------------------------------

_SPAN_W = 20  # window length in tokens, stride 1
_BOILER = (
    "subscribe to our newsletter for updates terms of service apply "
    "all rights reserved contact support for help please enable cookies "
    "to continue"
)  # 22 tokens of planted boilerplate


@register(
    "dedup_substring_spans",
    oracle=f"""
WITH corpus AS (
  SELECT doc_id,
         CASE WHEN doc_id % 9 = 0 THEN text || ' ' || '{_BOILER}'
              ELSE text END AS text
  FROM documents
),
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
win AS (
  SELECT doc_id, i AS pos,
         md5(array_to_string(t[i:i + {_SPAN_W - 1}], ' ')) AS span_key
  FROM toks, unnest(range(1, greatest(len(t) - {_SPAN_W - 1}, 0) + 1)) AS u(i)
),
rep AS (
  SELECT span_key,
         COUNT(DISTINCT doc_id) AS n_docs,
         COUNT(*) AS n_occurrences,
         MIN(doc_id) AS first_doc
  FROM win GROUP BY span_key
  HAVING COUNT(DISTINCT doc_id) > 1
)
SELECT span_key, n_docs, n_occurrences, first_doc FROM rep
""",
)
def q_dedup_substring_spans(spark, sf_dir):
    """Exact repeated-substring detection: 20-token windows (stride 1)
    shared verbatim across documents — the suffix-array-style exact dedup
    of Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    Better"), re-expressed as a window-hash inverted index.

    Boilerplate (a 22-token footer) is planted on every 9th doc in-query,
    identically in both engines, so repeated spans provably exist; the
    natural corpus (random word draws) contributes none. Each doc explodes
    into (pos, md5(window)) pairs; one groupBy(span_key) shuffle finds
    spans occurring in >1 doc. At 100 TB this is the standard recipe:
    the window hash is the shuffle key (uniform by construction), the
    output is the boilerplate/license/nav-chrome span inventory fed back
    as a strip-filter, and stride-1 windows cost len(doc) rows — linear,
    no pairwise comparison anywhere.
    """
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 9 == 0, F.concat(F.col("text"), F.lit(" " + _BOILER))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    win = (
        corpus.withColumn("t", F.split("text", " "))
        .select(
            "doc_id",
            F.posexplode(
                # sequence(1, 0) counts DOWN in Spark, so short docs need an
                # explicit empty-array guard, not a greatest() clamp.
                F.expr(
                    f"IF(size(t) < {_SPAN_W}, CAST(array() AS array<string>),"
                    f" transform(sequence(1, size(t) - {_SPAN_W - 1}),"
                    f" i -> md5(concat_ws(' ', slice(t, i, {_SPAN_W})))))"
                )
            ).alias("pos0", "span_key"),
        )
    )
    return (
        win.groupBy("span_key")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min("doc_id").alias("first_doc"),
        )
        .filter(F.col("n_docs") > 1)
    )


# ---------------------------------------------------------------------------
# Exact-substring dedup: span localization + excision (round 9, VERDICT r8
# item #1 — completes the Lee-et-al family that `dedup_substring_spans`
# only inventories)
# ---------------------------------------------------------------------------

_SPANLOC_CORPUS = f"""
corpus AS (
  SELECT doc_id,
         CASE WHEN doc_id % 9 = 0 THEN text || ' ' || '{_BOILER}'
              ELSE text END AS text
  FROM documents),
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
win AS (
  SELECT doc_id, i AS pos,
         md5(array_to_string(t[i:i + {_SPAN_W - 1}], ' ')) AS span_key
  FROM toks, unnest(range(1, greatest(len(t) - {_SPAN_W - 1}, 0) + 1)) AS u(i)),
rep AS (
  SELECT span_key FROM win GROUP BY span_key HAVING COUNT(*) >= 2),
hits AS (
  SELECT w.doc_id, w.pos FROM win w JOIN rep r USING (span_key)),
isl AS (
  SELECT doc_id, pos,
         CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                > {_SPAN_W} THEN 1 ELSE 0 END AS brk
  FROM hits),
isl2 AS (
  SELECT doc_id, pos,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS UNBOUNDED PRECEDING) AS island
  FROM isl),
spans AS (
  SELECT doc_id, MIN(pos) AS span_start,
         MAX(pos) + {_SPAN_W - 1} AS span_end,
         MAX(pos) - MIN(pos) + {_SPAN_W} AS span_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_windows
  FROM isl2 GROUP BY doc_id, island)
"""

_SUBSTR_LOCALIZE_SQL = f"""
WITH {_SPANLOC_CORPUS}
SELECT doc_id, span_start, span_end, span_tokens, n_windows FROM spans
"""


@register("dedup_substring", oracle=_SUBSTR_LOCALIZE_SQL)
def q_dedup_substring(spark, sf_dir):
    """MAXIMAL duplicated-substring spans per document — the
    localization half of Lee et al. 2022 exact-substring dedup that
    `dedup_substring_spans` (the hash inventory) stops short of: which
    token ranges of WHICH docs are corpus-duplicated, with overlapping
    20-token duplicate windows merged into one maximal span by
    gaps-and-islands.

    Boilerplate (22 tokens) is planted on every 9th doc in-query,
    identically in both engines, so a provable span exists per planted
    doc: exactly the 22 trailing positions (windows straddling doc tail
    + boiler start are unique per doc, never duplicated). The natural
    corpus contributes more — the testdata's built-in near-duplicate
    docs share verbatim runs ≥ 20 tokens, which is precisely what this
    operator exists to find. Plan shape per the operator
    docstring (operators/dedup.py:duplicated_spans): linear window
    explode, uniform hash-key shuffle, doc-partitioned island window —
    no global window, no pairwise join. At 100 TB the output is the
    excision work-list fed to `dedup_substring_excise`.
    """
    from dataframe_differ_spark.operators.dedup import duplicated_spans

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 9 == 0, F.concat(F.col("text"), F.lit(" " + _BOILER))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return duplicated_spans(corpus, k=_SPAN_W, min_occurrences=2)


_SUBSTR_EXCISE_SQL = f"""
WITH {_SPANLOC_CORPUS},
tokpos AS (
  SELECT doc_id, i AS pos, t[i] AS tok
  FROM toks, unnest(range(1, len(t) + 1)) AS u(i)),
marked AS (
  SELECT DISTINCT p.doc_id, p.pos, p.tok, s.doc_id IS NOT NULL AS dup
  FROM tokpos p LEFT JOIN spans s
    ON s.doc_id = p.doc_id AND p.pos BETWEEN s.span_start AND s.span_end)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS dup_tokens,
       CAST(SUM(CASE WHEN dup THEN 0 ELSE 1 END) AS BIGINT) AS kept_tokens,
       md5(COALESCE(
         array_to_string(list(tok ORDER BY pos) FILTER (WHERE NOT dup), ' '),
         '')) AS clean_md5
FROM marked GROUP BY doc_id
"""


@register("dedup_substring_excise", oracle=_SUBSTR_EXCISE_SQL)
def q_dedup_substring_excise(spark, sf_dir):
    """Excision half of exact-substring dedup: strip every maximal
    duplicated span found by `dedup_substring` out of its document and
    re-emit the cleaned corpus — per doc, token counts before/after and
    the md5 of the order-exact reassembled clean text (hash, not the
    text, so the result row stays narrow at any scale).

    The planted-boilerplate construction yields a provable floor: every
    9th doc excises AT LEAST its 22 appended footer tokens, ending at
    its last token position (asserted by a pytest); docs sharing
    natural ≥ 20-token runs (the testdata's built-in near-duplicates)
    lose those spans too, and untouched docs pass through with
    dup_tokens = 0. Plan per
    operators/dedup.py:excise_spans — the span table (duplicated
    regions only, tiny vs the corpus) broadcasts into a LEFT range-join
    whose equi key is doc_id; reassembly is one doc-keyed groupBy with
    `array_sort(collect_list(struct(pos, tok)))`, order-exact on both
    engines.
    """
    from dataframe_differ_spark.operators.dedup import duplicated_spans, excise_spans

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 9 == 0, F.concat(F.col("text"), F.lit(" " + _BOILER))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    spans = duplicated_spans(corpus, k=_SPAN_W, min_occurrences=2)
    out = excise_spans(corpus, spans, clean_col="clean_text")
    return out.select(
        "doc_id",
        "n_tokens",
        "dup_tokens",
        "kept_tokens",
        F.md5("clean_text").alias("clean_md5"),
    )


# ---------------------------------------------------------------------------
# Shuffle-partition skew diagnosis
# ---------------------------------------------------------------------------

_DIAG_P = 32  # hypothetical shuffle partition count


@register(
    "diag_skew_partitions",
    oracle=f"""
WITH assigned AS (
  SELECT ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 8))::BIGINT
           % {_DIAG_P} AS pid,
         o_custkey
  FROM orders
),
per_pid AS (
  SELECT pid, COUNT(*) AS n_rows, COUNT(DISTINCT o_custkey) AS n_keys
  FROM assigned GROUP BY pid
),
tot AS (SELECT SUM(n_rows) AS total_rows FROM per_pid)
SELECT pid, n_rows, n_keys,
       ROUND(CAST(n_rows * {_DIAG_P} AS DOUBLE) / total_rows, 9)
         AS load_ratio
FROM per_pid CROSS JOIN tot
""",
)
def q_diag_skew_partitions(spark, sf_dir):
    """Shuffle-partition load diagnosis: simulate hash-partitioning orders
    by o_custkey into 32 reducers and measure each reducer's load.

    `load_ratio` is a partition's share of rows relative to perfect
    balance (1.0 = ideal; >2 flags the skew that AQE's skew-join splitting
    or `join_salted_skew`'s salting would have to absorb). This is the
    measurement you run BEFORE picking `spark.sql.shuffle.partitions`,
    a bucketing scheme, or a salt factor at 100 TB — one scan, one tiny
    aggregate, and the partitioner is portable md5 math so the oracle
    reproduces the exact assignment.
    """
    orders = load_table(spark, sf_dir, "orders")
    assigned = orders.select(
        F.pmod(
            F.conv(
                F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 8), 16, 10
            ).cast("long"),
            F.lit(_DIAG_P),
        ).alias("pid"),
        "o_custkey",
    )
    per_pid = assigned.groupBy("pid").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("o_custkey").alias("n_keys"),
    )
    tot = per_pid.agg(F.sum("n_rows").alias("total_rows"))
    return per_pid.crossJoin(F.broadcast(tot)).select(
        "pid",
        "n_rows",
        "n_keys",
        F.round(
            (F.col("n_rows") * _DIAG_P).cast("double") / F.col("total_rows"), 9
        ).alias("load_ratio"),
    )


# ---------------------------------------------------------------------------
# Small-file compaction planning (lakehouse maintenance)
# ---------------------------------------------------------------------------

_ROW_BYTES = 120  # approximate serialized row width for orders
_TARGET_BYTES = 256_000  # compaction target size per output file


@register(
    "maintenance_compaction_plan",
    oracle=f"""
WITH files AS (
  SELECT date_trunc('month', o_orderdate) AS part_month,
         ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 2))::BIGINT % 4
           AS file_id,
         COUNT(*) * {_ROW_BYTES} AS bytes
  FROM orders
  GROUP BY 1, 2
),
planned AS (
  SELECT part_month, file_id, bytes,
         CAST(floor(
           (SUM(bytes) OVER (PARTITION BY part_month
                             ORDER BY file_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            - bytes) / {_TARGET_BYTES}) AS INTEGER) AS compaction_group
  FROM files
)
SELECT part_month, compaction_group,
       COUNT(*) AS n_files,
       CAST(SUM(bytes) AS BIGINT) AS group_bytes
FROM planned
GROUP BY part_month, compaction_group
""",
)
def q_maintenance_compaction_plan(spark, sf_dir):
    """Small-file compaction planning: next-fit bin packing of per-month
    file fragments into ~256 KB rewrite groups, expressed relationally.

    The lakehouse maintenance half of a streaming ingest pipeline: many
    small files per partition (here simulated as 4 md5-bucket fragments
    per order month with bytes = rows x width) are assigned to compaction
    groups by a running-sum window — group = floor(exclusive-prefix-sum /
    target) — so every group except a partition's last reaches the target
    size. One window per partition (keyed, parallel across months, no
    global sort) and one aggregate; at 100 TB the same plan runs over the
    transaction log's file listing, which is GB-scale, not the data.
    """
    orders = load_table(spark, sf_dir, "orders")
    files = orders.groupBy(
        F.date_trunc("month", "o_orderdate").alias("part_month"),
        F.pmod(
            F.conv(
                F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 2), 16, 10
            ).cast("long"),
            F.lit(4),
        ).alias("file_id"),
    ).agg((F.count(F.lit(1)) * _ROW_BYTES).alias("bytes"))
    w = (
        Window.partitionBy("part_month")
        .orderBy("file_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    planned = files.select(
        "part_month",
        "file_id",
        "bytes",
        F.floor((F.sum("bytes").over(w) - F.col("bytes")) / _TARGET_BYTES)
        .cast("int")
        .alias("compaction_group"),
    )
    return planned.groupBy("part_month", "compaction_group").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("bytes").cast("long").alias("group_bytes"),
    )


# ---------------------------------------------------------------------------
# Observed metrics: data-quality counters without a second scan
# ---------------------------------------------------------------------------


@register(
    "pipeline_observe_metrics",
    oracle="""
SELECT COUNT(*) AS n_rows,
       CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS revenue_cents,
       MIN(o_totalprice) AS min_price,
       MAX(o_totalprice) AS max_price,
       CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_nonpositive
FROM orders
""",
)
def q_pipeline_observe_metrics(spark, sf_dir):
    """DataFrame.observe: pipeline data-quality counters collected as a
    side effect of a pass the job was running anyway.

    The production pattern: a 100 TB export job attaches `observe` metrics
    (row counts, control totals, violation counters) to its main scan and
    the driver reads them from the completed action — NO second scan, no
    `.count()`-then-`.write()` double read. Here the observed pass is a
    noop-sink write of orders; the returned 1-row DataFrame is the metric
    record a pipeline would ship to its monitoring store, hash-checked
    against the oracle computing the same aggregates directly. Metrics
    use floor-cents control totals (exact integer math) — the same device
    as `diff_agg_reconcile` — so reconciliation across engines is exact.
    """
    from pyspark.sql import Observation

    orders = load_table(spark, sf_dir, "orders")
    obs = Observation("dq_metrics")
    observed = orders.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.floor(F.col("o_totalprice") * 100)).alias("revenue_cents"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0)).alias(
            "n_nonpositive"
        ),
    )
    # The "real work" whose scan the metrics piggyback on.
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    return spark.createDataFrame(
        [
            (
                m["n_rows"],
                m["revenue_cents"],
                m["min_price"],
                m["max_price"],
                m["n_nonpositive"],
            )
        ],
        "n_rows long, revenue_cents long, min_price double, max_price double,"
        " n_nonpositive long",
    )


# ---------------------------------------------------------------------------
# Product quantization: 64-dim float vectors -> 32-bit PQ codes
# ---------------------------------------------------------------------------

_PQ_M = 8  # subspaces
_PQ_DSUB = 8  # dims per subspace
_PQ_K = 16  # centroids per subspace (4 bits)

# Sequential-fold squared L2 distance between two 8-dim lists (DuckDB).
_SQL_PQ_D2 = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    f"list_transform(range(1, {_PQ_DSUB + 1}), "
    "i -> (v[i] - c[i]) * (v[i] - c[i]))), (acc, x) -> acc + x)"
)


# Shared SQL CTE chain for the PQ codebook + nearest-centroid assignment
# (twin of _pq_parts below); reused by `vec_pq_codes` and `vec_pq_adc_topk`.
def _pq_parts(spark, sf_dir):
    """Spark half of the PQ chain: returns (base, cent, best) — raw
    vectors, the broadcast 128-row codebook, and each vector's per-subspace
    nearest-centroid assignment (ties broken by centroid id)."""
    base = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    # Seed selection via orderBy().limit(): plans as TakeOrderedAndProject
    # (per-partition top-K + driver merge), NOT a single-partition
    # row_number over the FULL embeddings table (round-3 verdict fix; same
    # device as the IVF quantizer seeds in vectors.py). The residual
    # row_number window below runs over the 16 surviving rows only.
    seeds = (
        base.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(_PQ_K)
        .select(
            F.row_number()
            .over(
                Window.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
            )
            .alias("cid"),
            "e",
        )
    )
    subsp = F.explode(F.sequence(F.lit(0), F.lit(_PQ_M - 1))).alias("s")
    cent = seeds.select("cid", "e", subsp).select(
        "cid",
        "s",
        F.expr(f"slice(e, s * {_PQ_DSUB} + 1, {_PQ_DSUB})").alias("c"),
    )
    subs = base.select("vec_id", "e", subsp).select(
        "vec_id",
        "s",
        F.expr(f"slice(e, s * {_PQ_DSUB} + 1, {_PQ_DSUB})").alias("v"),
    )
    d2 = F.expr(
        "aggregate(zip_with(v, c, (x, y) -> (x - y) * (x - y)), "
        "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )
    d = subs.join(F.broadcast(cent), "s").select("vec_id", "s", "cid", d2.alias("d2"))
    best = d.select(
        "vec_id",
        "s",
        "cid",
        "d2",
        F.row_number()
        .over(Window.partitionBy("vec_id", "s").orderBy("d2", "cid"))
        .alias("rn"),
    ).filter(F.col("rn") == 1)
    return base, cent, best


# DuckDB twin of _pq_parts: the codebook + assignment CTE chain.
_SQL_PQ_CTES = f"""base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings),
seeds AS (
  SELECT e, CAST(row_number() OVER (
           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS INTEGER) AS cid
  FROM base
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {_PQ_K}),
subsp AS (SELECT unnest(range({_PQ_M})) AS s),
cent AS (
  SELECT cid, s, e[s * {_PQ_DSUB} + 1 : s * {_PQ_DSUB} + {_PQ_DSUB}] AS c
  FROM seeds CROSS JOIN subsp),
subs AS (
  SELECT vec_id, s, e[s * {_PQ_DSUB} + 1 : s * {_PQ_DSUB} + {_PQ_DSUB}] AS v
  FROM base CROSS JOIN subsp),
d AS (
  SELECT vec_id, subs.s, cid, {_SQL_PQ_D2} AS d2
  FROM subs JOIN cent ON subs.s = cent.s),
best AS (
  SELECT vec_id, s, cid, d2,
         row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, cid) AS rn
  FROM d)"""


@register(
    "vec_pq_codes",
    oracle=f"""
WITH {_SQL_PQ_CTES}
SELECT vec_id,
       CAST(SUM(CAST(cid - 1 AS BIGINT) * (CAST(1 AS BIGINT) << (4 * s))) AS BIGINT) AS pq_code,
       CAST(SUM(CAST(ROUND(d2, 9) AS DECIMAL(20,9))) AS DOUBLE)
         AS recon_err_sq
FROM best WHERE rn = 1 GROUP BY vec_id
""",
)
def q_vec_pq_codes(spark, sf_dir):
    """Product quantization: encode each 64-dim vector as a 32-bit PQ code
    (8 subspaces x 4-bit centroid ids) + its reconstruction error.

    The vector-compression layer under ANN at 100 TB (Jégou et al. 2011):
    raw float32 vectors are 256 B; PQ codes are 4 B — a 64x shrink that
    lets a billion-vector index live in executor memory, with asymmetric
    distances computed code-vs-query via a 16-entry lookup table per
    subspace. Codebooks here are md5-seeded sample vectors (deterministic
    in both engines — production would refine them with the Lloyd
    iterations `ivf_index` demonstrates); encoding is the real plan: the
    128-row codebook broadcasts, each vector's 8 subvectors argmin over
    16 centroids (ties broken by centroid id), codes pack by integer
    shifts, and per-subspace errors sum via decimal(20,9) so the total is
    order-independent and exact cross-engine.
    """
    base, cent, best = _pq_parts(spark, sf_dir)
    return best.groupBy("vec_id").agg(
        F.sum(F.expr("CAST(cid - 1 AS BIGINT) * shiftleft(CAST(1 AS BIGINT), 4 * s)"))
        .cast("long")
        .alias("pq_code"),
        F.sum(F.round("d2", 9).cast("decimal(20,9)"))
        .cast("double")
        .alias("recon_err_sq"),
    )


@register(
    "dedup_pipeline_e2e",
    oracle=f"""
WITH RECURSIVE {_SQL_MH_CTES},
und AS (
  SELECT doc_a AS src, doc_b AS dst FROM cand
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM cand
),
verts AS (SELECT DISTINCT doc_id AS v FROM corpus),
reach(v, label) AS (
  SELECT v, v AS label FROM verts
  UNION
  SELECT und.dst AS v, reach.label
  FROM reach JOIN und ON reach.v = und.src
),
comp AS (SELECT v, MIN(label) AS canonical_id FROM reach GROUP BY v)
SELECT canonical_id,
       COUNT(*) AS n_members,
       CAST(COUNT(*) - 1 AS BIGINT) AS n_removed
FROM comp GROUP BY canonical_id
HAVING COUNT(*) > 1
""",
)
def q_dedup_pipeline_e2e(spark, sf_dir):
    """END-TO-END near-dup dedup: MinHash-LSH candidates → connected
    components → keep-min canonical per cluster — the full production
    recipe (candidates, transitive grouping, canonical election) in one
    query, FULL-oracle.

    Composes the two verified halves: `_mh_parts` (portable-signature
    LSH candidate pairs over the planted corpus) feeds the same
    O(diameter) min-label propagation loop as `dedup_clusters`; the
    oracle replays the identical pair graph through a recursive CTE. The
    output is the dedup work order — each duplicate cluster's canonical
    (min) doc_id, its size, and how many docs a down-stream filter would
    drop. At 100 TB: candidates are bucket-bound (no all-pairs), the CC
    loop is O(diameter) distributed joins with localCheckpoint lineage
    cuts, and the final keep-set join is a broadcast of cluster ids.
    """
    from dataframe_differ_spark.operators.dedup import connected_components

    # Round 10: the chain comes from the shared session cache (its
    # frames arrive checkpointed, so the CC loop never replays the
    # shingle→signature→band build), and the inline min-label loop is
    # replaced by the `connected_components` operator — identical
    # algorithm, now with pagerank's checkpoint_every=2 cadence and the
    # same fail-loud non-convergence contract.
    corpus, _sigs, cand = _mh_parts_cached(spark, sf_dir)
    vertices = corpus.select(F.col("doc_id").alias("v")).distinct()
    labels = connected_components(
        cand, "doc_a", "doc_b", vertices=vertices, max_iter=10
    ).withColumnRenamed("component_id", "label")
    return (
        labels.groupBy(F.col("label").alias("canonical_id"))
        .agg(F.count(F.lit(1)).alias("n_members"))
        .filter(F.col("n_members") > 1)
        .select(
            "canonical_id",
            "n_members",
            (F.col("n_members") - 1).cast("long").alias("n_removed"),
        )
    )


# DuckDB: squared L2 between the query subvector q.v and a centroid c.
_SQL_PQ_QD2 = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    f"list_transform(range(1, {_PQ_DSUB + 1}), "
    "i -> (qv[i] - c[i]) * (qv[i] - c[i]))), (acc, x) -> acc + x)"
)
# DuckDB: full 64-dim squared L2 between a vector and the query vector.
_SQL_PQ_EXACT_D2 = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform(range(1, 65), "
    "i -> (e[i] - qe[i]) * (e[i] - qe[i]))), (acc, x) -> acc + x)"
)


def _adc_top10(best, base, q, lut):
    """The 10 vectors nearest the query by ADC distance (Σ of ``lut``
    entries over each vector's PQ codes ``best``), beside the exact
    squared distance from ``base``."""
    adc = (
        best.join(F.broadcast(lut), ["s", "cid"])
        .groupBy("vec_id")
        .agg(
            F.sum(F.round("qd2", 9).cast("decimal(20,9)"))
            .cast("double")
            .alias("adc_d2")
        )
    )
    exact_d2 = F.expr(
        "round(aggregate(zip_with(e, qe, (x, y) -> (x - y) * (x - y)), "
        "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x), 9)"
    )
    exact = base.crossJoin(F.broadcast(q)).select(
        "vec_id", exact_d2.alias("exact_d2")
    )
    return (
        adc.join(exact, "vec_id")
        .orderBy("adc_d2", "vec_id")
        .limit(10)
        .select("vec_id", "adc_d2", "exact_d2")
    )


def _pq_query_lut(q, cent):
    """(s, cid, qd2): squared distance from each of the query ``qe``'s
    sub-vectors to every PQ centroid of its subspace (the ADC table)."""
    subsp = F.explode(F.sequence(F.lit(0), F.lit(_PQ_M - 1))).alias("s")
    qsubs = q.select("qe", subsp).select(
        "s", F.expr(f"slice(qe, s * {_PQ_DSUB} + 1, {_PQ_DSUB})").alias("qv")
    )
    qd2 = F.expr(
        "aggregate(zip_with(qv, c, (x, y) -> (x - y) * (x - y)), "
        "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )
    return qsubs.join(cent, "s").select("s", "cid", qd2.alias("qd2"))


@register(
    "vec_pq_adc_topk",
    oracle=f"""
WITH {_SQL_PQ_CTES},
q AS (SELECT e AS qe FROM base WHERE vec_id = 0),
qsubs AS (
  SELECT s, qe[s * {_PQ_DSUB} + 1 : s * {_PQ_DSUB} + {_PQ_DSUB}] AS qv
  FROM q CROSS JOIN subsp),
lut AS (
  SELECT qsubs.s, cid, {_SQL_PQ_QD2} AS qd2
  FROM qsubs JOIN cent ON qsubs.s = cent.s),
adc AS (
  SELECT b.vec_id,
         CAST(SUM(CAST(ROUND(lut.qd2, 9) AS DECIMAL(20,9))) AS DOUBLE)
           AS adc_d2
  FROM best b JOIN lut ON b.s = lut.s AND b.cid = lut.cid
  WHERE b.rn = 1
  GROUP BY b.vec_id),
exact AS (
  SELECT vec_id, ROUND({_SQL_PQ_EXACT_D2}, 9) AS exact_d2
  FROM base CROSS JOIN q)
SELECT adc.vec_id, adc.adc_d2, exact.exact_d2
FROM adc JOIN exact ON adc.vec_id = exact.vec_id
ORDER BY adc.adc_d2, adc.vec_id LIMIT 10
""",
)
def q_vec_pq_adc_topk(spark, sf_dir):
    """PQ asymmetric-distance (ADC) top-k search: rank the corpus against
    a query vector using ONLY its 4-byte PQ codes plus a 128-entry lookup
    table — the query-time half of the PQ story (`vec_pq_codes` is the
    index-build half).

    ADC(v) = sum_s LUT[s][code_s(v)], where LUT[s][c] = ||q_s - c||² is
    computed once per query against the broadcast codebook (8 x 16
    entries). The scan over a billion codes is then pure integer indexing
    + 8 float adds per vector — no original vectors touched; the exact
    distance column (computed here for the verdict) is what a production
    re-rank stage would fetch for only the top candidates. Summation uses
    round-to-9dp decimal partials so the total is order-independent;
    ranking ties break on vec_id.
    """
    base, cent, best = _pq_parts(spark, sf_dir)
    q = base.filter(F.col("vec_id") == 0).select(F.col("e").alias("qe"))
    lut = _pq_query_lut(q, cent)
    return _adc_top10(best, base, q, lut)


# ---------------------------------------------------------------------------
# Embedding-centroid drift between cohorts (model/feature monitoring)
# ---------------------------------------------------------------------------


@register(
    "emb_drift_centroid",
    oracle="""
WITH ex AS (
  SELECT label,
         substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) < '8' AS is_a,
         CAST(t.i AS INTEGER) AS dim,
         e[CAST(t.i AS INT) + 1] AS x
  FROM (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
       UNNEST(range(64)) AS t(i)),
m AS (
  SELECT label, dim,
         CAST(SUM(CASE WHEN is_a
                       THEN CAST(FLOOR(x * 1000000.0) AS BIGINT)
                       ELSE 0 END) AS DOUBLE)
           / NULLIF(SUM(CASE WHEN is_a THEN 1 ELSE 0 END), 0) AS ma,
         CAST(SUM(CASE WHEN is_a THEN 0
                       ELSE CAST(FLOOR(x * 1000000.0) AS BIGINT)
                       END) AS DOUBLE)
           / NULLIF(SUM(CASE WHEN is_a THEN 0 ELSE 1 END), 0) AS mb,
         CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS na,
         CAST(SUM(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS nb
  FROM ex GROUP BY label, dim)
SELECT label,
       MAX(na) AS n_a,
       MAX(nb) AS n_b,
       ROUND(sqrt(CAST(SUM(CAST(ROUND((ma - mb) * (ma - mb), 6)
                                AS DECIMAL(38,6))) AS DOUBLE)), 9)
         AS drift_micro
FROM m GROUP BY label
""",
)
def q_emb_drift_centroid(spark, sf_dir):
    """Embedding-centroid drift monitor: per label, the L2 distance
    between the md5-cohort-A and cohort-B centroids (in micro-units).

    The ML-ops screen for a re-embedded or re-trained corpus: if a new
    model (or a data shift) moved a label's centroid, this catches it in
    one scan. The centroid means use the `emb_dim_stats` parity device —
    FLOOR-quantized micro-units summed as BIGINT are exactly reproducible
    under any partial-aggregation order — so the per-dim deltas are
    deterministic doubles; the squared deltas sum via decimal(38,6)
    partials (order-independent) and the final sqrt is IEEE-exact. Plan:
    one 64x posexplode (map-side), one (label, dim) groupBy, one 4-row
    rollup — scan-bound at any scale.
    """
    ex = load_table(spark, sf_dir, "embeddings").select(
        "label",
        (
            F.substring(F.md5(F.col("vec_id").cast("string")), 1, 1) < "8"
        ).alias("is_a"),
        F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "x"),
    )
    micro = F.floor(F.col("x") * F.lit(1000000.0)).cast("bigint")
    m = ex.groupBy("label", "dim").agg(
        (
            F.sum(F.when(F.col("is_a"), micro).otherwise(F.lit(0))).cast("double")
            / F.nullif(
                F.sum(F.when(F.col("is_a"), 1).otherwise(0)), F.lit(0)
            )
        ).alias("ma"),
        (
            F.sum(F.when(F.col("is_a"), F.lit(0)).otherwise(micro)).cast("double")
            / F.nullif(
                F.sum(F.when(F.col("is_a"), 0).otherwise(1)), F.lit(0)
            )
        ).alias("mb"),
        F.sum(F.when(F.col("is_a"), 1).otherwise(0)).cast("bigint").alias("na"),
        F.sum(F.when(F.col("is_a"), 0).otherwise(1)).cast("bigint").alias("nb"),
    )
    dsq = F.round((F.col("ma") - F.col("mb")) * (F.col("ma") - F.col("mb")), 6)
    return m.groupBy("label").agg(
        F.max("na").alias("n_a"),
        F.max("nb").alias("n_b"),
        F.round(
            F.sqrt(F.sum(dsq.cast("decimal(38,6)")).cast("double")), 9
        ).alias("drift_micro"),
    )


# ---------------------------------------------------------------------------
# Sketch set algebra: HLL inclusion-exclusion intersection estimate
# ---------------------------------------------------------------------------


@register(
    "sketch_set_intersect_est",
    oracle="""
WITH a AS (SELECT DISTINCT o_custkey FROM orders
           WHERE year(o_orderdate) = 1995),
     b AS (SELECT DISTINCT o_custkey FROM orders
           WHERE year(o_orderdate) = 1996)
SELECT (SELECT COUNT(*) FROM a) AS exact_a,
       (SELECT COUNT(*) FROM b) AS exact_b,
       (SELECT COUNT(*) FROM (SELECT o_custkey FROM a
                              UNION SELECT o_custkey FROM b)) AS exact_union,
       (SELECT COUNT(*) FROM a JOIN b USING (o_custkey)) AS exact_inter,
       TRUE AS inter_within_bound
""",
)
def q_sketch_set_intersect_est(spark, sf_dir):
    """Sketch set algebra: estimate |A∩B| from three HyperLogLog sketches
    via inclusion-exclusion — no join, no shuffle of the raw keys.

    A = 1995 buyers, B = 1996 buyers. Exact intersection needs a
    distinct + join; the sketch path is |A| + |B| - |A∪B| where all three
    cardinalities come from mergeable HLLs (the union sketch is the
    cell-wise max of A's and B's — here recomputed by one pass with a
    looser filter). The estimate's error compounds ~3 sketches' worth, so
    the checkable contract is the standard one for sketches in this repo
    (cf. `agg_approx_distinct`): exact values as full-oracle columns plus
    a deterministic `inter_within_bound` asserting the estimate landed
    within 5% of the exact UNION size.

    Round 11 (optimization): ONE scan, ONE job, no driver collect. The
    exact intersection is the same inclusion-exclusion identity the
    sketch estimates — |A∩B| = |A| + |B| - |A∪B| — on the EXACT distinct
    counts already in the aggregate, so the former second job (distinct
    + self-join verifier, a full extra pass over the filtered orders)
    computed a value the first aggregate already determined. Outputs are
    bit-identical; the plan drops from two actions + a driver round-trip
    to one distributed aggregate (guide §2.4: remove shuffles outright,
    §5: no driver hops in query paths).
    """
    orders = load_table(spark, sf_dir, "orders")
    year = F.year("o_orderdate")
    ab = orders.filter(year.isin(1995, 1996)).select(
        F.col("o_custkey").alias("k"), year.alias("y")
    )
    # Collapse to one row per distinct key FIRST (map-side combinable
    # groupBy), then aggregate flags + sketches over the distinct-key
    # frame: HLL registers are max-based, so a sketch over the distinct
    # keys is bit-identical to one over the raw rows, the three
    # countDistincts become plain SUMs (no 4-way Expand of the scan), and
    # the rsd=0.01 HLL update loop — whose aggregation buffer is 2^14
    # registers — sees |distinct keys| rows instead of every order row
    # (guide §2.3: aggregate before you shuffle).
    g = ab.groupBy("k").agg(
        F.max((F.col("y") == 1995).cast("int")).alias("ha"),
        F.max((F.col("y") == 1996).cast("int")).alias("hb"),
    )
    ka = F.when(F.col("ha") == 1, F.col("k"))
    kb = F.when(F.col("hb") == 1, F.col("k"))
    row = g.agg(
        F.sum("ha").cast("long").alias("exact_a"),
        F.sum("hb").cast("long").alias("exact_b"),
        F.count(F.lit(1)).cast("long").alias("exact_union"),
        F.approx_count_distinct(ka, 0.01).alias("ea"),
        F.approx_count_distinct(kb, 0.01).alias("eb"),
        F.approx_count_distinct("k", 0.01).alias("eu"),
    )
    exact_inter = F.col("exact_a") + F.col("exact_b") - F.col("exact_union")
    est = F.col("ea") + F.col("eb") - F.col("eu")
    return row.select(
        F.col("exact_a").cast("long"),
        F.col("exact_b").cast("long"),
        F.col("exact_union").cast("long"),
        exact_inter.cast("long").alias("exact_inter"),
        (
            F.abs(est - exact_inter).cast("double")
            <= F.lit(0.05) * F.col("exact_union").cast("double")
        ).alias("inter_within_bound"),
    )


# ---------------------------------------------------------------------------
# Point-in-time feature backfill (leakage-safe training joins)
# ---------------------------------------------------------------------------


@register(
    "join_pit_features",
    oracle="""
WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
                  CAST(value AS DECIMAL(18,2)) AS v
           FROM events),
     o AS (SELECT o_orderkey, o_custkey, o_orderdate FROM orders
           WHERE o_custkey <= 200)
SELECT o.o_orderkey,
       o.o_custkey,
       COUNT(e.user_id) AS n_events_before,
       CAST(COALESCE(SUM(e.v), 0) AS DOUBLE) AS value_before
FROM o LEFT JOIN e
  ON e.user_id = o.o_custkey AND e.ts <= o.o_orderdate
GROUP BY o.o_orderkey, o.o_custkey
""",
)
def q_join_pit_features(spark, sf_dir):
    """Point-in-time feature backfill: for each order, aggregate the
    user's event history STRICTLY up to the order timestamp — the
    leakage-safe join every feature store must get right when
    materializing training data (using any event after the label's
    timestamp is target leakage).

    The oracle states the semantics as the naive range join; the Spark
    plan is the scalable union-tag form (same device as `join_asof`):
    events and orders interleave into ONE per-user timeline sorted by
    (t, tag) with events tagged 0 — so a same-instant event sorts before
    the order and is included, matching the oracle's `<=` — a running
    window carries the count/sum, and each order row reads its features
    off the timeline. One shuffle on the user key, no range-join
    explosion, no per-order rescan of history. Money sums are
    decimal(18,2)-exact so the running accumulation order is irrelevant.
    """
    events = (
        load_table(spark, sf_dir, "events")
        # Only users that can match the filtered order leg: without this
        # the window shuffles/sorts every other user's history just to
        # drop it at the final is_order filter.
        .filter(F.col("user_id") <= 200)
        .select(
            F.col("user_id").alias("k"),
            F.col("ts").cast("timestamp").alias("t"),
            F.col("value").cast("decimal(18,2)").alias("v"),
            F.lit(0).alias("is_order"),
            F.lit(None).cast("long").alias("o_orderkey"),
        )
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") <= 200)
        .select(
            F.col("o_custkey").alias("k"),
            F.col("o_orderdate").cast("timestamp").alias("t"),
            F.lit(None).cast("decimal(18,2)").alias("v"),
            F.lit(1).alias("is_order"),
            "o_orderkey",
        )
    )
    timeline = events.unionByName(orders)
    w = (
        Window.partitionBy("k")
        .orderBy("t", "is_order", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ann = timeline.select(
        "k",
        "is_order",
        "o_orderkey",
        # Count event ROWS (is_order tag), not non-null values — a
        # null-valued event still counts in the oracle's COUNT(user_id).
        F.count(F.when(F.col("is_order") == 0, 1)).over(w).alias(
            "n_events_before"
        ),
        F.sum("v").over(w).alias("v_sum"),
    )
    return ann.filter(F.col("is_order") == 1).select(
        "o_orderkey",
        F.col("k").alias("o_custkey"),
        "n_events_before",
        F.coalesce(F.col("v_sum"), F.lit(0).cast("decimal(18,2)"))
        .cast("double")
        .alias("value_before"),
    )


# ---------------------------------------------------------------------------
# Portable SimHash (full oracle, including the 64-bit signatures)
# ---------------------------------------------------------------------------

_SH_BITS = 64
_SH_BAND_BITS = 16  # 4 bands of 16 bits for candidate generation


# SQL comment the dedup_simhash_portable oracle carries on its sign bit.
_SIMHASH_SIGN_BIT_NOTE = """\
  -- bit 63: DuckDB range-checks 1<<63, Spark's shiftleft wraps to
  -- LONG_MIN — spell the sign bit out so both agree.
"""


@register(
    "dedup_simhash_portable",
    oracle=f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 200000 AS doc_id,
         array_to_string(string_split(text, ' ')[4:], ' ') AS text
  FROM documents WHERE doc_id % 10 = 0
),
tok AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
  FROM corpus),
th AS (
  -- unsigned 64-bit parse, wrapped to signed two's-complement via
  -- HUGEINT arithmetic (a direct UBIGINT->BIGINT cast range-errors).
  SELECT doc_id, token,
         {sql_md5_int64('token')} AS h
  FROM tok),
{sql_simhash_sig_ctes(_SIMHASH_SIGN_BIT_NOTE)}banded AS (
  SELECT doc_id, simhash, band.i AS band,
         (simhash >> (band.i * {_SH_BAND_BITS})) & 65535 AS bkey
  FROM sig CROSS JOIN (SELECT unnest(range(4)) AS i) band),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sa, b.simhash AS sb
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
hits AS (
  SELECT doc_a, doc_b, bit_count(xor(sa, sb)) AS hamming
  FROM cand WHERE bit_count(xor(sa, sb)) <= 9),
sides AS (
  SELECT doc_a AS doc_id, hamming FROM hits
  UNION ALL
  SELECT doc_b AS doc_id, hamming FROM hits)
SELECT doc_id,
       COUNT(*) AS n_near,
       CAST(MIN(hamming) AS INTEGER) AS min_hamming
FROM sides GROUP BY doc_id
""",
)
def q_dedup_simhash_portable(spark, sf_dir):
    """SimHash near-dup detection with PORTABLE 64-bit signatures — the
    full-oracle sibling of `dedup_simhash` (whose xxhash64 signatures are
    Spark-internal and therefore rows-only).

    Charikar's scheme over distinct tokens: bit b of the signature is the
    sign of sum over tokens of (bit b of md5-64(token) ? +1 : -1); both
    engines hash identical bytes to identical integers, so the
    signatures, the 4 x 16-bit band buckets, the candidate pairs AND the
    hamming distances all hash-match the oracle. Planted near-dups
    (every 10th doc minus its first three tokens) differ in a handful of
    token votes -> small hamming distance; banding catches any pair with
    an identical 16-bit quarter.

    Scale shape: per-row distinct tokens, `operators.dedup.
    simhash_fingerprints`' single groupBy(doc) of 64 vote sums (partial-
    aggregated map-side), a 4-row-per-doc band table, and an equi-join
    on (band, bkey) —
    sub-linear candidate generation, no all-pairs. At 100 TB the 8-byte
    signature column is the stored index; re-banding is free.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat_ws(
            " ", F.expr("slice(split(text, ' '), 4, size(split(text, ' ')))")
        ).alias("text"),
    )
    corpus = docs.unionByName(planted)
    sig = simhash_fingerprints(
        corpus.select("doc_id", F.array_distinct(F.split("text", " ")).alias("toks")),
        "doc_id",
        "toks",
    )
    banded = sig.select(
        "doc_id",
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("band"),
    ).withColumn(
        "bkey", F.expr(f"(simhash >> (band * {_SH_BAND_BITS})) & 65535")
    )
    a, b = banded.alias("a"), banded.alias("b")
    hits = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sa"),
            F.col("b.simhash").alias("sb"),
        )
        .distinct()
        .withColumn(
            "hamming", F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
        )
        .filter(F.col("hamming") <= 9)
    )
    # Per-doc dedup degree, not raw pairs: this corpus's shared small
    # vocabulary makes thousands of docs genuinely hamming-close, so the
    # pair list is output-bound; the per-doc rollup is linear in corpus
    # size and is the signal a cleaning pipeline actually thresholds on.
    sides = hits.select(
        F.col("doc_a").alias("doc_id"), "hamming"
    ).unionByName(hits.select(F.col("doc_b").alias("doc_id"), "hamming"))
    return sides.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_near"),
        F.min("hamming").cast("int").alias("min_hamming"),
    )


# ---------------------------------------------------------------------------
# Exact single-pass variance via integer moment sums
# ---------------------------------------------------------------------------


@register(
    "agg_variance_exact",
    oracle="""
WITH c AS (
  SELECT o_orderstatus,
         CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders),
m AS (
  SELECT o_orderstatus,
         COUNT(*) AS n,
         CAST(SUM(cents) AS DECIMAL(38,0)) AS s1,
         CAST(SUM(CAST(cents AS DECIMAL(38,0)) * cents) AS DECIMAL(38,0))
           AS s2
  FROM c GROUP BY o_orderstatus)
SELECT o_orderstatus, n,
       ROUND(CAST(s1 AS DOUBLE) / n / 100, 6) AS mean_price,
       ROUND((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n)
             / n / 10000, 4) AS var_pop_price
FROM m
""",
)
def q_agg_variance_exact(spark, sf_dir):
    """Single-pass EXACT variance per order status from integer moment
    sums — the numerically-stable distributed form of Var(X).

    Naive float `stddev` accumulates catastrophic cancellation at scale
    (sum-of-squares and squared-sum are huge, close, and float); engines
    also disagree in the last ulps, which is why no plain variance query
    shipped before. This form quantizes to integer cents, then sums the
    first two moments as DECIMAL(38,0) — exact under ANY
    partial-aggregation order, mergeable across partitions like any sum,
    one scan. The only floats are the two final divisions (deterministic)
    and Var = (s2 - s1²/n)/n, rounded. At 100 TB this is how you compute
    a distribution profile in the same pass as the rest of the scan.
    """
    orders = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100).cast("bigint")
    m = orders.select("o_orderstatus", cents.alias("cents")).groupBy(
        "o_orderstatus"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("cents").cast("decimal(38,0)")).alias("s1"),
        F.sum(F.col("cents").cast("decimal(38,0)") * F.col("cents")).alias("s2"),
    )
    s1d = F.col("s1").cast("double")
    s2d = F.col("s2").cast("double")
    return m.select(
        "o_orderstatus",
        "n",
        F.round(s1d / F.col("n") / 100, 6).alias("mean_price"),
        F.round(
            (s2d - s1d * F.col("s1") / F.col("n")) / F.col("n") / 10000, 4
        ).alias("var_pop_price"),
    )


# ---------------------------------------------------------------------------
# Scalar (int8) vector quantization — the PQ family's simpler sibling
# ---------------------------------------------------------------------------


@register(
    "vec_quantize_int8",
    oracle="""
WITH ex AS (
  SELECT vec_id, i AS pos, CAST(embedding[i + 1] AS DOUBLE) AS v
  FROM embeddings CROSS JOIN (SELECT unnest(range(64)) AS i)),
rng AS (SELECT pos, MIN(v) AS mn, MAX(v) AS mx FROM ex GROUP BY pos),
coded AS (
  SELECT ex.vec_id, ex.pos, ex.v, rng.mn, rng.mx,
         CASE WHEN rng.mx = rng.mn THEN 0
              ELSE LEAST(255, GREATEST(0,
                CAST(FLOOR((ex.v - rng.mn) / (rng.mx - rng.mn) * 256)
                     AS INTEGER))) END AS code
  FROM ex JOIN rng ON ex.pos = rng.pos),
recon AS (
  SELECT vec_id, pos, code,
         mn + (code + 0.5) / 256.0 * (mx - mn) AS r, v
  FROM coded)
SELECT vec_id,
       CAST(SUM(CAST(code AS BIGINT) * (pos + 1)) AS BIGINT) AS code_checksum,
       CAST(SUM(CAST(ROUND((v - r) * (v - r), 12) AS DECIMAL(24,12)))
            AS DOUBLE) AS recon_err_sq
FROM recon GROUP BY vec_id
""",
)
def q_vec_quantize_int8(spark, sf_dir):
    """Scalar int8 quantization: per-dimension min-max codes + exact
    reconstruction error — the simple compression tier below PQ
    (`vec_pq_codes`): 4× shrink, no codebook, dequantize is two flops.

    Per-dim [min, max] comes from one 64-row aggregate that broadcasts
    back over the corpus — map-side encode, no shuffle growth. Codes are
    floor((v-min)/(max-min)·256) clamped to [0,255]: identical doubles →
    identical floor in both engines (constant dims guard to code 0).
    Reconstruction uses the bucket midpoint; the per-dim squared errors
    are rounded then decimal-summed so the per-vector total is
    order-independent (the PQ recon_err device) — full oracle.
    """
    ex = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "v"),
    )
    rng = ex.groupBy("pos").agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
    j = ex.join(F.broadcast(rng), "pos")
    code = F.when(F.col("mx") == F.col("mn"), F.lit(0)).otherwise(
        F.least(
            F.lit(255),
            F.greatest(
                F.lit(0),
                F.floor(
                    (F.col("v") - F.col("mn"))
                    / (F.col("mx") - F.col("mn"))
                    * 256
                ).cast("int"),
            ),
        )
    )
    coded = j.select("vec_id", "pos", "v", "mn", "mx", code.alias("code"))
    recon = F.col("mn") + (F.col("code") + 0.5) / 256.0 * (
        F.col("mx") - F.col("mn")
    )
    return (
        coded.withColumn("r", recon)
        .groupBy("vec_id")
        .agg(
            F.sum(F.col("code").cast("long") * (F.col("pos") + 1))
            .cast("long")
            .alias("code_checksum"),
            F.sum(
                F.round((F.col("v") - F.col("r")) * (F.col("v") - F.col("r")), 12)
                .cast("decimal(24,12)")
            )
            .cast("double")
            .alias("recon_err_sq"),
        )
    )


_VQB_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
bits AS (
  SELECT vec_id, e, b.b AS b, CASE WHEN e[b.b + 1] >= 0 THEN 1 ELSE 0 END
           AS bit
  FROM e CROSS JOIN (SELECT unnest(range(64)) AS b) b),
sig AS (
  SELECT vec_id, ANY_VALUE(e) AS e,
         CAST(SUM(CASE WHEN bit = 0 THEN 0
                       WHEN b = 63 THEN (-9223372036854775807 - 1)::HUGEINT
                       ELSE (CAST(1 AS BIGINT) << b)::HUGEINT END)
              AS BIGINT) AS sig
  FROM bits GROUP BY vec_id),
q AS (SELECT vec_id AS query_id, e AS qe, sig AS qsig FROM sig
      WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, s.vec_id, s.e, q.qe,
         CAST(bit_count(xor(q.qsig, s.sig)) AS INTEGER) AS hamming
  FROM q JOIN sig s ON s.vec_id <> q.query_id),
top AS (
  SELECT * FROM (
    SELECT query_id, vec_id, e, qe, hamming,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY hamming, vec_id) AS rank
    FROM scored) WHERE rank <= 10)
SELECT query_id, vec_id, CAST(rank AS INTEGER) AS rank, hamming,
       ROUND({SQL_COS('qe', 'e')}, 9) AS cos_full
FROM top
"""


@register("vec_quantize_binary", oracle=_VQB_SQL)
def q_vec_quantize_binary(spark, sf_dir):
    """Binary (sign-bit) vector quantization + Hamming retrieval.

    The third point in the compression family (int8 scalar ->
    `vec_quantize_int8`, product -> `vec_pq_codes`): each 64-dim vector
    collapses to ONE packed 64-bit signature (sign of each dimension —
    the unbiased choice for zero-centered unit vectors), a 64x byte
    reduction. Retrieval scans signatures with XOR + popcount — at
    100 TB the signature column is a 8-byte-per-row parquet scan with
    SIMD popcount, and candidates re-rank with exact cosine, the
    standard binary-quantization funnel in vector stores.

    Portability reuses the dedup_simhash_portable devices: the bit-63
    sign bit is spelled out (Spark shiftleft wraps to LONG_MIN, DuckDB
    range-errors on 1<<63), the 64-bit assembly runs through HUGEINT on
    the DuckDB side, and bit_count(xor) agrees exactly.
    """
    e = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    )
    bits = e.select(
        "vec_id", "e", F.posexplode("e").alias("b", "val")
    ).withColumn(
        "contrib",
        F.when(F.col("val") < 0, F.lit(0).cast("long"))
        .when(F.col("b") == 63, F.lit(-9223372036854775808))
        .otherwise(F.expr("shiftleft(CAST(1 AS BIGINT), b)")),
    )
    sig = bits.groupBy("vec_id").agg(
        F.first("e").alias("e"), F.sum("contrib").cast("long").alias("sig")
    )
    q = sig.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("sig").alias("qsig"),
    )
    scored = sig.join(
        F.broadcast(q), F.col("vec_id") != F.col("query_id")
    ).withColumn(
        "hamming",
        F.bit_count(F.col("qsig").bitwiseXOR(F.col("sig"))).cast("int"),
    )
    return partitioned_topk(
        scored, ["query_id"], ["hamming", "vec_id"], 10, rank_col="rank"
    ).select(
        "query_id", "vec_id", "rank", "hamming",
        F.round(cosine("qe", "e"), 9).alias("cos_full"),
    )


# IVF + PQ combined (the FAISS IVFPQ shape): rename the PQ CTE names that
# collide with the IVF quantizer CTE chain so both can live in one WITH.
import re as _re

_SQL_PQ_CTES_NS = _re.sub(
    r"\b(base|seeds|cent)\b", lambda m: "pq_" + m.group(1), _SQL_PQ_CTES
)


def _ivfpq_sql():
    from dataframe_differ_spark.queries.vectors import _IVF_SQL_CTES, SQL_DOT

    return f"""
WITH {_IVF_SQL_CTES},
{_SQL_PQ_CTES_NS},
q AS (SELECT e AS qe FROM pq_base WHERE vec_id = 0),
qp AS (
  SELECT cluster_id,
         ROW_NUMBER() OVER (ORDER BY dot DESC, cluster_id) AS crank
  FROM (SELECT c.cluster_id, {SQL_DOT('c.ce', 'q.qe')} AS dot
        FROM cent c CROSS JOIN q)),
probes AS (SELECT cluster_id FROM qp WHERE crank <= 6),
cand AS (
  SELECT i.vec_id FROM ivf_index i
  JOIN probes p ON i.cluster_id = p.cluster_id),
qsubs AS (
  SELECT s, qe[s * {_PQ_DSUB} + 1 : s * {_PQ_DSUB} + {_PQ_DSUB}] AS qv
  FROM q CROSS JOIN subsp),
lut AS (
  SELECT qsubs.s, cid, {_SQL_PQ_QD2} AS qd2
  FROM qsubs JOIN pq_cent ON qsubs.s = pq_cent.s),
adc AS (
  SELECT b.vec_id,
         CAST(SUM(CAST(ROUND(lut.qd2, 9) AS DECIMAL(20,9))) AS DOUBLE)
           AS adc_d2
  FROM best b
  JOIN cand ON b.vec_id = cand.vec_id
  JOIN lut ON b.s = lut.s AND b.cid = lut.cid
  WHERE b.rn = 1
  GROUP BY b.vec_id),
exact AS (
  SELECT pq_base.vec_id, ROUND({_SQL_PQ_EXACT_D2}, 9) AS exact_d2
  FROM pq_base JOIN cand ON pq_base.vec_id = cand.vec_id CROSS JOIN q)
SELECT adc.vec_id, adc.adc_d2, exact.exact_d2
FROM adc JOIN exact ON adc.vec_id = exact.vec_id
ORDER BY adc.adc_d2, adc.vec_id LIMIT 10
"""


@register("vec_ivfpq_topk", oracle=_ivfpq_sql())
def q_vec_ivfpq_topk(spark, sf_dir):
    """IVF+PQ combined ANN search — the FAISS IVFPQ production shape.

    Composes the two verified index halves: the IVF coarse quantizer
    (shared, cached — sim_topk_ivf / knn_classify_ivf / dedup_semantic
    build it once per session) prunes the corpus to nprobe=6 of 16 cells,
    and ONLY those cells' members are scored with PQ asymmetric distance
    (4-byte codes + a broadcast 8x16 lookup table), then the exact
    distance column is what a re-rank stage would fetch. At 100 TB this
    is the standard billion-vector layout: partition files by IVF cell
    (scan nprobe/16 of the data), store only codes in the scan path
    (32x smaller), fetch full vectors for the final top-k only.

    The oracle replays BOTH index chains (IVF quantizer CTEs + PQ
    codebook CTEs, namespaced to coexist) and the cell-restricted ADC —
    candidates, ADC estimates, and exact distances all hash-match.
    """
    from dataframe_differ_spark.queries.vectors import _ivf_index_cached

    base, pq_cent, best = _pq_parts(spark, sf_dir)
    index, kcent = _ivf_index_cached(spark, sf_dir, 16)
    q = base.filter(F.col("vec_id") == 0).select(F.col("e").alias("qe"))
    dot = F.expr(
        "aggregate(zip_with(ce, qe, (x, y) -> x * y), CAST(0.0 AS DOUBLE), "
        "(acc, v) -> acc + v)"
    )
    probes = (
        kcent.crossJoin(F.broadcast(q))
        .select("cluster_id", dot.alias("dot"))
        .withColumn(
            "crank",
            F.row_number().over(
                Window.orderBy(F.col("dot").desc(), F.col("cluster_id"))
            ),
        )
        .filter(F.col("crank") <= 6)
        .select("cluster_id")
    )
    cand = index.join(F.broadcast(probes), "cluster_id").select("vec_id")
    lut = _pq_query_lut(q, pq_cent)
    return _adc_top10(
        best.join(F.broadcast(cand), "vec_id"),
        base.join(F.broadcast(cand), "vec_id"),
        q,
        lut,
    )


# ---------------------------------------------------------------------------
# Dedup-quality evaluation: precision/recall of the MinHash-LSH candidate
# pairs against exact 3-gram Jaccard >= 0.5 ground truth on a bounded block.
# ---------------------------------------------------------------------------

# Ground-truth block bound: base doc ids < 60 (a planted twin keeps its
# base id mod 100000, so twins stay with their originals). The block is a
# CONSTANT ~70 docs at any sf — the truth side is the bounded verifier
# half; the candidate side stays the production LSH chain.
_PR_BLOCK = 60
_PR_SQL = f"""
WITH {_SQL_MH_CTES},
bsh AS (SELECT doc_id, shingles FROM sh WHERE doc_id % 100000 < {_PR_BLOCK}),
bt AS (SELECT doc_id, unnest(shingles) AS shingle FROM bsh),
sz AS (SELECT doc_id, CAST(len(shingles) AS BIGINT) AS n FROM bsh),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS i
  FROM bt a JOIN bt b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id),
truth AS (
  SELECT doc_a, doc_b
  FROM inter
  JOIN sz sa ON sa.doc_id = doc_a
  JOIN sz sb ON sb.doc_id = doc_b
  WHERE 2 * i >= sa.n + sb.n - i),
cb AS (
  SELECT doc_a, doc_b FROM cand
  WHERE doc_a % 100000 < {_PR_BLOCK} AND doc_b % 100000 < {_PR_BLOCK}),
tp AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS tp
  FROM truth t JOIN cb ON cb.doc_a = t.doc_a AND cb.doc_b = t.doc_b),
cnt AS (
  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_truth,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM cb) AS n_cand,
         (SELECT tp FROM tp) AS tp)
SELECT n_truth, n_cand, tp,
       n_cand - tp AS fp,
       n_truth - tp AS fn,
       ROUND(CAST(tp AS DOUBLE) / n_cand, 9) AS precision,
       ROUND(CAST(tp AS DOUBLE) / n_truth, 9) AS recall,
       ROUND(CAST(2 * tp AS DOUBLE) / (n_cand + n_truth), 9) AS f1
FROM cnt
"""


@register("eval_dedup_pr", oracle=_PR_SQL, scale_path="dedup_minhash_exact")
def q_eval_dedup_pr(spark, sf_dir):
    """Precision/recall/F1 of MinHash-LSH dedup candidates vs exact truth.

    The eval a dedup pipeline owner runs before trusting the banding
    parameters: on a bounded block (base doc ids < 60 plus their planted
    twins — constant-size at any sf), compute the EXACT distinct-3-gram
    Jaccard for every in-block pair and take J >= 0.5 as ground truth;
    candidates are the production LSH chain (`_mh_parts`, the same
    corpus/signatures/banding as `dedup_minhash_exact`) restricted to
    the block. The threshold compare is pure integers
    (2*|inter| >= |A| + |B| - |inter|), and F1 = 2pr/(p+r) collapses
    algebraically to 2*tp/(n_cand + n_truth) — one exact division.
    The truth half is the bounded-verifier pattern (scale_path declares
    the production sibling); precision alone is scale-safe unbounded
    since it only scores candidate pairs the banding already emits.
    """
    corpus, _sigs, cand = _mh_parts_cached(spark, sf_dir)
    sh = corpus.filter(F.col("doc_id") % 100000 < _PR_BLOCK).select(
        "doc_id", shingles("text", 3).alias("shingles")
    )
    bt = sh.select("doc_id", F.explode("shingles").alias("shingle"))
    sz = sh.select("doc_id", F.size("shingles").cast("long").alias("n"))
    a, b = bt.alias("a"), bt.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sa = sz.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sz.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    truth = (
        inter.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .filter(2 * F.col("i") >= F.col("na") + F.col("nb") - F.col("i"))
        .select("doc_a", "doc_b")
    )
    from dataframe_differ_spark.operators.evalmetrics import pairs_pr

    cb = cand.filter(
        (F.col("doc_a") % 100000 < _PR_BLOCK)
        & (F.col("doc_b") % 100000 < _PR_BLOCK)
    )
    pr = pairs_pr(cb, truth, ["doc_a", "doc_b"])
    return pr.select(
        "n_truth",
        "n_cand",
        "tp",
        "fp",
        "fn",
        F.round("precision", 9).alias("precision"),
        F.round("recall", 9).alias("recall"),
        F.round("f1",
            9,
        ).alias("f1"),
    )


# ---------------------------------------------------------------------------
# Bloom-filter membership screen with measured FPR (round 7)
# ---------------------------------------------------------------------------

_BLOOM_BITS = 2048
_BLOOM_K = 4


def _bloom_hash_sql(i: int, key: str) -> str:
    return (
        f"CAST(('0x' || substr(md5('{i}:' || CAST({key} AS VARCHAR)), 1, 15))"
        f" AS BIGINT) % {_BLOOM_BITS}"
    )


_BLOOM_SQL = f"""
WITH a AS (
  SELECT DISTINCT c_custkey FROM customer WHERE c_acctbal < 0),
bits AS (
  SELECT DISTINCT bit FROM a CROSS JOIN (SELECT unnest(range({_BLOOM_K})) AS i)
  CROSS JOIN LATERAL (SELECT CASE i
    WHEN 0 THEN {_bloom_hash_sql(0, 'c_custkey')}
    WHEN 1 THEN {_bloom_hash_sql(1, 'c_custkey')}
    WHEN 2 THEN {_bloom_hash_sql(2, 'c_custkey')}
    ELSE {_bloom_hash_sql(3, 'c_custkey')} END AS bit) t),
probe AS (SELECT DISTINCT o_custkey FROM orders),
pb AS (
  SELECT o_custkey, CASE i
    WHEN 0 THEN {_bloom_hash_sql(0, 'o_custkey')}
    WHEN 1 THEN {_bloom_hash_sql(1, 'o_custkey')}
    WHEN 2 THEN {_bloom_hash_sql(2, 'o_custkey')}
    ELSE {_bloom_hash_sql(3, 'o_custkey')} END AS bit
  FROM probe CROSS JOIN (SELECT unnest(range({_BLOOM_K})) AS i)),
hit AS (
  SELECT pb.o_custkey,
         CAST(SUM(CASE WHEN bits.bit IS NOT NULL THEN 1 ELSE 0 END)
              = {_BLOOM_K} AS BOOLEAN) AS pos
  FROM pb LEFT JOIN bits ON bits.bit = pb.bit
  GROUP BY pb.o_custkey),
flag AS (
  SELECT hit.o_custkey, hit.pos,
         a.c_custkey IS NOT NULL AS is_member
  FROM hit LEFT JOIN a ON a.c_custkey = hit.o_custkey)
SELECT CAST((SELECT COUNT(*) FROM a) AS BIGINT) AS n_set,
       CAST((SELECT COUNT(*) FROM bits) AS BIGINT) AS n_bits_set,
       CAST(COUNT(*) AS BIGINT) AS n_probed,
       CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_positive,
       CAST(SUM(CASE WHEN pos AND NOT is_member THEN 1 ELSE 0 END)
            AS BIGINT) AS n_false_positive,
       CAST(SUM(CASE WHEN NOT pos AND is_member THEN 1 ELSE 0 END)
            AS BIGINT) AS n_false_negative,
       ROUND(CAST(SUM(CASE WHEN pos AND NOT is_member THEN 1 ELSE 0 END)
                  AS DOUBLE)
             / SUM(CASE WHEN NOT is_member THEN 1 ELSE 0 END), 9) AS fpr
FROM flag
"""


def _delinquent_keys(spark, sf_dir):
    """The Bloom filter's key set: customers with a negative balance."""
    cust = load_table(spark, sf_dir, "customer")
    return cust.filter(F.col("c_acctbal") < 0).select("c_custkey")


def _bloom_score(spark, sf_dir, bits, n_bits, n_hashes):
    """Score a Bloom bit table over the delinquent customers against every
    ordering customer → the one ``_BLOOM_SQL`` row.

    One pass: the probe keys (``o_custkey``) and the members (the
    delinquent ``c_custkey``) are tagged, unioned and grouped by key once,
    so a single aggregate is both DISTINCTs and the membership join. The
    grouped keys are probed, and one global aggregate counts the set
    (``in_a`` groups) and the probe side. A NULL probe key is never a
    member, as the oracle's ``LEFT JOIN`` never matches NULL. The set-bit
    count is the only 1-row broadcast left.
    """
    from dataframe_differ_spark.operators.sketches import bloom_probe

    keys = (
        load_table(spark, sf_dir, "orders")
        .select(
            F.col("o_custkey").alias("k"),
            F.lit(True).alias("is_probe"),
            F.lit(False).alias("in_a"),
        )
        .unionByName(
            _delinquent_keys(spark, sf_dir).select(
                F.col("c_custkey").alias("k"),
                F.lit(False).alias("is_probe"),
                F.lit(True).alias("in_a"),
            )
        )
        .groupBy("k")
        .agg(F.max("is_probe").alias("is_probe"), F.max("in_a").alias("in_a"))
    )
    probed = bloom_probe(bits, keys, "k", n_bits=n_bits, n_hashes=n_hashes)
    probe, hit = F.col("is_probe"), F.col("bloom_positive")
    mem = F.col("in_a") & F.col("k").isNotNull()
    pos = probe & hit
    scored = probed.agg(
        F.count_if("in_a").alias("n_set"),
        F.count_if(probe).alias("n_probed"),
        F.count_if(pos).alias("n_positive"),
        F.count_if(pos & ~mem).alias("n_false_positive"),
        F.count_if(probe & ~hit & mem).alias("n_false_negative"),
        F.round(
            F.count_if(pos & ~mem).cast("double") / F.count_if(probe & ~mem),
            9,
        ).alias("fpr"),
    )
    n_bits_set = bits.agg(F.count(F.lit(1)).alias("n_bits_set"))
    return scored.crossJoin(F.broadcast(n_bits_set)).select(
        "n_set",
        "n_bits_set",
        "n_probed",
        "n_positive",
        "n_false_positive",
        "n_false_negative",
        "fpr",
    )


@register("sketch_bloom_persisted", oracle=_BLOOM_SQL)
def q_sketch_bloom_persisted(spark, sf_dir):
    """`sketch_bloom_membership` through the round-8 persistence layer:
    the bit table is built, SAVED with ``save_artifact`` (plain-parquet
    ``data``/``meta`` dirs, kind ``bloom_bits``, params carrying
    n_bits/n_hashes), RELOADED with ``load_artifact``, and the probe
    runs against the loaded frame using the STORED params — proving
    save → load is identity on the filter (the same DuckDB oracle must
    hash-match, false positives included).

    This is the train-once-reuse-everywhere shape at 100 TB: the build
    scan runs in the producing job only; every consumer loads a ≤m-row
    broadcastable parquet. The artifact path is private to the run
    (``run_scoped_artifact_path``: an sf-dir hash plus a per-run uuid),
    so concurrent runs and scales never share a store and every run
    saves a fresh one. Plan: the build is one customer scan into the bit
    table's DISTINCT (duplicate keys set the same bits); scoring is
    `_bloom_score`'s one grouped pass over probe ∪ members.
    """
    from dataframe_differ_spark.operators.persistence import (
        load_artifact,
        run_scoped_artifact_path,
        save_artifact,
    )
    from dataframe_differ_spark.operators.sketches import bloom_build

    bits = bloom_build(
        _delinquent_keys(spark, sf_dir), "c_custkey",
        n_bits=_BLOOM_BITS, n_hashes=_BLOOM_K,
    )
    path = run_scoped_artifact_path("bloom", sf_dir)
    save_artifact(
        bits, path, "bloom_bits",
        params={"n_bits": _BLOOM_BITS, "n_hashes": _BLOOM_K},
    )
    art = load_artifact(spark, path, "bloom_bits")
    return _bloom_score(
        spark, sf_dir, art.df, art.params["n_bits"], art.params["n_hashes"]
    )


@register("sketch_bloom_membership", oracle=_BLOOM_SQL)
def q_sketch_bloom_membership(spark, sf_dir):
    """Bloom-filter membership screen with its false-positive rate
    MEASURED, not assumed: build a {_BLOOM_BITS}-bit / 4-hash filter
    over the delinquent customers (negative balance), probe every
    ordering customer, and count hits vs ground truth. The pre-join
    screen a 100 TB pipeline uses to skip shuffling rows that cannot
    match (Bloom guarantees zero false NEGATIVES — asserted as an
    output column that must be 0).

    Engine-portable: bit i of key x is md5('i:'||x)[:15hex] mod m (the
    CMS hashing rule), so both engines set the identical bits and even
    the false positives match EXACTLY — the fpr is hash-checked, not
    bounded. Plan: the bit table is ≤ m rows and broadcasts; the probe
    keys and the members are unioned and grouped by key once (both
    DISTINCTs and the truth join in one map-side-combinable aggregate),
    probed, and scored by one global aggregate; the set and bit counts
    stay in the plan, with no driver-side count() actions. At scale m
    grows (2^26 bits is still a broadcast); the filter stays mergeable
    (bit-table union).
    """
    from dataframe_differ_spark.operators.sketches import bloom_build

    bits = bloom_build(
        _delinquent_keys(spark, sf_dir), "c_custkey",
        n_bits=_BLOOM_BITS, n_hashes=_BLOOM_K,
    )
    return _bloom_score(spark, sf_dir, bits, _BLOOM_BITS, _BLOOM_K)


# ---------------------------------------------------------------------------
# Linear counting distinct estimator (round 8)
# ---------------------------------------------------------------------------

_LINEAR_COUNT_SQL = """
WITH bits AS (
  SELECT DISTINCT CAST(CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)),
                                            1, 8)) AS BIGINT) % 4096
                       AS BIGINT) AS bit
  FROM orders),
occ AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_set FROM bits),
ex AS (SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact FROM orders)
SELECT CAST(4096 AS BIGINT) AS m_bits, occ.n_set, 4096 - occ.n_set AS n_empty,
       CASE WHEN occ.n_set >= 4096 THEN NULL
            ELSE ROUND(4096.0 * LN(4096.0 / (4096 - occ.n_set)), 9)
       END AS lc_estimate,
       ex.exact,
       CASE WHEN occ.n_set >= 4096 THEN NULL
            ELSE ROUND(ABS(4096.0 * LN(4096.0 / (4096 - occ.n_set)) - ex.exact)
                       / ex.exact, 9)
       END AS rel_err,
       CASE WHEN occ.n_set >= 4096 THEN NULL
            ELSE (ABS(4096.0 * LN(4096.0 / (4096 - occ.n_set)) - ex.exact)
                  / ex.exact) < 0.05
       END AS within_5pct
FROM occ, ex
"""


@register("sketch_linear_counting", oracle=_LINEAR_COUNT_SQL)
def q_sketch_linear_counting(spark, sf_dir):
    """Linear counting (Whang et al. 1990) distinct-customer estimate:
    hash every key into an m = 4096-bit table and estimate n ≈
    m·ln(m/empty) from the empty-bit count — the LOW-cardinality
    precision regime that completes the sketch shelf (HLL for high
    cardinality, KMV for set algebra, Bloom for membership, CMS for
    frequency). Verified against the exact distinct in the same query;
    the estimator itself is DETERMINISTIC (md5 bit assignment), so the
    oracle is hash-exact, not bound-only.

    Plan: one scan -> DISTINCT over at most m = 4096 bit ids (map-side
    combinable to ≤ m rows per partition — the whole "sketch" is
    KB-sized however large the input); the exact count funds the
    verification. At 100 TB the bit table is still 4096 rows; a real
    deployment merges per-partition bitmaps, which this groupBy shape
    already is. conv(hex,16,10) / DuckDB '0x'||hex cast on the first 8
    md5 chars is the repo's engine-portable 32-bit hash device.
    """
    o = load_table(spark, sf_dir, "orders")
    bits = o.select(
        (
            F.conv(F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 8),
                   16, 10).cast("long")
            % 4096
        ).alias("bit")
    ).distinct()
    occ = bits.agg(F.count(F.lit(1)).cast("long").alias("n_set"))
    ex = o.agg(F.countDistinct("o_custkey").cast("long").alias("exact"))
    # Saturated bit table (every bit set, possible at sf >= 1 where
    # distinct customers >> m): ln(m/0) diverges and Spark's Divide
    # NULLs while DuckDB infs — pin the degenerate case to NULL in BOTH
    # engines (the stats_mcnemar zero-discordant device, c2878a9).
    unsat = F.col("n_set") < 4096
    est = F.when(unsat, 4096.0 * F.log(4096.0 / (4096 - F.col("n_set"))))
    rel = F.when(unsat, F.abs(est - F.col("exact")) / F.col("exact"))
    return occ.crossJoin(F.broadcast(ex)).select(
        F.lit(4096).cast("long").alias("m_bits"),
        "n_set",
        (4096 - F.col("n_set")).cast("long").alias("n_empty"),
        F.round(est, 9).alias("lc_estimate"),
        "exact",
        F.round(rel, 9).alias("rel_err"),
        (rel < 0.05).alias("within_5pct"),
    )


# ---------------------------------------------------------------------------
# DDSketch relative-error quantiles (round 9): the mergeable log-bucket
# quantile sketch (Masson, Rim, Lee — VLDB 2019), completing the sketch
# shelf's quantile corner (HLL: cardinality, KMV: set algebra, Bloom:
# membership, CMS: frequency, linear counting: low-card, equidepth
# histogram: rank quantiles at fixed resolution).
# ---------------------------------------------------------------------------

_DD_LN_GAMMA = "0.01980262729617973"  # ln(1.02) as a shared literal:
# embedding the PRECOMPUTED constant keeps the only libm call per row to
# ln(x) (bucket = ceil(ln(x)/const)); est uses power(1.02, b), rounded 9.
_DD_GAMMA = "1.02"

_DDSKETCH_SQL = f"""
WITH x AS (
  SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS mth,
         CAST(o_totalprice AS DOUBLE) AS v, o_orderkey
  FROM orders),
sub AS (
  SELECT mth, CAST(CEIL(LN(v) / {_DD_LN_GAMMA}) AS BIGINT) AS bucket,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM x GROUP BY 1, 2),
merged AS (
  SELECT bucket, CAST(SUM(c) AS BIGINT) AS c FROM sub GROUP BY bucket),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM merged),
cum AS (
  SELECT a.bucket, CAST(SUM(b.c) AS BIGINT) AS cum_c
  FROM merged a JOIN merged b ON b.bucket <= a.bucket
  GROUP BY a.bucket),
qs AS (SELECT unnest(CAST([0.5, 0.9, 0.99] AS DOUBLE[])) AS q),
tgt AS (
  SELECT q, CAST(CEIL(q * n) AS BIGINT) AS target, n
  FROM qs CROSS JOIN tot),
pick AS (
  SELECT t.q, t.target, t.n, MIN(c.bucket) AS bucket
  FROM tgt t JOIN cum c ON c.cum_c >= t.target
  GROUP BY t.q, t.target, t.n),
ex AS (
  SELECT t.q AS q, v AS exact_v
  FROM (SELECT v, o_orderkey,
               ROW_NUMBER() OVER (ORDER BY v, o_orderkey) AS rk
        FROM x) r
  JOIN tgt t ON r.rk = t.target)
SELECT p.q, p.n AS n_rows, p.bucket,
       ROUND(2.0 * power({_DD_GAMMA}, p.bucket) / ({_DD_GAMMA} + 1.0), 9)
         AS dd_estimate,
       ROUND(ex.exact_v, 9) AS exact_value,
       ROUND(ABS(2.0 * power({_DD_GAMMA}, p.bucket) / ({_DD_GAMMA} + 1.0)
                 - ex.exact_v) / ex.exact_v, 9) AS rel_err,
       (ABS(2.0 * power({_DD_GAMMA}, p.bucket) / ({_DD_GAMMA} + 1.0)
            - ex.exact_v) / ex.exact_v) < 0.02 AS within_alpha
FROM pick p JOIN ex ON ex.q = p.q
"""


@register("sketch_ddsketch_quantiles", oracle=_DDSKETCH_SQL)
def q_sketch_ddsketch_quantiles(spark, sf_dir):
    """DDSketch quantiles with a 2% RELATIVE-error guarantee: each price
    maps to log-bucket ceil(ln(x)/ln(γ)), γ = 1.02; per-month
    sub-sketches MERGE by bucket-count addition (the property that makes
    this the production quantile sketch — equidepth histograms don't
    merge); the q-quantile reads the first bucket whose cumulative count
    reaches ⌈q·n⌉ and estimates 2γ^b/(γ+1). Verified in-query against
    the EXACT quantile (two-phase rank, `operators.ranks.ranked`) with
    the relative error shown.

    Determinism: ln(γ) is a shared PRECOMPUTED literal so the only
    per-row libm call is ln(x) (bucket-edge ulp flips need a price
    within one ulp of an irrational γ^k — no decimal price is); the
    cumulative walk is exact BIGINT via a bounded bucket×bucket
    spine join (≈600² rows — no global window); estimates round at
    output. At 100 TB the sub-sketch rollup is ONE map-side-combinable
    shuffle and the sketch itself is ≤ ~600 rows per partition-group —
    KB-sized, broadcastable, mergeable across days/files/clusters.
    """
    o = load_table(spark, sf_dir, "orders")
    x = o.select(
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias(
            "mth"
        ),
        F.col("o_totalprice").cast("double").alias("v"),
        "o_orderkey",
    )
    sub = x.groupBy(
        "mth",
        F.ceil(F.log("v") / F.lit(float(_DD_LN_GAMMA))).cast("long").alias(
            "bucket"
        ),
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    merged = sub.groupBy("bucket").agg(F.sum("c").cast("long").alias("c"))
    tot = merged.agg(F.sum("c").cast("long").alias("n"))
    a = merged.select(F.col("bucket").alias("ba"))
    cum = (
        a.join(merged, F.col("bucket") <= F.col("ba"))
        .groupBy("ba")
        .agg(F.sum("c").cast("long").alias("cum_c"))
        .withColumnRenamed("ba", "bucket")
    )
    qs = spark.createDataFrame([(0.5,), (0.9,), (0.99,)], "q double")
    tgt = qs.crossJoin(F.broadcast(tot)).select(
        "q", F.ceil(F.col("q") * F.col("n")).cast("long").alias("target"), "n"
    )
    pick = (
        tgt.join(cum, F.col("cum_c") >= F.col("target"))
        .groupBy("q", "target", "n")
        .agg(F.min("bucket").alias("bucket"))
    )
    rk = ranked(x, F.col("v"), [F.col("v"), F.col("o_orderkey")], rank_col="rk")
    ex = rk.join(F.broadcast(tgt.select(F.col("q").alias("_q"), "target")),
                 F.col("rk") == F.col("target")).select(
        F.col("_q").alias("q_ex"), F.col("v").alias("exact_v")
    )
    gamma = float(_DD_GAMMA)
    est = 2.0 * F.pow(F.lit(gamma), F.col("bucket")) / F.lit(gamma + 1.0)
    rel = F.abs(est - F.col("exact_v")) / F.col("exact_v")
    return pick.join(ex, F.col("q") == F.col("q_ex")).select(
        "q",
        F.col("n").alias("n_rows"),
        "bucket",
        F.round(est, 9).alias("dd_estimate"),
        F.round("exact_v", 9).alias("exact_value"),
        F.round(rel, 9).alias("rel_err"),
        (rel < 0.02).alias("within_alpha"),
    )
