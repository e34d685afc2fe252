"""Layer H text analysis + dedup over `documents` (SURVEY.md §2.H, [B:6]).

LLM-training-pipeline operators: tokenization, TF-IDF, language ID,
quality scoring, fingerprinting, exact + n-gram-Jaccard dedup. Everything
here is native Spark SQL expressions / higher-order functions — zero Python
UDFs — so the hot path stays inside whole-stage codegen at 100 TB.

Parity notes: token splitting is a single-space split in both engines;
transcendentals (ln) are rounded to 9 decimals to absorb last-ulp libm
differences; ratios are single double divisions (deterministic).
"""

from __future__ import annotations

import os

from pyspark.sql import Window
from pyspark.sql import functions as F

from dataframe_differ_spark.operators.dedup import (
    connected_components,
    exact_dedup,
    minhash_dedup,
    shingles,
    simhash_dedup,
)
from dataframe_differ_spark.operators.textquality import (
    language_id,
    quality_features,
    rolling_fingerprint,
    token_counts,
)
from dataframe_differ_spark.queries import register
from dataframe_differ_spark.tables import load_table


def _tokens(col="text"):
    return F.split(F.col(col), " ")


# --------------------------------------------------------------------------
# H5: tokenize + token stats
# --------------------------------------------------------------------------


@register(
    "text_tokens",
    oracle="""
SELECT token, COUNT(*) AS occurrences, COUNT(DISTINCT doc_id) AS doc_freq
FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
GROUP BY token
""",
)
def q_text_tokens(spark, sf_dir):
    """H5: explode tokens → corpus term frequencies + document frequencies.

    Scale: explode is pipelined (no shuffle); the single shuffle is the
    groupBy(token) with map-side partial aggregation.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.explode(_tokens()).alias("token"))
        .groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("occurrences"),
            F.countDistinct("doc_id").alias("doc_freq"),
        )
    )


@register(
    "text_tfidf",
    oracle="""
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
             FROM documents),
     tf AS (SELECT doc_id, token, COUNT(*) AS tf
            FROM tok GROUP BY doc_id, token),
     df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY token),
     n AS (SELECT COUNT(*) AS n_docs FROM documents)
SELECT tf.doc_id, tf.token, tf.tf, df.df,
       ROUND(tf.tf * LN(CAST(n.n_docs AS DOUBLE) / df.df), 9) AS tfidf
FROM tf JOIN df ON tf.token = df.token CROSS JOIN n
WHERE tf.tf >= 3
""",
)
def q_text_tfidf(spark, sf_dir):
    """H6: TF-IDF per (doc, term); df table is tiny → broadcast join.

    At 100 TB the df side (vocabulary) stays small relative to the corpus,
    so the tf→df join broadcasts and the corpus shuffles only once (tf
    groupBy). ln() rounded to 9dp for cross-engine libm parity.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(_tokens()).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df = tok.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = docs.count()  # scalar, one tiny job; stable across engines
    return (
        tf.join(F.broadcast(df), "token")
        .filter(F.col("tf") >= 3)
        .select(
            "doc_id",
            "token",
            "tf",
            "df",
            F.round(
                F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 9
            ).alias("tfidf"),
        )
    )


# --------------------------------------------------------------------------
# H: language ID (train-free n-gram/token-profile heuristic)
# --------------------------------------------------------------------------


@register(
    "text_lang_id",
    oracle="""
WITH tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token
             FROM documents),
     freq AS (SELECT lang, token, COUNT(*) AS cnt
              FROM tok GROUP BY lang, token),
     prof AS (SELECT lang, token FROM (
                SELECT lang, token,
                       ROW_NUMBER() OVER (PARTITION BY lang
                                          ORDER BY cnt DESC, token) AS rn
                FROM freq) WHERE rn <= 8),
     dtok AS (SELECT DISTINCT doc_id, token FROM tok),
     scores AS (SELECT d.doc_id, p.lang, COUNT(*) AS hits
                FROM dtok d JOIN prof p ON d.token = p.token
                GROUP BY d.doc_id, p.lang),
     best AS (SELECT doc_id, lang AS predicted_lang FROM (
                SELECT doc_id, lang,
                       ROW_NUMBER() OVER (PARTITION BY doc_id
                                          ORDER BY hits DESC, lang) AS rn
                FROM scores) WHERE rn = 1)
SELECT d.doc_id, d.lang AS true_lang, b.predicted_lang,
       CAST(d.lang = b.predicted_lang AS INTEGER) AS correct
FROM documents d JOIN best b ON d.doc_id = b.doc_id
""",
)
def q_text_lang_id(spark, sf_dir):
    """Language ID via train-free token-profile matching.

    Builds a top-8 token profile per language from the corpus itself, then
    classifies each doc by profile overlap (ties broken lexicographically).
    The profile table is tiny → broadcast; the corpus-side explode+groupBy
    carries the scale. Deterministic end to end, so it gets a full SQL
    oracle — unusual for a classifier, deliberate here.
    """
    # Thin binding over operators.textquality.language_id (round-5
    # extraction); fixture adds the true-label join for the correct flag.
    docs = load_table(spark, sf_dir, "documents")
    best = language_id(docs, "doc_id", "text", "lang", profile_size=8)
    return docs.join(best, "doc_id").select(
        "doc_id",
        F.col("lang").alias("true_lang"),
        "predicted_lang",
        (F.col("lang") == F.col("predicted_lang")).cast("int").alias("correct"),
    )


# --------------------------------------------------------------------------
# H: quality scoring + token counting
# --------------------------------------------------------------------------


@register(
    "text_quality",
    oracle="""
WITH t AS (
  SELECT doc_id, n_chars,
         CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
         CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_distinct,
         len(regexp_extract_all(text, '[a-z]+')) AS n_word_tokens
  FROM documents)
SELECT doc_id, n_tokens, n_distinct,
       ROUND(CAST(n_distinct AS DOUBLE) / n_tokens, 9) AS ttr,
       ROUND(CAST(n_chars AS DOUBLE) / n_tokens, 9) AS avg_token_len,
       CAST(n_tokens >= 20 AND CAST(n_distinct AS DOUBLE) / n_tokens >= 0.3
            AS INTEGER) AS passes_quality
FROM t
""",
)
def q_text_quality(spark, sf_dir):
    """Quality scoring: token counts, type-token ratio, length heuristics.

    Pure per-row expressions — embarrassingly parallel, no shuffle at all;
    at 100 TB this runs at parquet scan speed.
    """
    # Thin binding over operators.textquality.quality_features (round-5
    # extraction); fixture supplies the precomputed n_chars column and the
    # oracle's rounding.
    docs = load_table(spark, sf_dir, "documents")
    return quality_features(docs, "text", chars_col="n_chars").select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        F.round("ttr", 9).alias("ttr"),
        F.round("avg_token_len", 9).alias("avg_token_len"),
        "passes_quality",
    )


@register(
    "text_fingerprint",
    oracle="""
SELECT doc_id,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform(string_split(text, ' '),
                          t -> CAST(length(t) * 131 + ascii(t) AS BIGINT))),
         (acc, x) -> (acc * 31 + x) % 1000000007) AS fingerprint
FROM documents
""",
)
def q_text_fingerprint(spark, sf_dir):
    """Document fingerprint: order-sensitive polynomial rolling hash.

    h = fold(tokens, h*31 + (len*131 + first_char)) mod 1e9+7 — pure
    integer arithmetic, bit-identical across engines, computed with the
    aggregate higher-order function (no UDF). Detects exact and
    prefix-shifted duplicates cheaply at scale.
    """
    # Thin binding over operators.textquality.rolling_fingerprint (round-5
    # extraction).
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", rolling_fingerprint("text").alias("fingerprint")
    )


# --------------------------------------------------------------------------
# H1/H2-adjacent: dedup family
# --------------------------------------------------------------------------


@register(
    "dedup_exact",
    oracle="""
SELECT md5(text) AS text_hash,
       MIN(doc_id) AS canonical_doc_id,
       COUNT(*) AS copies
FROM documents
GROUP BY md5(text)
""",
)
def q_dedup_exact(spark, sf_dir):
    """H1: exact dedup — hash-groupBy on content, min-id canonical.

    The 100 TB shape: shuffle on md5(text) (uniform 128-bit key, no skew),
    map-side combine. Survivors = canonical_doc_id; copies>1 are dups.
    """
    # Thin binding over operators.dedup.exact_dedup (round-5 extraction).
    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup(docs, ["text"], "doc_id", hash_col="text_hash")


@register(
    "dedup_ngram",
    oracle="""
WITH sh AS (
  SELECT doc_id, lang, source,
         list_distinct(list_transform(
           range(1, greatest(len(string_split(text,' ')) - 2, 0) + 1),
           i -> string_split(text,' ')[i] || ' ' ||
                string_split(text,' ')[i+1] || ' ' ||
                string_split(text,' ')[i+2])) AS shingles
  FROM documents),
  tok AS (
  SELECT doc_id, lang, source, len(shingles) AS n_sh,
         unnest(shingles) AS shingle
  FROM sh),
  inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         ANY_VALUE(a.n_sh) AS n_a, ANY_VALUE(b.n_sh) AS n_b,
         COUNT(*) AS inter_n
  FROM tok a JOIN tok b
    ON a.lang = b.lang AND a.source = b.source
   AND a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id)
SELECT doc_a, doc_b,
       ROUND(CAST(inter_n AS DOUBLE) / (n_a + n_b - inter_n), 9) AS jaccard
FROM inter
WHERE CAST(inter_n AS DOUBLE) / (n_a + n_b - inter_n) >= 0.2
""",
)
def q_dedup_ngram(spark, sf_dir):
    """H2-family: 3-gram (shingle) Jaccard near-dup detection, blocked.

    Scalable inverted-index formulation: explode distinct shingles, self
    equi-join on (block, shingle) so candidate pairs exist ONLY for
    documents that actually share a shingle — |A∩B| falls out as the
    pair's match count and |A∪B| = |A|+|B|−|A∩B|. No per-pair array
    intersection, no all-pairs blowup; the shuffle key (shingle) is
    near-uniform. Additional (lang, source) blocking caps hot shingles;
    full MinHash-LSH banding is `dedup_near`.
    """
    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id", "lang", "source", shingles("text", 3).alias("shingles")
    )
    tok = sh.select(
        "doc_id",
        "lang",
        "source",
        F.size("shingles").alias("n_sh"),
        F.explode("shingles").alias("shingle"),
    )
    a = tok.alias("a")
    b = tok.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(
            F.any_value(F.col("a.n_sh")).alias("n_a"),
            F.any_value(F.col("b.n_sh")).alias("n_b"),
            F.count(F.lit(1)).alias("inter_n"),
        )
    )
    jac = F.col("inter_n").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("inter_n")
    )
    return inter.filter(jac >= 0.2).select(
        "doc_a", "doc_b", F.round(jac, 9).alias("jaccard")
    )


@register(
    "text_token_count",
    oracle="""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS INTEGER) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS INTEGER) AS word_tokens,
       CAST(list_sum(list_transform(string_split(text, ' '),
                t -> CAST(ceil(length(t) / 4.0) AS BIGINT))) AS BIGINT) AS bpe_est_tokens
FROM documents
""",
)
def q_text_token_count(spark, sf_dir):
    """Token counting: whitespace split, regex word tokens, and a BPE-ish
    estimate (ceil(len/4) subword pieces per token — the ~4-chars-per-token
    heuristic used for LLM budget estimates). Per-row expressions only."""
    # Thin binding over operators.textquality.token_counts (round-5
    # extraction).
    docs = load_table(spark, sf_dir, "documents")
    return token_counts(docs, "text").select(
        "doc_id", "ws_tokens", "word_tokens", "bpe_est_tokens"
    )


def _with_planted_near_dups(docs):
    """Corpus ∪ truncated copies (drop last 3 tokens) of every 13th doc.

    The corpus has no labeled duplicate pairs (FIXTURES.md), so near-dup
    queries plant their own: doc_id+100000 carries ~95% of the original's
    shingles → Jaccard well above any threshold.
    """
    copies = docs.filter(F.col("doc_id") % 13 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.expr(
            "array_join(slice(split(text, ' '), 1, "
            "greatest(size(split(text, ' ')) - 3, 1)), ' ')"
        ).alias("text"),
    )
    return docs.select("doc_id", "text").unionByName(copies)


def _near_dup_chain_cached(spark, sf_dir):
    """(corpus, pairs) of the %13-planted MinHash chain, built ONCE per
    (session, sf_dir) and shared by every consumer.

    Round-10 consolidation (VERDICT r9 item #1): `dedup_near`,
    `eval_bleu_pairs` and `dedup_cluster_keep_best` each rebuilt the
    identical shingle→signature→band→verify chain (~6–10 s of the bench
    per consumer at sf0.1). The chain is deterministic in (sf_dir,
    params), so the verified-pair table goes through `session_cached`
    like the IVF index (`vectors._ivf_index_cached`): eager
    localCheckpoint, weak session key, first-miss build under the key's
    lock. ``pairs`` carries the UNROUNDED exact Jaccard — consumers
    round or project as their oracles require. At 100 TB this cached
    table is what ``operators.persistence`` kind ``minhash_signatures``
    persists across jobs (the session cache is the within-job half).
    """
    from dataframe_differ_spark.operators.session_cache import session_cached

    def build():
        corpus = _with_planted_near_dups(load_table(spark, sf_dir, "documents"))
        pairs = minhash_dedup(
            corpus,
            "doc_id",
            "text",
            num_perm=12,
            bands=6,
            est_threshold=0.35,
            threshold=0.5,
            out_a="doc_a",
            out_b="doc_b",
        )
        return corpus, pairs

    return session_cached(
        spark, ("near_dup_chain", os.path.abspath(sf_dir)), build
    )


# Portable shingle hash j over the %13 planted corpus: 48 bits of
# md5("j~shingle") — same integer in both engines (round-2 parity device).
_NEAR_HASH = (
    "('0x' || substr(md5(CAST({j} AS VARCHAR) || '~' || {s}), 1, 12))::BIGINT"
)

# Distinct word 3-gram shingles per doc of a `corpus` CTE (doc_id, text).
SQL_SHINGLES_CTE = """sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(string_split(text,' ')) - 2, 0) + 1),
           i -> string_split(text,' ')[i] || ' ' ||
                string_split(text,' ')[i+1] || ' ' ||
                string_split(text,' ')[i+2])) AS shingles
  FROM corpus)"""


# The corpus with planted near-duplicates (every 13th doc re-added as
# doc_id + 100000 minus its last 3 words), and its shingles.
_PLANTED_CORPUS_CTE = """corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id,
         array_to_string(string_split(text, ' ')
           [1:greatest(len(string_split(text, ' ')) - 3, 1)], ' ') AS text
  FROM documents WHERE doc_id % 13 = 0)"""

_PLANTED_SHINGLES_SQL = f"""
WITH {_PLANTED_CORPUS_CTE},
{SQL_SHINGLES_CTE},
"""

_NEAR_SQL = _PLANTED_SHINGLES_SQL + f"""\
shf AS (SELECT doc_id, shingles FROM sh WHERE len(shingles) > 0),
tok AS (SELECT doc_id, unnest(shingles) AS shingle FROM shf),
sigs AS (
  SELECT doc_id, r.j, MIN({_NEAR_HASH.format(j="r.j", s="shingle")}) AS s
  FROM tok CROSS JOIN (SELECT unnest(range(12)) AS j) r
  GROUP BY doc_id, r.j),
bands AS (
  SELECT doc_id, j // 2 AS band,
         string_agg(CAST(s AS VARCHAR), '-' ORDER BY j) AS bkey
  FROM sigs GROUP BY doc_id, j // 2),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
est AS (
  SELECT c.doc_a, c.doc_b
  FROM cand c
  JOIN sigs sa ON sa.doc_id = c.doc_a
  JOIN sigs sb ON sb.doc_id = c.doc_b AND sb.j = sa.j
  GROUP BY c.doc_a, c.doc_b
  HAVING AVG(CASE WHEN sa.s = sb.s THEN 1.0 ELSE 0.0 END) >= 0.35),
pairs AS (
  SELECT e.doc_a, e.doc_b,
         len(list_intersect(sa.shingles, sb.shingles)) AS inter,
         len(sa.shingles) AS n_a, len(sb.shingles) AS n_b
  FROM est e
  JOIN shf sa ON sa.doc_id = e.doc_a
  JOIN shf sb ON sb.doc_id = e.doc_b)
SELECT doc_a, doc_b,
       ROUND(CAST(inter AS DOUBLE) / (n_a + n_b - inter), 9) AS jaccard
FROM pairs
WHERE CAST(inter AS DOUBLE) / (n_a + n_b - inter) >= 0.5
"""


@register("dedup_near", oracle=_NEAR_SQL)
def q_dedup_near(spark, sf_dir):
    """H2: MinHash-LSH near-duplicate text dedup (shingle→minhash→band→join).

    Round-4 re-derivation (verdict item #7): signatures are now PORTABLE
    48-bit md5 minhashes — the device `dedup_minhash_exact` proved — so
    bands, candidates, the estimate prune AND the exact-Jaccard verified
    output all hash-match a full DuckDB oracle (previously rows-only with
    Spark-internal xxhash64; production would swap md5 → xxhash64 for
    speed, a one-expression change that alters no plan shape).

    Pipeline, fully relational (explode + groupBy — no nested-lambda
    chains, which both sidesteps a Spark 4 optimizer bug with lambda alias
    substitution under join pruning AND is the shape that scales):
      1. 3-gram shingles per doc (zip_with over shifted slices, O(n)).
      2. explode → 12 minhash values via groupBy(doc_id, j) min.
      3. 6 bands × 2 rows: band key = joined minhash-pair string; docs
         sharing any band bucket are candidates (S-curve: 98% at j=0.7).
      4. Verification cascade: signature-agreement estimate (≥ 0.35)
         prunes weak candidates BEFORE wide shingle rows enter a join;
         survivors join shingle sets back for exact Jaccard ≥ 0.5.

    Every join is an equi-join on a uniform key; wide shingle rows never
    enter a shuffle. Tests assert planted duplicates are recovered.
    """
    # Thin binding over operators.dedup.minhash_dedup (round-5 extraction):
    # the operator owns the shingle pass, the checkpointed signature build
    # (the persisted index at 100 TB), the banded candidate join, and the
    # estimate→exact verification cascade. Round 10: the chain is built
    # once per (session, sf_dir) and shared with eval_bleu_pairs /
    # dedup_cluster_keep_best (`_near_dup_chain_cached`).
    _corpus, pairs = _near_dup_chain_cached(spark, sf_dir)
    return pairs.withColumn("jaccard", F.round("jaccard", 9))


def sql_md5_int64(col: str) -> str:
    """DuckDB: the first 16 hex chars of md5(col) as a signed BIGINT
    (unsigned parse, wrapped to two's complement via HUGEINT)."""
    return f"""CAST(('0x' || substr(md5({col}), 1, 16))::UBIGINT::HUGEINT
              - CASE WHEN ('0x' || substr(md5({col}), 1, 16))::UBIGINT
                          > 9223372036854775807
                     THEN 18446744073709551616::HUGEINT ELSE 0 END
              AS BIGINT)"""


def sql_simhash_sig_ctes(sig_note: str) -> str:
    """DuckDB CTEs bits → sig: the 64-bit SimHash per doc_id of
    th(doc_id, h), bit 63 spelled as the sign bit; ``sig_note`` opens
    the sig CTE."""
    return f"""bits AS (
  SELECT doc_id, b.b,
         SUM(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS acc
  FROM th CROSS JOIN (SELECT unnest(range(64)) AS b) b
  GROUP BY doc_id, b.b),
sig AS (
{sig_note}  SELECT doc_id,
         CAST(SUM(CASE WHEN acc <= 0 THEN 0
                       WHEN b = 63 THEN (-9223372036854775807 - 1)::HUGEINT
                       ELSE (CAST(1 AS BIGINT) << b)::HUGEINT END)
              AS BIGINT) AS simhash
  FROM bits GROUP BY doc_id),
"""


# 64-bit portable shingle hash (dedup_simhash): 16 hex chars of md5 parsed
# unsigned then wrapped to signed two's-complement — the
# dedup_simhash_portable device, applied at shingle granularity.
_SIMHASH_SQL = _PLANTED_SHINGLES_SQL + f"""\
tok AS (SELECT doc_id, unnest(shingles) AS s FROM sh
        WHERE len(shingles) > 0),
th AS (
  SELECT doc_id,
         {sql_md5_int64('s')} AS h
  FROM tok),
{sql_simhash_sig_ctes("")}banded AS (
  SELECT doc_id, simhash, band.i AS band,
         (simhash >> (band.i * 8)) & 255 AS bkey
  FROM sig CROSS JOIN (SELECT unnest(range(8)) AS i) band),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sa, b.simhash AS sb
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= 16
"""


@register("dedup_simhash", oracle=_SIMHASH_SQL)
def q_dedup_simhash(spark, sf_dir):
    """H2-family: SimHash near-dup detection (64-bit shingle votes).

    Each 3-gram shingle votes ±1 on 64 signature bits; the sign vector is
    the fingerprint. Measured on this corpus: planted truncation dups land
    at hamming 2–18, random pairs at ≥20 — threshold 16. Candidates come
    from banding (8 bands × 8 bits): guaranteed capture of hamming ≤ 7
    plus probabilistic capture above; random pairs collide on a band at
    ~(1/256)·8 so the candidate join stays tiny. The pair stream is
    filtered on hamming BEFORE the distinct-pair shuffle (ids only).

    FULL oracle since round 4 (was rows-only): shingle hashes are 64-bit
    md5 wrapped to signed two's-complement (the dedup_simhash_portable
    device at shingle granularity), so signatures, band buckets,
    candidate pairs and hamming distances all hash-match DuckDB;
    production would swap md5 → xxhash64, one expression, same plan.
    """
    # Thin binding over operators.dedup.simhash_dedup (round-5 extraction):
    # the operator owns the shingle pass, the 64-bit vote aggregation, the
    # band-bucket candidate join and the Hamming verify; this fixture
    # supplies the planted corpus and the oracle's column names.
    corpus = _with_planted_near_dups(load_table(spark, sf_dir, "documents"))
    return simhash_dedup(
        corpus,
        "doc_id",
        "text",
        n_bands=8,
        hamming_threshold=16,
        out_a="doc_a",
        out_b="doc_b",
        out_dist="hamming",
    )


_CC_SQL = """
WITH RECURSIVE
base AS (SELECT doc_id FROM documents WHERE doc_id % 13 = 0),
e AS (
  SELECT doc_id AS src, doc_id + 100000 AS dst FROM base
  UNION ALL
  SELECT doc_id + 100000 AS src, doc_id + 200000 AS dst FROM base
),
und AS (SELECT src, dst FROM e UNION ALL SELECT dst AS src, src AS dst FROM e),
verts AS (
  SELECT DISTINCT v FROM (
    SELECT doc_id AS v FROM documents
    UNION ALL SELECT src AS v FROM e
    UNION ALL SELECT dst AS v FROM e
  )
),
reach(v, label) AS (
  SELECT v, v AS label FROM verts
  UNION
  SELECT und.dst AS v, reach.label
  FROM reach JOIN und ON reach.v = und.src
),
comp AS (SELECT v, MIN(label) AS component_id FROM reach GROUP BY v)
SELECT component_id, COUNT(*) AS cluster_size
FROM comp GROUP BY component_id
HAVING COUNT(*) > 1
"""


@register("dedup_clusters", oracle=_CC_SQL)
def q_dedup_clusters(spark, sf_dir):
    """Duplicate-pair clustering: connected components via min-label
    propagation — the step that turns pairwise near-dup hits into dedup
    groups (keep min-id per component, drop the rest).

    Full oracle (upgraded round 3 from rows-only): min-label propagation
    has a closed form — a vertex's final label is the minimum id reachable
    from it — which DuckDB computes with a recursive CTE (transitive
    closure of (v, reaching-label) pairs, UNION-deduped, then MIN per v).
    The oracle recursion is exponential-state in general graphs but exact
    and tiny on this bounded-diameter edge set; the Spark side remains the
    O(diameter)-round distributed loop that scales.

    Edges: planted duplicate chains doc → copy (+100000) → copy-of-copy
    (+200000), where the 2nd-degree copy is linked only to the 1st — so
    components have diameter 2 and the propagation genuinely iterates.

    Iterative algorithms are the one sanctioned use of a driver-side loop:
    each iteration is a distributed join+aggregate (GraphX/GraphFrames do
    exactly this), the loop runs O(diameter) ≈ a handful of times, and
    convergence is checked with a count. At 100 TB the same loop runs with
    checkpointing every few iterations to cut lineage. No SQL oracle
    (recursion); structure asserted in tests.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    first = docs.filter(F.col("doc_id") % 13 == 0).select(
        F.col("doc_id").alias("src"), (F.col("doc_id") + 100000).alias("dst")
    )
    second = docs.filter(F.col("doc_id") % 13 == 0).select(
        (F.col("doc_id") + 100000).alias("src"),
        (F.col("doc_id") + 200000).alias("dst"),
    )
    edges = first.unionByName(second)
    vertices = (
        docs.select(F.col("doc_id").alias("v"))
        .unionByName(edges.select(F.col("src").alias("v")))
        .unionByName(edges.select(F.col("dst").alias("v")))
        .distinct()
    )
    # Thin binding over operators.dedup.connected_components (round-5
    # extraction): the operator owns the O(diameter) min-label loop with
    # per-round eager localCheckpoint (lineage truncation) and the fail-loud
    # convergence guard; this fixture supplies the planted edge chains and
    # includes isolated docs via the explicit vertex frame.
    labels = connected_components(edges, "src", "dst", vertices=vertices)
    return (
        labels.groupBy("component_id")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .filter(F.col("cluster_size") > 1)
    )


@register(
    "text_bm25",
    oracle="""
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
             FROM documents),
     tf AS (SELECT doc_id, token, CAST(COUNT(*) AS DOUBLE) AS tf
            FROM tok GROUP BY doc_id, token),
     dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl
            FROM documents),
     stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
                      CAST(SUM(len(string_split(text, ' '))) AS DOUBLE)
                        / COUNT(*) AS avgdl
               FROM documents),
     df AS (SELECT token, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df
            FROM tok GROUP BY token)
SELECT tf.doc_id, tf.token,
       ROUND(LN(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
             * (tf.tf * 2.2)
             / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)), 6)
         AS bm25
FROM tf
JOIN df ON tf.token = df.token
JOIN dl ON tf.doc_id = dl.doc_id
CROSS JOIN stats
WHERE tf.tf >= 4
""",
)
def q_text_bm25(spark, sf_dir):
    """BM25 relevance scoring (k1=1.2, b=0.75) — the IR-standard upgrade
    over TF-IDF for retrieval-quality corpus filtering.

    Same plan shape as TF-IDF: one corpus shuffle for tf, broadcast df and
    doc-length tables. The score formula is written with the IDENTICAL
    operation order in both engines (one ln, rounded to 6 dp). The corpus
    stats (n_docs, avgdl) stay IN the plan as a broadcast 1-row crossJoin
    — round 1 collect()ed them to the driver, which forced an eager job
    per call and broke laziness for two scalars.
    """
    from dataframe_differ_spark.operators.textquality import bm25_scores

    docs = load_table(spark, sf_dir, "documents")
    return bm25_scores(
        docs, "doc_id", "text", k1=1.2, b=0.75, min_tf=4, round_dp=6
    )


@register(
    "dedup_containment",
    oracle="""
WITH tokset AS (
  SELECT doc_id, lang, source,
         len(list_distinct(string_split(text, ' '))) AS n_tok,
         unnest(list_distinct(string_split(text, ' '))) AS token
  FROM documents),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         ANY_VALUE(a.n_tok) AS n_a, ANY_VALUE(b.n_tok) AS n_b,
         COUNT(*) AS inter_n
  FROM tokset a JOIN tokset b
    ON a.lang = b.lang AND a.source = b.source
   AND a.token = b.token AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id)
SELECT doc_a, doc_b,
       ROUND(CAST(inter_n AS DOUBLE) / LEAST(n_a, n_b), 9) AS containment
FROM inter
WHERE CAST(inter_n AS DOUBLE) / LEAST(n_a, n_b) >= 0.9
""",
)
def q_dedup_containment(spark, sf_dir):
    """H2-family: containment near-dup detection (subset/truncation dups).

    Jaccard misses truncation duplicates (a 10% prefix of a doc has tiny
    Jaccard but containment 1.0) — containment |A∩B| / min(|A|,|B|)
    catches them. Same relational shape as `dedup_ngram`: distinct
    unigrams, (lang, source)-blocked token equi-join, grouped
    intersection counts — explode + groupBy, no HOF lambdas, one
    shuffle on the token join key.

    Scale path, measured honestly (10× probe): on duplicate-DENSE
    corpora the candidate set is output-bound (every true pair must be
    emitted — quadratic in copies per dup group), so PPJoin-style
    prefix filtering (join only each doc's ⌊(1−τ)|d|⌋+1 rarest tokens
    against full token sets; lossless for overlap ≥ τ·min) adds a df
    ranking + verification join without shrinking anything — we
    benchmarked both and kept the direct join. On realistic SPARSE-dup
    100 TB corpora the prefix form wins and drops in here unchanged;
    hot tokens would additionally get a band-hash salt.
    """
    docs = load_table(spark, sf_dir, "documents")
    tokset = docs.select(
        "doc_id",
        "lang",
        "source",
        F.explode(F.array_distinct(F.split("text", " "))).alias("token"),
    ).join(
        docs.select(
            F.col("doc_id").alias("doc_id2"),
            F.size(F.array_distinct(F.split("text", " "))).alias("n_tok"),
        ),
        F.col("doc_id") == F.col("doc_id2"),
    ).drop("doc_id2")
    a = tokset.select(
        F.col("doc_id").alias("doc_a"), "lang", "source", "token",
        F.col("n_tok").alias("n_a"),
    )
    b = tokset.select(
        F.col("doc_id").alias("doc_b"), "lang", "source", "token",
        F.col("n_tok").alias("n_b"),
    )
    inter = (
        a.join(b, ["lang", "source", "token"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.any_value("n_a").alias("n_a"),
            F.any_value("n_b").alias("n_b"),
            F.count(F.lit(1)).alias("inter_n"),
        )
    )
    cont = F.col("inter_n").cast("double") / F.least("n_a", "n_b")
    return (
        inter.filter(cont >= 0.9)
        .select("doc_a", "doc_b", F.round(cont, 9).alias("containment"))
    )


@register(
    "text_keywords",
    oracle="""
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
             FROM documents),
     tf AS (SELECT doc_id, token, COUNT(*) AS tf
            FROM tok GROUP BY doc_id, token),
     df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY token),
     n AS (SELECT COUNT(*) AS n_docs FROM documents),
     scored AS (
       SELECT tf.doc_id, tf.token,
              ROUND(tf.tf * LN(CAST(n.n_docs AS DOUBLE) / df.df), 9) AS tfidf
       FROM tf JOIN df ON tf.token = df.token CROSS JOIN n),
     ranked AS (
       SELECT doc_id, token, tfidf,
              ROW_NUMBER() OVER (PARTITION BY doc_id
                                 ORDER BY tfidf DESC, token) AS rk
       FROM scored)
SELECT doc_id, CAST(rk AS INT) AS rk, token, tfidf
FROM ranked WHERE rk <= 3
""",
)
def q_text_keywords(spark, sf_dir):
    """Keyword extraction: top-3 TF-IDF terms per document.

    The TF-IDF scoring plan (corpus shuffle on (doc, token), broadcast
    vocabulary join) plus a per-doc top-k window — ranked on the ROUNDED
    score so the cross-engine ln() ulp can't reorder near-ties, with the
    token itself as the final tie-break. Per-doc partitions keep the
    window shuffle aligned with the tf aggregate's (both hash doc_id —
    Catalyst reuses the partitioning, no second exchange).
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(_tokens()).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df = tok.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = docs.count()
    scored = tf.join(F.broadcast(df), "token").select(
        "doc_id",
        "token",
        F.round(
            F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 9
        ).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "token")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "rk", "token", "tfidf")
    )


_PARA_DEDUP_SQL = """
WITH chunks AS (
  SELECT doc_id, UNNEST(
           list_transform(generate_series(0,
               (GREATEST(len(string_split(text, ' ')) - 40, 0) + 29) // 30),
             c -> array_to_string(
                    string_split(text, ' ')[c * 30 + 1 : c * 30 + 40], ' ')))
           AS chunk_text
  FROM documents),
hashed AS (SELECT doc_id, md5(chunk_text) AS h FROM chunks),
dups AS (
  SELECT h, COUNT(*) AS n_copies,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM hashed GROUP BY h HAVING COUNT(DISTINCT doc_id) > 1)
SELECT h AS chunk_hash, n_copies, n_docs
FROM dups
"""


@register("dedup_paragraph", oracle=_PARA_DEDUP_SQL)
def q_dedup_paragraph(spark, sf_dir):
    """Paragraph/chunk-level exact dedup (the C4 / RefinedWeb step that
    document-level dedup misses).

    Boilerplate repeats INSIDE otherwise-unique documents, so the unit of
    dedup drops to the chunk: re-chunk every document (same 40/30 windows
    as `doc_chunking`), hash each chunk canonically, and keep hashes seen
    in more than one document. The shuffle key is the 128-bit chunk hash
    — uniformly distributed by construction, no skew, and the map side
    sends (hash, doc_id) pairs only (never chunk text). At 100 TB this is
    THE scalable formulation: constant-width shuffle rows and a
    combinable distinct-count per hash. Output is the duplicate-chunk
    catalog (hash, total copies, distinct docs) a cleaning pass would
    anti-join against.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("t")).withColumn(
        "n_chunks",
        F.lit(1) + F.expr("(greatest(size(t) - 40, 0) + 29) div 30").cast("int"),
    )
    chunks = toks.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.col("n_chunks") - 1)).alias("ci"),
        "t",
    ).select(
        "doc_id",
        F.md5(F.array_join(F.slice("t", F.col("ci") * 30 + 1, F.lit(40)), " ")).alias("h"),
    )
    return (
        chunks.groupBy("h")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .filter(F.col("n_docs") > 1)
        .select(F.col("h").alias("chunk_hash"), "n_copies", "n_docs")
    )


# --------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer, Wilkerson, Aiken 2003 — the MOSS
# algorithm): sampled local fingerprints with a coverage guarantee.
# --------------------------------------------------------------------------

_WIN_K = 4  # tokens per k-gram
_WIN_W = 4  # k-gram hashes per winnowing window
_WIN_BOILER = (
    "this document is provided as is without warranty of any kind "
    "redistribution permitted with attribution only"
)  # 16 tokens planted on every 9th doc so shared fingerprints provably exist

_WINNOW_SQL = f"""
WITH corpus AS (
  SELECT doc_id,
         CASE WHEN doc_id % 9 = 0 THEN text || ' ' || '{_WIN_BOILER}'
              ELSE text END AS text
  FROM documents),
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
grams AS (
  SELECT doc_id, i - 1 AS pos,
         ('0x' || substr(md5(array_to_string(t[i:i + {_WIN_K - 1}], ' ')),
                         1, 12))::BIGINT AS h
  FROM toks,
       unnest(range(1, greatest(len(t) - {_WIN_K - 1}, 0) + 1)) AS u(i)),
mins AS (
  SELECT doc_id, pos AS q,
         MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN {_WIN_W - 1} PRECEDING AND CURRENT ROW)
           AS hmin
  FROM grams),
members AS (
  SELECT m.doc_id, m.q, m.hmin, m.q - j.j AS p
  FROM mins m CROSS JOIN (SELECT unnest(range({_WIN_W})) AS j) j
  WHERE m.q >= {_WIN_W - 1}),
selq AS (
  SELECT mem.doc_id, mem.q, mem.hmin, MAX(mem.p) AS sel_pos
  FROM members mem
  JOIN grams g ON g.doc_id = mem.doc_id AND g.pos = mem.p
  WHERE g.h = mem.hmin
  GROUP BY mem.doc_id, mem.q, mem.hmin),
sel AS (SELECT DISTINCT doc_id, sel_pos, hmin AS fingerprint FROM selq),
shared AS (
  SELECT fingerprint,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
         CAST(COUNT(*) AS BIGINT) AS n_occurrences,
         MIN(doc_id) AS first_doc
  FROM sel GROUP BY fingerprint
  HAVING COUNT(DISTINCT doc_id) > 1)
SELECT fingerprint, n_docs, n_occurrences, first_doc FROM shared
"""

@register("text_winnowing", oracle=_WINNOW_SQL)
def q_text_winnowing(spark, sf_dir):
    """Winnowing fingerprints (Schleimer et al. 2003, the MOSS device):
    sampled k-gram fingerprints with the guarantee that any shared run of
    at least w + k - 1 tokens shares at least one fingerprint.

    The scale story vs stride-1 window hashing (`dedup_substring_spans`):
    winnowing keeps ~2/(w+1) of the k-gram hashes — here ~40% — so the
    shared-content inverted index shrinks ~2.5× while the detection
    guarantee stays. Per window of w consecutive k-gram hashes the
    MINIMUM is selected (rightmost on ties — robust winnowing, so
    near-identical docs pick identical positions); selections dedupe to
    (doc, pos, hash); one groupBy(hash) shuffle finds cross-doc shares.
    Hashes are portable 48-bit md5 → full oracle. Boilerplate is planted
    on every 9th doc identically in both engines so shared fingerprints
    provably exist. All windows are PARTITIONED by doc — nothing global.
    """
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 9 == 0,
            F.concat(F.col("text"), F.lit(" " + _WIN_BOILER)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    toks = corpus.select("doc_id", F.split("text", " ").alias("t"))
    grams = toks.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, greatest(size(t) - {_WIN_K - 1}, 0)), "
                f"i -> conv(substring(md5(concat_ws(' ', "
                f"slice(t, i, {_WIN_K}))), 1, 12), 16, 10))"
            )
        ).alias("pos", "hs"),
    ).select("doc_id", "pos", F.col("hs").cast("long").alias("h"))
    wf = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-(_WIN_W - 1), Window.currentRow)
    )
    # Rightmost-min selection WITHOUT nested window calls (rejected by
    # DuckDB, ill-defined in Spark): window min per end-position q, then
    # an explicit w-member join back to the gram table picks the max
    # position attaining that min.
    mins = (
        grams.select("doc_id", F.col("pos").alias("q"), F.min("h").over(wf).alias("hmin"))
        .filter(F.col("q") >= _WIN_W - 1)
    )
    members = mins.select(
        "doc_id",
        "q",
        "hmin",
        F.explode(F.sequence(F.lit(0), F.lit(_WIN_W - 1))).alias("j"),
    ).select("doc_id", "q", "hmin", (F.col("q") - F.col("j")).alias("p"))
    selq = (
        members.join(
            grams.select(
                F.col("doc_id").alias("gdoc"),
                F.col("pos").alias("gp"),
                F.col("h"),
            ),
            (F.col("gdoc") == F.col("doc_id")) & (F.col("gp") == F.col("p")),
        )
        .filter(F.col("h") == F.col("hmin"))
        .groupBy("doc_id", "q", "hmin")
        .agg(F.max("p").alias("sel_pos"))
    )
    sel = selq.select(
        "doc_id", "sel_pos", F.col("hmin").alias("fingerprint")
    ).distinct()
    return (
        sel.groupBy("fingerprint")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min("doc_id").alias("first_doc"),
        )
        .filter(F.col("n_docs") > 1)
    )


# --------------------------------------------------------------------------
# Greedy subword tokenizer APPLY (the inference half of BPE/WordPiece —
# `bpe_pair_counts` is the training half, `vocab_coverage` the audit)
# --------------------------------------------------------------------------

# Subword vocabulary: corpus head-words plus ALL their prefixes. Prefix
# closure is what makes the incremental extend-while-in-vocab fold EXACT
# greedy maximal munch (longest-match-first), the WordPiece inference rule.
_TOKENIZER_WORDS = [
    "the", "table", "value", "part", "row", "fast", "key", "scan", "slow",
    "hash", "merge", "batch", "spark", "data", "window", "order", "column",
    "agg", "join", "small", "line", "customer", "query", "big", "vector",
    "group", "filter",
]
_TOKENIZER_VOCAB = sorted(
    {w[:i] for w in _TOKENIZER_WORDS for i in range(1, len(w) + 1)}
)
_TOK_VOCAB_SPARK = "array(" + ", ".join(f"'{v}'" for v in _TOKENIZER_VOCAB) + ")"
_TOK_VOCAB_DUCK = "[" + ", ".join(f"'{v}'" for v in _TOKENIZER_VOCAB) + "]"

_TOKENIZE_GREEDY_SQL = f"""
WITH arrs AS (
  SELECT doc_id, string_split(substr(text, 1, 240), ' ') AS arr
  FROM documents),
words AS (
  SELECT doc_id, arr[i + 1] AS w, i AS pos
  FROM arrs CROSS JOIN (SELECT unnest(range(150)) AS i)
  WHERE i < len(arr) AND arr[i + 1] <> ''),
dict AS (
  SELECT w,
         list_reduce(
           list_prepend('', list_transform(range(1, length(w) + 1),
                                           i -> substr(w, i, 1))),
           (st, c) -> CASE
             WHEN st = '' THEN c
             WHEN list_contains({_TOK_VOCAB_DUCK},
                                string_split(st, '|')[-1] || c)
               THEN st || c
             ELSE st || '|' || c END) AS ts
  FROM (SELECT DISTINCT w FROM words)),
tok AS (
  SELECT words.doc_id, words.pos, dict.ts,
         len(string_split(dict.ts, '|')) AS n_sub
  FROM words JOIN dict ON words.w = dict.w)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(n_sub) AS BIGINT) AS n_tokens,
       array_to_string(string_split(
         array_to_string(list(ts ORDER BY pos), '|'), '|')[1:5],
         '/') AS tokens_head
FROM tok GROUP BY doc_id
"""


@register("text_tokenize_greedy", oracle=_TOKENIZE_GREEDY_SQL)
def q_text_tokenize_greedy(spark, sf_dir):
    """Greedy subword tokenization (WordPiece-style maximal munch), no UDFs.

    The APPLY step of a trained subword tokenizer: whitespace pre-split,
    then each word is segmented by longest-match-first against a fixed
    vocabulary. The vocabulary is PREFIX-CLOSED (every prefix of every
    entry is also an entry), which lets greedy maximal munch run as a
    single left-to-right fold: extend the current token while
    (token + next_char) stays in the vocab, else cut. With prefix closure
    the fold's local decision equals the global longest-match answer.

    Scale design — dictionary-encode before tokenizing: the per-char fold
    runs over DISTINCT words only (31 here; bounded by corpus vocabulary,
    not corpus size at 100 TB), then a broadcast join maps words back to
    their cached segmentations. That is exactly how production tokenizer
    pipelines amortize: tokenize the dictionary, not the tokens. The
    naive per-document char fold measured 85x slower at sf0.1.

    Both engines fold char-by-char with identical CASE logic and identical
    vocab literals, so token boundaries, counts, and the head sample all
    hash-match exactly.

    Thin binding over the parametric
    :func:`operators.tokenize.wordpiece_apply` (round-7 extraction) —
    the dictionary-encoded maximal-munch fold lives there, callable with
    any prefix-closed vocabulary.
    """
    from dataframe_differ_spark.operators.tokenize import wordpiece_apply

    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(
            "doc_id",
            F.posexplode(F.split(F.substring("text", 1, 240), " ")).alias(
                "pos", "w"
            ),
        )
        .filter(F.col("w") != "")
    )
    tok = wordpiece_apply(words, "w", _TOKENIZER_VOCAB)
    return tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum("n_sub").alias("n_tokens"),
        F.array_join(
            F.slice(
                F.flatten(
                    F.expr(
                        "transform(array_sort(collect_list(struct(pos, subwords))),"
                        " x -> x.subwords)"
                    )
                ),
                1,
                5,
            ),
            "/",
        ).alias("tokens_head"),
    )


_CHAR_ENTROPY_SQL = """
WITH chars AS (
  SELECT doc_id, substr(text, i + 1, 1) AS ch
  FROM documents CROSS JOIN (SELECT unnest(range(600)) AS i)
  WHERE i < length(text)),
counts AS (
  SELECT doc_id, ch, CAST(COUNT(*) AS BIGINT) AS c
  FROM chars GROUP BY doc_id, ch),
tot AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n,
         CAST(COUNT(*) AS BIGINT) AS n_distinct_chars
  FROM counts GROUP BY doc_id),
terms AS (
  SELECT counts.doc_id, counts.ch, tot.n, tot.n_distinct_chars,
         -((counts.c / CAST(tot.n AS DOUBLE)) *
           log2(counts.c / CAST(tot.n AS DOUBLE))) AS term
  FROM counts JOIN tot ON counts.doc_id = tot.doc_id)
SELECT doc_id, ANY_VALUE(n) AS n_chars_total,
       ANY_VALUE(n_distinct_chars) AS n_distinct_chars,
       ROUND(list_reduce(list_prepend(0.0, list(term ORDER BY ch)),
                         (a, b) -> a + b), 6) AS entropy_bits
FROM terms GROUP BY doc_id
"""


@register("text_char_entropy", oracle=_CHAR_ENTROPY_SQL)
def q_text_char_entropy(spark, sf_dir):
    """Character-distribution Shannon entropy per document (quality filter).

    The information-theoretic cousin of the Gopher repetition rules: very
    low char entropy flags boilerplate / repeated-char junk, very high
    flags binary-ish noise — a standard cheap pre-filter before expensive
    LLM-pipeline stages. One explode -> two hash aggregations, all
    JVM-side; at 100 TB this is a map-side-combinable groupBy on
    (doc_id, ch) whose key space is |docs| x |alphabet|, uniform.

    Parity: counts and totals are exact integers; each term is
    p*log2(p) (one libm call, rounded at the END); the per-doc sum runs
    as a SEQUENTIAL fold in ch order (Spark running-window sum == DuckDB
    list_reduce over an ORDER BY'd list), then rounds to 6 dp to absorb
    last-ulp log2 differences.
    """
    docs = load_table(spark, sf_dir, "documents")
    # Both sides cap at 600 chars (oracle: range(600)) — corpus max is 577,
    # but an asymmetric bound would silently diverge on longer corpora
    # (the text_tokenize_greedy symmetric-cap rule).
    chars = docs.select(
        "doc_id",
        F.explode(F.split(F.substring("text", 1, 600), "")).alias("ch"),
    ).filter(F.col("ch") != "")
    counts = chars.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("c"))
    wdoc = Window.partitionBy("doc_id")
    wrun = (
        Window.partitionBy("doc_id")
        .orderBy("ch")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    p = F.col("c") / F.col("n").cast("double")
    return (
        counts.withColumn("n", F.sum("c").over(wdoc))
        .withColumn("n_distinct_chars", F.count(F.lit(1)).over(wdoc))
        .withColumn("term", -(p * F.log2(p)))
        .withColumn("h", F.sum("term").over(wrun))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy(F.col("ch").desc())
            ),
        )
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("n").alias("n_chars_total"),
            "n_distinct_chars",
            F.round("h", 6).alias("entropy_bits"),
        )
    )


# Shared recursive-CTE text: bounded-hop min-label propagation. Valid in
# BOTH engines (Spark 4 recursive CTEs allow only UNION ALL — SPARK-24497 —
# so dedup-dedup happens at the final MIN, and termination comes from the
# hops bound, not fixpoint detection; the planted chains have diameter 2).
_RCC_BODY = """
WITH RECURSIVE
base AS (SELECT doc_id FROM {docs} WHERE doc_id % 13 = 0),
e AS (
  SELECT doc_id AS src, doc_id + 100000 AS dst FROM base
  UNION ALL
  SELECT doc_id + 100000 AS src, doc_id + 200000 AS dst FROM base
),
und AS (SELECT src, dst FROM e UNION ALL SELECT dst AS src, src AS dst FROM e),
verts AS (
  SELECT DISTINCT v FROM (
    SELECT doc_id AS v FROM {docs}
    UNION ALL SELECT src AS v FROM e
    UNION ALL SELECT dst AS v FROM e
  )
),
reach(v, label, hops) AS (
  SELECT v, v AS label, 0 AS hops FROM verts
  UNION ALL
  SELECT und.dst AS v, reach.label, reach.hops + 1
  FROM reach JOIN und ON reach.v = und.src
  WHERE reach.hops < 2
),
comp AS (SELECT v, MIN(label) AS component_id FROM reach GROUP BY v)
SELECT component_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
FROM comp GROUP BY component_id
HAVING COUNT(*) > 1
"""


@register("sql_recursive_components", oracle=_RCC_BODY.format(docs="documents"))
def q_sql_recursive_components(spark, sf_dir):
    """Spark 4 recursive CTE surface: declarative connected components.

    The declarative twin of `dedup_clusters`: the SAME dedup-group
    semantics (min reachable id per vertex over planted diameter-2
    duplicate chains), but expressed as a single WITH RECURSIVE statement
    that Catalyst executes as an iterative union-loop (SPARK-24497,
    new in Spark 4) instead of a hand-written driver loop. Spark's
    recursion supports only UNION ALL, so the recursion is bounded by a
    hop counter (diameter of the planted chains) and label de-dup happens
    in the final MIN aggregate — duplicated (v, label) rows are harmless
    under MIN. The IDENTICAL statement text runs on DuckDB as the oracle.

    Scale note: each recursion step is one distributed hash join on
    uniform vertex keys (exactly what `dedup_clusters`' explicit loop
    does), so cost is O(diameter) joins; the hops bound is the
    termination guarantee UNION-ALL recursion needs at any scale.
    """
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents_rcc_v"
    )
    return spark.sql(_RCC_BODY.format(docs="documents_rcc_v"))


_FEATURE_HASH_SQL = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
h AS (
  SELECT doc_id,
         ('0x' || substr(md5(t), 1, 12))::BIGINT AS hv
  FROM toks WHERE t <> ''),
feat AS (
  SELECT doc_id, hv % 64 AS dim,
         CASE WHEN (hv // 64) % 2 = 0 THEN 1 ELSE -1 END AS sign
  FROM h),
acc AS (
  SELECT doc_id, dim, CAST(SUM(sign) AS BIGINT) AS c
  FROM feat GROUP BY doc_id, dim),
nrm AS (
  SELECT doc_id, CAST(SUM(c * c) AS BIGINT) AS n2 FROM acc GROUP BY doc_id)
SELECT acc.doc_id, CAST(acc.dim AS INTEGER) AS dim,
       ROUND(acc.c / sqrt(nrm.n2), 9) AS val
FROM acc JOIN nrm ON acc.doc_id = nrm.doc_id
WHERE acc.c <> 0
"""


@register("text_feature_hash_embed", oracle=_FEATURE_HASH_SQL)
def q_text_feature_hash_embed(spark, sf_dir):
    """Feature-hashing document embeddings (the hashing trick), 64-dim.

    The cheap, training-free text->vector bridge (Weinberger et al. 2009):
    each token hashes to a dimension (48-bit md5 mod 64) with a second
    hash bit supplying a +-1 sign so collisions cancel in expectation;
    the doc vector is the signed count accumulation, L2-normalized. This
    is the embedding stage a pipeline runs BEFORE the vector operators
    (sim_*, dedup_semantic) when no model embeddings exist — at 100 TB
    it is two map-side-combinable hash aggregations on uniform keys
    ((doc, dim), then doc), no shuffle amplification, no UDFs.

    Parity is trivial by construction: accumulations are exact integers
    (no float-order concerns), the norm is one sqrt of an exact integer,
    and each output value is a single IEEE division, rounded at the end.
    Emitted as scalar (doc, dim, val) rows — the sparse representation.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("t")
    ).filter(F.col("t") != "")
    h = toks.select(
        "doc_id",
        F.conv(F.substring(F.md5("t"), 1, 12), 16, 10).cast("long").alias("hv"),
    )
    feat = h.select(
        "doc_id",
        (F.col("hv") % 64).alias("dim"),
        F.when((F.expr("hv div 64") % 2) == 0, 1).otherwise(-1).alias("sign"),
    )
    acc = feat.groupBy("doc_id", "dim").agg(F.sum("sign").alias("c"))
    nrm = acc.groupBy("doc_id").agg(F.sum(F.col("c") * F.col("c")).alias("n2"))
    return (
        acc.join(nrm, "doc_id")
        .filter(F.col("c") != 0)
        .select(
            "doc_id",
            F.col("dim").cast("int").alias("dim"),
            F.round(F.col("c") / F.sqrt("n2"), 9).alias("val"),
        )
    )


# Logistic-regression quality filter: literal weights (a stand-in for a
# model trained offline — fastText/DSIR-style classifier filtering). The
# z expression is written with IDENTICAL literal text in both engines so
# the float ops associate identically; exp() is the single libm call,
# absorbed by the 6-dp round, and the keep threshold compares the ROUNDED
# score so an ulp at the boundary cannot flip engines apart.
_LRQ_Z = (
    "-2.0 + 3.0 * f_div + 0.15 * f_len + 2.0 * f_stop - 1.0 * f_size"
)

def _lr_features_sql(keep: str) -> str:
    """The LR quality scorer's per-doc features (f_div, f_len, f_stop,
    f_size) beside the ``keep`` columns of documents."""
    return f"""
WITH toks AS (
  SELECT {keep}, n_chars,
         list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM documents),
feats AS (
  SELECT {keep},
         CAST(len(list_distinct(t)) AS DOUBLE) / len(t) AS f_div,
         CAST(n_chars AS DOUBLE) / len(t) AS f_len,
         CAST(len(list_filter(t, x -> x = 'the' OR x = 'a')) AS DOUBLE)
           / len(t) AS f_stop,
         CAST(n_chars AS DOUBLE) / 600.0 AS f_size
  FROM toks),
"""


_LR_QUALITY_SQL = _lr_features_sql("doc_id") + f"""scored AS (
  SELECT doc_id, f_div, f_len, f_stop, f_size,
         ROUND(1.0 / (1.0 + exp(-({_LRQ_Z}))), 6) AS q_score
  FROM feats)
SELECT doc_id, ROUND(f_div, 9) AS f_div, ROUND(f_len, 9) AS f_len,
       ROUND(f_stop, 9) AS f_stop, q_score, q_score >= 0.5 AS keep
FROM scored
"""


def _lr_features(spark, sf_dir, key):
    """The LR quality scorer's per-doc features (f_div, f_len, f_stop,
    f_size) beside the ``key`` column of documents."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.expr("filter(split(text, ' '), x -> x != '')")
    return docs.select(
        key,
        (F.size(F.array_distinct(t)).cast("double") / F.size(t)).alias("f_div"),
        (F.col("n_chars").cast("double") / F.size(t)).alias("f_len"),
        (
            F.expr("size(filter(filter(split(text, ' '), x -> x != ''), "
                   "x -> x = 'the' OR x = 'a'))").cast("double")
            / F.size(t)
        ).alias("f_stop"),
        (F.col("n_chars").cast("double") / 600.0).alias("f_size"),
    )


@register("text_quality_classifier_lr", oracle=_LR_QUALITY_SQL)
def q_text_quality_classifier_lr(spark, sf_dir):
    """Classifier-based quality filtering (logistic scorer, literal weights).

    The model-based stage of a pretraining filter stack (after the
    rule-based `text_quality` / Gopher `text_repetition` screens):
    score = sigmoid(w . features) over cheap per-doc features — lexical
    diversity, mean token length, stopword rate, size — with weights as
    literals standing in for an offline-trained classifier (the
    fastText / DSIR pattern). At 100 TB this is one scan with all
    features computed as codegen'd HOFs, no shuffle at all; the keep
    decision pipelines into the next stage. Weights would broadcast if
    they were a real model table.
    """
    feats = _lr_features(spark, sf_dir, "doc_id")
    scored = feats.withColumn(
        "q_score", F.round(F.expr(f"1.0 / (1.0 + exp(-({_LRQ_Z})))"), 6)
    )
    return scored.select(
        "doc_id",
        F.round("f_div", 9).alias("f_div"),
        F.round("f_len", 9).alias("f_len"),
        F.round("f_stop", 9).alias("f_stop"),
        "q_score",
        (F.col("q_score") >= 0.5).alias("keep"),
    )


# Calibration of the LR quality score vs the English label: q_score comes
# from the SAME literal expression chain as text_quality_classifier_lr
# (rounded to 6 dp there, so binning on it is engine-stable), and every
# cross-doc accumulation is a DECIMAL(12,6) sum — exact, order-free — so
# the ECE is a single division of an exact decimal by a BIGINT.
_CALIB_SQL = _lr_features_sql("doc_id, lang") + f"""scored AS (
  SELECT doc_id, lang,
         ROUND(1.0 / (1.0 + exp(-({_LRQ_Z}))), 6) AS q_score
  FROM feats),
binned AS (
  SELECT CAST(LEAST(FLOOR(q_score * 10), 9) AS INTEGER) AS bin,
         CAST(q_score AS DECIMAL(12,6)) AS qd,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM scored),
grp AS (
  SELECT bin, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS p,
         SUM(qd) AS sp
  FROM binned GROUP BY bin),
tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS nt,
         SUM(ABS(sp - CAST(p AS DECIMAL(18,6)))) AS gap_sum
  FROM grp)
SELECT bin, n,
       ROUND(CAST(p AS DOUBLE) / n, 9) AS frac_pos,
       ROUND(CAST(sp AS DOUBLE) / n, 9) AS mean_pred,
       ROUND(CAST(ABS(sp - CAST(p AS DECIMAL(18,6))) AS DOUBLE) / n, 9)
         AS gap,
       ROUND(CAST(gap_sum AS DOUBLE) / nt, 9) AS ece
FROM grp CROSS JOIN tot
"""


@register("eval_calibration_bins", oracle=_CALIB_SQL)
def q_eval_calibration_bins(spark, sf_dir):
    """Reliability table + expected calibration error for the LR score.

    The companion metric to `text_quality_classifier_lr` /
    `eval_auc_score`: per predicted-probability decile, how does the mean
    predicted score compare to the empirical positive rate (English
    label)? ECE is the count-weighted mean absolute gap. The exactness
    device: per-bin score sums accumulate as DECIMAL(12,6) (the 6-dp
    rounded q_score is exactly representable), so sums are order-free
    and ECE = sum_b |sp_b - p_b| / N is exact arithmetic until single
    final divisions. One corpus scan, one 10-row shuffle, a 1-row
    broadcast — nothing grows with data.
    """
    feats = _lr_features(spark, sf_dir, "lang")
    scored = feats.withColumn(
        "q_score", F.round(F.expr(f"1.0 / (1.0 + exp(-({_LRQ_Z})))"), 6)
    )
    from dataframe_differ_spark.operators.evalmetrics import calibration_bins

    cal = calibration_bins(
        scored.select(
            "q_score", F.when(F.col("lang") == "en", 1).otherwise(0).alias("y")
        ),
        "q_score",
        "y",
        n_bins=10,
        score_decimals=6,
    )
    return cal.select(
        "bin",
        "n",
        F.round("frac_pos", 9).alias("frac_pos"),
        F.round("mean_pred", 9).alias("mean_pred"),
        F.round("gap", 9).alias("gap"),
        F.round("ece", 9).alias("ece"),
    )


# ---------------------------------------------------------------------------
# TRAINED quality-filter scorer (round 9, VERDICT r8 item #3): the
# logistic regression is fit IN-ENGINE by deterministic gradient-descent
# folds — `text_quality_classifier_lr` above scores with literal weights;
# these train them. Gradient contributions round to 12 dp and sum as
# DECIMAL(38,12) (order-free), the weight updates are identical double
# expressions in both engines, so the oracle replays training bit-exactly.
# ---------------------------------------------------------------------------

_QLR_FEATURES = ["f_div", "f_len", "f_stop", "f_size"]
_QLR_ITERS = 3
_QLR_LR = 1.0

# Features are CENTERED with literal affine constants (the a-priori
# standardization a production filter ships with its model card): the
# raw ratios all hover near fixed means with small variance, so an
# uncentered GD moves only the bias and the keep decision degenerates to
# the base rate (measured: every sweep configuration scored constant
# keep until centering; 99.2% accuracy with it). Label: the classic
# too-short screen (n_chars >= 300) — the one signal this synthetic
# corpus genuinely carries (lang/source are feature-flat by
# construction, verified per-group means).
_QLR_FEATS_SQL = """
feats AS (
  SELECT doc_id,
         (CAST(len(list_distinct(t)) AS DOUBLE) / len(t) - 0.5) * 10.0
           AS f_div,
         (CAST(n_chars AS DOUBLE) / len(t) - 5.5) * 2.0 AS f_len,
         (CAST(len(list_filter(t, x -> x = 'the' OR x = 'a')) AS DOUBLE)
           / len(t) - 0.06) * 30.0 AS f_stop,
         (CAST(n_chars AS DOUBLE) / 600.0 - 0.5) * 20.0 AS f_size,
         CASE WHEN n_chars >= 300 THEN 1.0 ELSE 0.0 END AS y
  FROM (SELECT doc_id, n_chars,
               list_filter(string_split(text, ' '), x -> x <> '') AS t
        FROM documents)),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM feats),
wi0 AS (SELECT CAST(0.0 AS DOUBLE) AS w0, CAST(0.0 AS DOUBLE) AS w1,
               CAST(0.0 AS DOUBLE) AS w2, CAST(0.0 AS DOUBLE) AS w3,
               CAST(0.0 AS DOUBLE) AS w4)
"""

_QLR_Z_W = (
    "w.w0 + w.w1 * f.f_div + w.w2 * f.f_len + w.w3 * f.f_stop "
    "+ w.w4 * f.f_size"
)


def _qlr_iter_sql(t: int) -> str:
    r = f"1.0 / (1.0 + exp(-({_QLR_Z_W}))) - f.y"
    gs = [f"SUM(CAST(ROUND({r}, 12) AS DECIMAL(38,12))) AS g0"]
    gs += [
        f"SUM(CAST(ROUND(({r}) * f.{c}, 12) AS DECIMAL(38,12))) AS g{j}"
        for j, c in enumerate(_QLR_FEATURES, start=1)
    ]
    gsel = ",\n         ".join(gs)
    ws = ",\n         ".join(
        f"ROUND(w.w{j} - {_QLR_LR} * (CAST(g.g{j} AS DOUBLE) "
        f"/ CAST(n.n AS DOUBLE)), 12) AS w{j}"
        for j in range(5)
    )
    return f"""
g{t} AS (
  SELECT {gsel}
  FROM feats f CROSS JOIN wi{t - 1} w),
wi{t} AS (
  SELECT {ws}
  FROM wi{t - 1} w CROSS JOIN g{t} g CROSS JOIN nn n)"""


_QLR_CHAIN = _QLR_FEATS_SQL + "," + ",".join(
    _qlr_iter_sql(t) for t in range(1, _QLR_ITERS + 1)
)

_QLR_TRAIN_SQL = (
    "WITH " + _QLR_CHAIN + f"""
SELECT 'bias' AS coef, w0 AS weight FROM wi{_QLR_ITERS}
UNION ALL SELECT 'f_div', w1 FROM wi{_QLR_ITERS}
UNION ALL SELECT 'f_len', w2 FROM wi{_QLR_ITERS}
UNION ALL SELECT 'f_stop', w3 FROM wi{_QLR_ITERS}
UNION ALL SELECT 'f_size', w4 FROM wi{_QLR_ITERS}
"""
)

_QLR_SCORE_SQL = (
    "WITH " + _QLR_CHAIN + f"""
SELECT f.doc_id,
       ROUND(1.0 / (1.0 + exp(-({_QLR_Z_W}))), 6) AS q_score,
       ROUND(1.0 / (1.0 + exp(-({_QLR_Z_W}))), 6) >= 0.5 AS keep,
       f.y = 1.0 AS is_long
FROM feats f CROSS JOIN wi{_QLR_ITERS} w
"""
)


def _qlr_feats(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    t = F.expr("filter(split(text, ' '), x -> x != '')")
    return docs.select(
        "doc_id",
        (
            (F.size(F.array_distinct(t)).cast("double") / F.size(t) - 0.5)
            * 10.0
        ).alias("f_div"),
        ((F.col("n_chars").cast("double") / F.size(t) - 5.5) * 2.0).alias(
            "f_len"
        ),
        (
            (
                F.expr("size(filter(filter(split(text, ' '), x -> x != ''), "
                       "x -> x = 'the' OR x = 'a'))").cast("double")
                / F.size(t)
                - 0.06
            )
            * 30.0
        ).alias("f_stop"),
        ((F.col("n_chars").cast("double") / 600.0 - 0.5) * 20.0).alias(
            "f_size"
        ),
        F.when(F.col("n_chars") >= 300, 1.0).otherwise(0.0).alias("y"),
    )


def _qlr_model_cached(spark, sf_dir):
    """(feats, weights) of the quality-LR model, built ONCE per
    (session, sf_dir): `quality_lr_train`, `quality_lr_score` and
    `quality_lr_persisted` all train the IDENTICAL model on the same
    feature frame (round-10 session-cache application)."""
    from dataframe_differ_spark.operators.session_cache import session_cached
    from dataframe_differ_spark.operators.stats import train_logreg

    def build():
        feats = _qlr_feats(spark, sf_dir)
        weights = train_logreg(
            feats, _QLR_FEATURES, "y", iters=_QLR_ITERS, lr=_QLR_LR
        )
        return feats, weights

    return session_cached(
        spark, ("qlr_model", os.path.abspath(sf_dir)), build
    )


@register("quality_lr_train", oracle=_QLR_TRAIN_SQL)
def q_quality_lr_train(spark, sf_dir):
    """TRAIN the model-based quality filter in-engine: full-batch
    gradient descent on sigmoid loss over the same four per-doc features
    `text_quality_classifier_lr` scores with literal weights — the
    missing train half of the fastText/DSIR-style filter stage. Label:
    the too-short screen (n_chars >= 300), the one signal this synthetic
    corpus carries; features are literal-affine centered (see
    _QLR_FEATS_SQL) — uncentered, GD degenerates to the base rate.

    3 unrolled iterations from w = 0, lr = 1.0; each iteration is one
    map-side-combinable aggregate over the feature scan with the weight
    vector riding a broadcast — nothing collected, any corpus size.
    Weights ship rounded to 12 dp — `train_logreg` re-rounds the CARRIED
    weights after every update (including the last) so each iteration
    restarts from a bit-identical state in both engines; without it a
    1-ulp libm exp() divergence compounds across iterations (the r9
    sf0.1 cascade). The oracle ROUNDs identically, so the 12-dp weights
    ARE the determinism device, not a presentation choice. Full oracle:
    the identical GD chain as SQL CTEs, DECIMAL(38,12) gradient sums
    replayed exactly.
    Thin binding over :func:`operators.stats.train_logreg`.
    """
    _feats, weights = _qlr_model_cached(spark, sf_dir)
    return weights


@register("quality_lr_score", oracle=_QLR_SCORE_SQL)
def q_quality_lr_score(spark, sf_dir):
    """SCORE every document with the in-engine-TRAINED quality filter
    (`quality_lr_train` weights, not literals): per doc the rounded
    sigmoid score, the keep decision at 0.5, and the training label —
    completing the canonical clean→dedup→FILTER→mix→pack pipeline with
    a trained (not hand-set) model stage.

    Train and score share one lazy plan: the 5-row weight table pivots
    into a broadcast row (:func:`operators.stats.logreg_score`), so
    scoring is a map-only column expression over the feature scan — at
    100 TB the filter adds zero shuffles to the pipeline it gates. The
    keep threshold compares the ROUNDED score (the
    `text_quality_classifier_lr` convention) so a boundary ulp cannot
    flip engines apart.
    """
    from dataframe_differ_spark.operators.stats import logreg_score

    feats, weights = _qlr_model_cached(spark, sf_dir)
    scored = logreg_score(
        feats, weights, _QLR_FEATURES, score_col="q_score", score_dp=6
    )
    return scored.select(
        "doc_id",
        "q_score",
        (F.col("q_score") >= 0.5).alias("keep"),
        (F.col("y") == 1.0).alias("is_long"),
    )


@register("quality_lr_persisted", oracle=_QLR_SCORE_SQL)
def q_quality_lr_persisted(spark, sf_dir):
    """`quality_lr_score` through the persistence layer: the trained
    weight table is SAVED (`save_artifact`, kind ``logreg_weights``,
    params carrying the feature ORDER — scoring with re-ordered features
    would silently mis-apply every coefficient, so load refuses a
    param-less artifact), RELOADED fresh, and scoring runs off the
    loaded frame using the STORED feature list. Same oracle as
    `quality_lr_score` — save → load must be identity on the model.

    The train-once-score-everywhere shape: training's 3 aggregate scans
    run in the producing job only; every consumer loads a 5-row parquet.
    """
    from dataframe_differ_spark.operators.persistence import (
        load_artifact,
        run_scoped_artifact_path,
        save_artifact,
    )
    from dataframe_differ_spark.operators.stats import logreg_score

    feats, weights = _qlr_model_cached(spark, sf_dir)
    path = run_scoped_artifact_path("qlr", sf_dir)
    save_artifact(
        weights,
        path,
        "logreg_weights",
        params={"features": _QLR_FEATURES, "iters": _QLR_ITERS, "lr": _QLR_LR},
    )
    art = load_artifact(spark, path, "logreg_weights")
    scored = logreg_score(
        feats, art.df, art.params["features"], score_col="q_score", score_dp=6
    )
    return scored.select(
        "doc_id",
        "q_score",
        (F.col("q_score") >= 0.5).alias("keep"),
        (F.col("y") == 1.0).alias("is_long"),
    )


# ---------------------------------------------------------------------------
# Zipf exponent fit over the token frequency curve
# ---------------------------------------------------------------------------

_ZIPF_SQL = """
WITH cnt AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS n FROM (
    SELECT unnest(string_split(text, ' ')) AS token FROM documents)
  GROUP BY token),
top AS (
  SELECT token, n,
         CAST(ROW_NUMBER() OVER (ORDER BY n DESC, token) AS BIGINT) AS rank
  FROM cnt ORDER BY n DESC, token LIMIT 1000),
xy AS (
  SELECT rank, ROUND(ln(CAST(rank AS DOUBLE)), 9) AS x,
         ROUND(ln(CAST(n AS DOUBLE)), 9) AS y
  FROM top),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(CAST(x AS DECIMAL(28,9))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(28,9))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(ROUND(x * x, 12) AS DECIMAL(28,12))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(ROUND(x * y, 12) AS DECIMAL(28,12))) AS DOUBLE) AS sxy
  FROM xy)
SELECT k AS n_tokens_fit,
       ROUND(-((k * sxy - sx * sy) / (k * sxx - sx * sx)), 6) AS zipf_alpha,
       ROUND((sy - ((k * sxy - sx * sy) / (k * sxx - sx * sx)) * sx) / k, 6)
         AS log_c
FROM s
"""


def _loglog_ols(xy):
    """Exact least squares of y on x over ``xy``: the 1-row sums frame
    (k, sx, sy, sxx, sxy; DECIMAL-summed, products rounded to 12 dp)
    and the slope and intercept columns over it."""
    s = xy.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum(F.col("x").cast("decimal(28,9)")).cast("double").alias("sx"),
        F.sum(F.col("y").cast("decimal(28,9)")).cast("double").alias("sy"),
        F.sum(F.round(F.col("x") * F.col("x"), 12).cast("decimal(28,12)"))
        .cast("double")
        .alias("sxx"),
        F.sum(F.round(F.col("x") * F.col("y"), 12).cast("decimal(28,12)"))
        .cast("double")
        .alias("sxy"),
    )
    k = F.col("k")
    slope = (k * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        k * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s, slope, (F.col("sy") - slope * F.col("sx")) / k


@register("text_zipf_alpha", oracle=_ZIPF_SQL)
def q_text_zipf_alpha(spark, sf_dir):
    """Zipf exponent of the corpus token distribution: OLS of ln(count) on
    ln(rank) over the top-1000 tokens — alpha ≈ 1 is the natural-language
    signature, and the fit is the one-number summary tokenizer/mixture
    design reads off the `vocab_coverage` curve.

    Parity devices: per-term ln rounded to 9 dp (libm ulp absorber), x·x /
    x·y products rounded to 12 dp and DECIMAL-summed (order-free), the
    slope/intercept as one fixed IEEE chain on the 1-row sums, outputs at
    6 dp. Plan: one token-count shuffle (map-side combined to vocabulary
    size), top-1000 via TakeOrdered, residual rank window over the 1000
    survivors (whitelisted bounded global window, the vocab_coverage
    device), one 1-row aggregate.
    """
    docs = load_table(spark, sf_dir, "documents")
    cnt = (
        docs.select(F.explode(_tokens()).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    top = (
        cnt.orderBy(F.col("n").desc(), "token")
        .limit(1000)
        .withColumn(
            "rank",
            F.row_number()
            .over(Window.orderBy(F.col("n").desc(), "token"))
            .cast("long"),
        )
    )
    xy = top.select(
        F.round(F.log(F.col("rank").cast("double")), 9).alias("x"),
        F.round(F.log(F.col("n").cast("double")), 9).alias("y"),
    )
    s, slope, log_icpt = _loglog_ols(xy)
    return s.select(
        F.col("k").alias("n_tokens_fit"),
        F.round(-slope, 6).alias("zipf_alpha"),
        F.round(log_icpt, 6).alias("log_c"),
    )


# ---------------------------------------------------------------------------
# Cross-split n-gram novelty (memorization screen) — round 6
# ---------------------------------------------------------------------------

_NOVELTY_SQL = """
WITH sp AS (
  SELECT doc_id, source, text,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 1))::BIGINT < 12
           AS is_train
  FROM documents),
tri AS (
  SELECT source, is_train,
         unnest(list_distinct(list_transform(
           range(1, greatest(len(string_split(text, ' ')) - 2, 0) + 1),
           i -> string_split(text, ' ')[i] || ' ' ||
                string_split(text, ' ')[i + 1] || ' ' ||
                string_split(text, ' ')[i + 2]))) AS g
  FROM sp),
train_set AS (SELECT DISTINCT g FROM tri WHERE is_train),
hold AS (SELECT DISTINCT source, g FROM tri WHERE NOT is_train),
novel AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_novel
  FROM hold WHERE g NOT IN (SELECT g FROM train_set) GROUP BY source),
per AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_holdout_ngrams
  FROM hold GROUP BY source)
SELECT per.source, n_holdout_ngrams,
       CAST(COALESCE(n_novel, 0) AS BIGINT) AS n_novel,
       ROUND(CAST(COALESCE(n_novel, 0) AS DOUBLE) / n_holdout_ngrams, 9)
         AS novelty
FROM per LEFT JOIN novel ON novel.source = per.source
"""


@register("text_ngram_novelty", oracle=_NOVELTY_SQL)
def q_text_ngram_novelty(spark, sf_dir):
    """Cross-split trigram novelty per source — the memorization screen.

    The eval-design question behind every held-out benchmark: how much of
    the holdout's n-gram space already appears in training data? Low
    novelty = the holdout is effectively memorizable; per-source rates
    show which corpora leak. A pure composition of two library operators:
    `pipeline.hash_split` (deterministic md5 split, 12/16 train) and
    `dedup.shingles` (one-pass zip_with trigrams), then novelty =
    |holdout trigrams \\ train trigrams| / |holdout trigrams| via one
    distinct + one left-anti join on the trigram key — the
    `contamination_check` shape pointed inward at the corpus itself.
    At 100 TB both sides shuffle once on the uniform trigram hash; the
    anti join is the decontamination plan, not an all-pairs comparison.
    """
    from dataframe_differ_spark.operators.pipeline import hash_split

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    sp = hash_split(docs, "doc_id", splits=(("train", 12), ("holdout", 4)))
    tri = sp.select(
        "source",
        (F.col("split") == "train").alias("is_train"),
        F.explode(shingles(F.col("text"), 3)).alias("g"),
    )
    train_set = tri.filter(F.col("is_train")).select("g").distinct()
    hold = tri.filter(~F.col("is_train")).select("source", "g").distinct()
    novel = hold.join(train_set, "g", "left_anti")
    per = hold.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_holdout_ngrams")
    )
    nov = novel.groupBy("source").agg(F.count(F.lit(1)).alias("nv"))
    return per.join(nov, "source", "left").select(
        "source",
        "n_holdout_ngrams",
        F.coalesce(F.col("nv"), F.lit(0)).alias("n_novel"),
        F.round(
            F.coalesce(F.col("nv"), F.lit(0)).cast("double")
            / F.col("n_holdout_ngrams"),
            9,
        ).alias("novelty"),
    )


# ---------------------------------------------------------------------------
# Heaps' law: vocabulary growth over corpus prefixes — round 6
# ---------------------------------------------------------------------------

_HEAPS_SQL = """
WITH dd AS (
  SELECT doc_id, CAST(ntile(10) OVER (ORDER BY doc_id) AS INTEGER) AS dec
  FROM documents),
tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
firstd AS (
  SELECT token, MIN(dec) AS fd
  FROM tok JOIN dd USING (doc_id) GROUP BY token),
perd AS (SELECT fd, CAST(COUNT(*) AS BIGINT) AS newt FROM firstd GROUP BY fd),
nd AS (SELECT dec, CAST(COUNT(*) AS BIGINT) AS ndocs FROM dd GROUP BY dec),
cum AS (
  SELECT d.dec,
         CAST((SELECT SUM(n2.ndocs) FROM nd n2 WHERE n2.dec <= d.dec)
              AS BIGINT) AS n_docs_prefix,
         CAST((SELECT COALESCE(SUM(p.newt), 0) FROM perd p
               WHERE p.fd <= d.dec) AS BIGINT) AS vocab_prefix
  FROM nd d),
xy AS (
  SELECT dec, n_docs_prefix, vocab_prefix,
         ROUND(ln(CAST(n_docs_prefix AS DOUBLE)), 9) AS x,
         ROUND(ln(CAST(vocab_prefix AS DOUBLE)), 9) AS y
  FROM cum),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(CAST(x AS DECIMAL(28,9))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(28,9))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(ROUND(x * x, 12) AS DECIMAL(28,12))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(ROUND(x * y, 12) AS DECIMAL(28,12))) AS DOUBLE) AS sxy
  FROM xy)
SELECT xy.dec AS decile, n_docs_prefix, vocab_prefix,
       ROUND((k * sxy - sx * sy) / (k * sxx - sx * sx), 6) AS heaps_beta,
       ROUND((sy - ((k * sxy - sx * sy) / (k * sxx - sx * sx)) * sx) / k, 6)
         AS heaps_logk
FROM xy CROSS JOIN s
"""


@register("text_heaps_law", oracle=_HEAPS_SQL)
def q_text_heaps_law(spark, sf_dir):
    """Heaps' law fit: vocabulary growth V(n) ~ K * n^beta over corpus
    prefixes — the companion curve to `text_zipf_alpha` (the two laws are
    duals) and the number that sizes a tokenizer's vocab budget before
    training: natural text has beta ~ 0.4-0.6; beta near 1 means the
    corpus keeps inventing tokens (noise/IDs), near 0 means it is
    repetitive.

    Prefixes are doc-id deciles via the two-phase bucketed rank +
    ntile_from_rank (never a global ntile window over the corpus —
    DuckDB's window IS the oracle side). Each token charges its FIRST
    decile (min over its docs — monotone in rank, so min(decile) is the
    decile of the first occurrence); V(n_d) is then a 10-row cumulative
    triangle join. The log-log OLS reuses the zipf parity devices:
    per-point ln rounded to 9 dp, products DECIMAL-summed order-free,
    one fixed IEEE chain for slope/intercept. One corpus scan + one
    token shuffle; everything after is 10-row frames.
    """
    from dataframe_differ_spark.operators.ranks import ntile_from_rank, ranked

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    r = ranked(
        docs.select("doc_id"), F.col("doc_id"), ["doc_id"],
        rank_col="rk", n_col="nn",
    )
    dd = r.select(
        "doc_id",
        ntile_from_rank(F.col("rk"), F.col("nn"), 10).cast("int").alias("dec"),
    )
    tok = docs.select("doc_id", F.explode(_tokens()).alias("token")).join(
        dd, "doc_id"
    )
    firstd = tok.groupBy("token").agg(F.min("dec").alias("fd"))
    perd = firstd.groupBy("fd").agg(F.count(F.lit(1)).alias("newt"))
    nd = dd.groupBy("dec").agg(F.count(F.lit(1)).alias("ndocs"))
    lo_d = nd.select(F.col("dec").alias("d2"), F.col("ndocs").alias("nd2"))
    lo_t = perd.select(F.col("fd").alias("d3"), F.col("newt").alias("nt3"))
    cum = (
        nd.join(F.broadcast(lo_d), F.col("d2") <= F.col("dec"))
        .groupBy("dec")
        .agg(F.sum("nd2").alias("n_docs_prefix"))
        .join(F.broadcast(lo_t), F.col("d3") <= F.col("dec"), "left")
        .groupBy("dec", "n_docs_prefix")
        .agg(F.coalesce(F.sum("nt3"), F.lit(0)).alias("vocab_prefix"))
    )
    xy = cum.select(
        "dec",
        "n_docs_prefix",
        "vocab_prefix",
        F.round(F.log(F.col("n_docs_prefix").cast("double")), 9).alias("x"),
        F.round(F.log(F.col("vocab_prefix").cast("double")), 9).alias("y"),
    ).localCheckpoint(eager=False)
    s, slope, log_icpt = _loglog_ols(xy)
    return xy.crossJoin(F.broadcast(s)).select(
        F.col("dec").alias("decile"),
        "n_docs_prefix",
        "vocab_prefix",
        F.round(slope, 6).alias("heaps_beta"),
        F.round(log_icpt, 6).alias("heaps_logk"),
    )


# ---------------------------------------------------------------------------
# Simpson lexical concentration per document (round 7)
# ---------------------------------------------------------------------------

_SIMPSON_SQL = """
WITH tok AS (
  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> ''))
           AS token
  FROM documents),
cnt AS (
  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS c
  FROM tok GROUP BY doc_id, token),
per AS (
  SELECT doc_id,
         CAST(SUM(c) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_types,
         CAST(SUM(c * (c - 1)) AS BIGINT) AS rep2
  FROM cnt GROUP BY doc_id)
SELECT doc_id, n_tokens, n_types,
       ROUND(CAST(rep2 AS DOUBLE) / (n_tokens * (n_tokens - 1)), 9)
         AS simpson_index,
       ROUND(1.0 - CAST(rep2 AS DOUBLE) / (n_tokens * (n_tokens - 1)), 9)
         AS simpson_diversity
FROM per WHERE n_tokens > 1
"""


@register("text_simpson_diversity", oracle=_SIMPSON_SQL)
def q_text_simpson_diversity(spark, sf_dir):
    """Simpson lexical concentration per document: the probability two
    randomly drawn tokens are the SAME type, D = sum c_i(c_i - 1) /
    (n(n - 1)) — the repetition screen that complements `text_repetition`
    (verbatim n-gram loops) and `text_char_entropy` (character level):
    high D = boilerplate/spam vocabulary, 1 - D is the diversity a
    quality gate thresholds on.

    All integer exact until one final division of BIGINTs (both engines
    divide the identical pair, then round 9) — no logs, no per-row
    floats. Plan: one (doc, token) rollup with map-side combine + one
    doc rollup — scan-bound at 100 TB, no window, no join.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(
            F.expr("filter(split(text, ' '), x -> x != '')")
        ).alias("token"),
    )
    cnt = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("c"))
    per = cnt.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(F.col("c") * (F.col("c") - 1)).alias("rep2"),
    )
    d = F.col("rep2").cast("double") / (
        F.col("n_tokens") * (F.col("n_tokens") - 1)
    )
    return per.filter(F.col("n_tokens") > 1).select(
        "doc_id",
        "n_tokens",
        "n_types",
        F.round(d, 9).alias("simpson_index"),
        F.round(F.lit(1.0) - d, 9).alias("simpson_diversity"),
    )


# ---------------------------------------------------------------------------
# RAKE keyword phrases (round 7)
# ---------------------------------------------------------------------------

_RAKE_STOP = "('the','a','of','and','to','in','is','it')"

_RAKE_SQL = f"""
WITH arrs AS (
  -- both engines cap at 200 words so the index-join bound is symmetric
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> x <> '')[1:200] AS arr
  FROM documents),
tok AS (
  SELECT doc_id, arr[i] AS word, i AS pos,
         CASE WHEN arr[i] IN {_RAKE_STOP} THEN 1 ELSE 0 END AS is_stop
  FROM arrs CROSS JOIN (SELECT unnest(range(1, 201)) AS i)
  WHERE i <= len(arr)),
marked AS (
  -- phrase_id BEFORE dropping stopword rows (SQL WHERE runs before
  -- windows; filtering first collapses every doc to one phrase)
  SELECT doc_id, word, pos, is_stop,
         CAST(SUM(is_stop) OVER (PARTITION BY doc_id ORDER BY pos
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS phrase_id
  FROM tok),
ph AS (
  SELECT doc_id, word, pos, phrase_id FROM marked WHERE is_stop = 0),
phrases AS (
  SELECT doc_id, phrase_id,
         string_agg(word, ' ' ORDER BY pos) AS phrase,
         list(word ORDER BY pos) AS words,
         CAST(COUNT(*) AS BIGINT) AS plen
  FROM ph GROUP BY doc_id, phrase_id),
wstats AS (
  SELECT word,
         CAST(COUNT(*) AS BIGINT) AS freq,
         CAST(SUM(plen) AS BIGINT) AS deg,
         CAST(SUM(plen) AS DOUBLE) / COUNT(*) AS ratio
  FROM (SELECT unnest(words) AS word, plen FROM phrases)
  GROUP BY word),
pw AS (
  SELECT ph.doc_id, ph.phrase_id, ph.pos, wstats.ratio
  FROM ph JOIN wstats ON wstats.word = ph.word),
pscore AS (
  SELECT doc_id, phrase_id,
         list_reduce(list_prepend(0.0, list(ratio ORDER BY pos)),
                     (a, x) -> a + x) AS score
  FROM pw GROUP BY doc_id, phrase_id),
scored AS (
  SELECT p.phrase, p.plen, pscore.score
  FROM phrases p JOIN pscore
    ON pscore.doc_id = p.doc_id AND pscore.phrase_id = p.phrase_id),
agg AS (
  SELECT phrase, ANY_VALUE(plen) AS n_words,
         CAST(COUNT(*) AS BIGINT) AS n_occurrences,
         ROUND(ANY_VALUE(score), 9) AS rake_score
  FROM scored GROUP BY phrase)
SELECT phrase, n_words, n_occurrences, rake_score
FROM agg
ORDER BY rake_score DESC, phrase LIMIT 15
"""


@register("text_rake_keywords", oracle=_RAKE_SQL)
def q_text_rake_keywords(spark, sf_dir):
    """RAKE keyword extraction (Rose et al. 2010) — corpus top-15
    keyphrases: candidate phrases are maximal stopword-free runs, each
    word scores deg/freq (deg = total length of phrases it appears in,
    freq = its occurrence count), and a phrase scores the sum of its
    words' ratios. The phrase-level complement to `text_keywords`
    (single-token TF-IDF): RAKE surfaces multi-word terms without any
    corpus-frequency table.

    Exactness: deg/freq are exact BIGINTs; each word ratio is a
    division of identical integers; the per-phrase sum folds over the
    phrase's words IN POSITION ORDER on both engines (bounded by phrase
    length); ranking uses the ROUNDED score with the phrase string as
    total tie-break. Plan: phrase assembly is one per-doc bounded
    window (phrase_id = running stopword count) + a (doc, phrase)
    rollup; word stats are one vocabulary-sized rollup joined back by a
    shuffle on the word key — scan-bound at 100 TB, TakeOrdered top-15.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = (
        docs.select(
            "doc_id",
            F.posexplode(
                F.expr(
                    "slice(filter(split(text, ' '), x -> x != ''), 1, 200)"
                )
            ).alias("pos", "word"),
        )
        .withColumn(
            "is_stop",
            F.expr(f"CASE WHEN word IN {_RAKE_STOP} THEN 1 ELSE 0 END"),
        )
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ph = tok.withColumn("phrase_id", F.sum("is_stop").over(w)).filter(
        F.col("is_stop") == 0
    )
    phrases = ph.groupBy("doc_id", "phrase_id").agg(
        F.expr(
            "array_join(transform(array_sort(collect_list(struct(pos, word))),"
            " x -> x.word), ' ')"
        ).alias("phrase"),
        F.expr(
            "transform(array_sort(collect_list(struct(pos, word))),"
            " x -> x.word)"
        ).alias("words"),
        F.count(F.lit(1)).alias("plen"),
    )
    wstats = (
        phrases.select(F.explode("words").alias("word"), "plen")
        .groupBy("word")
        .agg(
            F.count(F.lit(1)).alias("freq"),
            F.sum("plen").alias("deg"),
        )
        .withColumn("ratio", F.col("deg").cast("double") / F.col("freq"))
    )
    # per-phrase score: join each (phrase occurrence, word position) to
    # the ratio, then fold in position order (identical order both
    # engines; the word-keyed join is the only corpus-scale shuffle)
    exploded = phrases.select(
        "doc_id", "phrase_id", "phrase", "plen",
        F.posexplode("words").alias("wpos", "word"),
    )
    scored = (
        exploded.join(wstats.select("word", "ratio"), "word")
        .groupBy("doc_id", "phrase_id", "phrase", "plen")
        .agg(
            F.expr(
                "aggregate(array_sort(collect_list(struct(wpos, ratio))),"
                " CAST(0.0 AS DOUBLE), (a, x) -> a + x.ratio)"
            ).alias("score")
        )
    )
    agg = scored.groupBy("phrase").agg(
        F.any_value("plen").alias("n_words"),
        F.count(F.lit(1)).alias("n_occurrences"),
        F.round(F.any_value("score"), 9).alias("rake_score"),
    )
    return agg.orderBy(F.col("rake_score").desc(), "phrase").limit(15)


# ---------------------------------------------------------------------------
# MATTR lexical diversity (round 8)
# ---------------------------------------------------------------------------

_MATTR_W = 25

_MATTR_SQL = f"""
WITH toks AS (
  SELECT doc_id, lang,
         list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM documents),
m AS (
  SELECT doc_id, lang,
         CAST(len(t) AS BIGINT) AS n_tokens,
         LEAST(len(t), {_MATTR_W}) AS we,
         len(t) - LEAST(len(t), {_MATTR_W}) + 1 AS nwin,
         CAST(list_sum([len(list_distinct(
                t[i:i + LEAST(len(t), {_MATTR_W}) - 1]))
              for i in range(1, len(t) - LEAST(len(t), {_MATTR_W}) + 2)])
           AS BIGINT) AS sumd
  FROM toks
  WHERE len(t) >= 1)
SELECT doc_id, lang, n_tokens,
       ROUND(CAST(sumd AS DOUBLE) / (nwin * we), 9) AS mattr
FROM m
ORDER BY ROUND(CAST(sumd AS DOUBLE) / (nwin * we), 9) DESC, doc_id
LIMIT 100
"""


@register("text_mattr", oracle=_MATTR_SQL)
def q_text_mattr(spark, sf_dir):
    """MATTR lexical diversity (Covington & McFall 2010): the moving-
    average type-token ratio over sliding 25-token windows — the
    length-robust replacement for raw TTR (which collapses as documents
    grow, making cross-length quality comparisons meaningless). The
    standard lexical-richness gate in LLM data curation next to
    `text_simpson_diversity` (which weighs token CONCENTRATION, not
    window-local variety). Documents shorter than the window fall back
    to a single full-length window (= their exact TTR).

    Plan: everything is ONE per-row HOF expression over the tokenized
    column — window distinct-counts are exact integers summed inside
    the row (no float accumulation), so the only float op is the single
    final division; no shuffle except the top-100 TakeOrdered. At
    100 TB this runs at parquet-scan speed, embarrassingly parallel.
    Parity: both the output value and the top-100 cut use the 9-dp
    ROUNDED ratio with doc_id tiebreak (the sample_dsir device).
    """
    docs = load_table(spark, sf_dir, "documents")
    w = _MATTR_W
    toks = docs.select(
        "doc_id",
        "lang",
        F.expr("filter(split(text, ' '), x -> x != '')").alias("t"),
    ).filter(F.expr("size(t) >= 1"))
    m = toks.select(
        "doc_id",
        "lang",
        F.expr("cast(size(t) as bigint)").alias("n_tokens"),
        F.expr(f"least(size(t), {w})").alias("we"),
        F.expr(f"size(t) - least(size(t), {w}) + 1").alias("nwin"),
        F.expr(
            f"aggregate(sequence(1, size(t) - least(size(t), {w}) + 1), "
            f"CAST(0 AS BIGINT), (acc, i) -> acc + "
            f"size(array_distinct(slice(t, i, least(size(t), {w})))))"
        ).alias("sumd"),
    )
    mattr = F.round(
        F.col("sumd").cast("double") / (F.col("nwin") * F.col("we")), 9
    )
    return (
        m.select("doc_id", "lang", "n_tokens", mattr.alias("mattr"))
        .orderBy(F.col("mattr").desc(), "doc_id")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# MTLD lexical diversity (round 8) — the sequential-factor companion to MATTR
# ---------------------------------------------------------------------------

# The fold state is a space-joined string "<factors> <factor_tokens>
# <type1> <type2> ...": whitespace tokenization guarantees tokens can't
# contain the separator. The TTR < 0.72 test runs as the INTEGER
# comparison 25*types < 18*tokens, so the fold itself is float-free and
# the only float math is the final partial-factor formula — identical
# single-expression order in both engines.

_MTLD_DUCK_FOLD = """
list_reduce(list_prepend('0 0', {t}), (acc, x) -> CASE
  WHEN 25 * (len(string_split(acc, ' ')) - 2
       + CASE WHEN list_contains(string_split(acc, ' ')[3:], x)
              THEN 0 ELSE 1 END)
       < 18 * (CAST(string_split(acc, ' ')[2] AS BIGINT) + 1)
  THEN CAST(CAST(string_split(acc, ' ')[1] AS BIGINT) + 1 AS VARCHAR) || ' 0'
  ELSE CAST(string_split(acc, ' ')[1] AS VARCHAR) || ' '
       || CAST(CAST(string_split(acc, ' ')[2] AS BIGINT) + 1 AS VARCHAR)
       || CASE WHEN len(string_split(acc, ' ')) > 2
               OR NOT list_contains(string_split(acc, ' ')[3:], x)
               THEN ' ' || array_to_string(
                 CASE WHEN list_contains(string_split(acc, ' ')[3:], x)
                      THEN string_split(acc, ' ')[3:]
                      ELSE list_append(string_split(acc, ' ')[3:], x) END, ' ')
               ELSE '' END
  END)
"""

_MTLD_DUCK_VAL = """
CASE WHEN (CAST(string_split({st}, ' ')[1] AS BIGINT)
           + CASE WHEN CAST(string_split({st}, ' ')[2] AS BIGINT) > 0
                  THEN (1.0 - CAST(len(string_split({st}, ' ')) - 2 AS DOUBLE)
                        / CAST(string_split({st}, ' ')[2] AS BIGINT)) / 0.28
                  ELSE 0.0 END) > 0
     THEN CAST(n AS DOUBLE)
          / (CAST(string_split({st}, ' ')[1] AS BIGINT)
             + CASE WHEN CAST(string_split({st}, ' ')[2] AS BIGINT) > 0
                    THEN (1.0 - CAST(len(string_split({st}, ' ')) - 2 AS DOUBLE)
                          / CAST(string_split({st}, ' ')[2] AS BIGINT)) / 0.28
                    ELSE 0.0 END)
     ELSE CAST(n AS DOUBLE) END
"""

_MTLD_SQL = f"""
WITH toks AS (
  SELECT doc_id, lang,
         list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM documents),
folded AS (
  SELECT doc_id, lang, CAST(len(t) AS BIGINT) AS n,
         {_MTLD_DUCK_FOLD.format(t='t')} AS stf,
         {_MTLD_DUCK_FOLD.format(t='list_reverse(t)')} AS stb
  FROM toks WHERE len(t) >= 1),
vals AS (
  SELECT doc_id, lang, n,
         {_MTLD_DUCK_VAL.format(st='stf')} AS mf,
         {_MTLD_DUCK_VAL.format(st='stb')} AS mb
  FROM folded)
SELECT doc_id, lang, n AS n_tokens,
       ROUND((mf + mb) / 2.0, 9) AS mtld
FROM vals
ORDER BY ROUND((mf + mb) / 2.0, 9) DESC, doc_id
LIMIT 100
"""

# Round 11 (optimization): the fold state is a typed struct
# (f = completed factors, n = tokens in the current run, s = distinct types
# seen in the current run) instead of the original space-joined string
# "f n t1 t2 ...". The string form re-split the GROWING accumulator ~6
# times per token (O(run-length) string work per token, quadratic per
# factor run); the struct form does one array_contains per token and all
# branch tests on integer fields. Branch conditions and the final float
# expression are term-for-term the same integers/doubles, so the output
# is bit-identical (oracle unchanged; golden unchanged).
_MTLD_SPARK_FOLD = """
aggregate({t},
  named_struct('f', CAST(0 AS BIGINT), 'n', CAST(0 AS BIGINT),
               's', CAST(array() AS ARRAY<STRING>)),
  (acc, x) -> IF(
    25 * (size(acc.s) + IF(array_contains(acc.s, x), 0, 1))
      < 18 * (acc.n + 1),
    named_struct('f', acc.f + 1, 'n', CAST(0 AS BIGINT),
                 's', CAST(array() AS ARRAY<STRING>)),
    named_struct('f', acc.f, 'n', acc.n + 1,
                 's', IF(array_contains(acc.s, x), acc.s,
                         concat(acc.s, array(x))))))
"""

_MTLD_SPARK_VAL = """
CASE WHEN ({st}.f
           + CASE WHEN {st}.n > 0
                  THEN (1.0D - CAST(size({st}.s) AS DOUBLE) / {st}.n)
                       / 0.28D
                  ELSE 0.0D END) > 0
     THEN CAST(n AS DOUBLE)
          / ({st}.f
             + CASE WHEN {st}.n > 0
                    THEN (1.0D - CAST(size({st}.s) AS DOUBLE) / {st}.n)
                         / 0.28D
                    ELSE 0.0D END)
     ELSE CAST(n AS DOUBLE) END
"""


@register("text_mtld", oracle=_MTLD_SQL)
def q_text_mtld(spark, sf_dir):
    """MTLD lexical diversity (McCarthy & Jarvis 2010): the mean length
    of sequential text FACTORS — runs whose type-token ratio stays
    ≥ 0.72 — averaged over a forward and a backward pass, with the
    standard partial-factor remainder (1 − TTR)/0.28. THE reference
    lexical-richness metric in corpus curation: unlike raw TTR it is
    provably length-invariant, and unlike `text_mattr` (fixed windows)
    it adapts factor boundaries to the text itself. A wholly-repetitive
    document scores ~2, diverse prose scores ~its factor length.

    Plan: each pass is ONE per-row sequential fold over the token
    array (`aggregate` here, `list_reduce` in the oracle — the
    holt_winters list-carrying-fold device with a string-encoded
    (factors, tokens, types…) state). The TTR threshold runs as the
    INTEGER test 25·types < 18·tokens, so the fold is float-free; the
    only float math is the final partial-factor expression, one fixed
    op order in both engines. No shuffle except the top-100
    TakeOrdered — parquet-scan-speed, embarrassingly parallel, the
    100 TB shape. Degenerate all-unique texts (factor count 0) return
    n_tokens by convention (documented; both engines).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "lang",
        F.expr("filter(split(text, ' '), x -> x != '')").alias("t"),
    ).filter(F.expr("size(t) >= 1"))
    folded = toks.select(
        "doc_id",
        "lang",
        F.expr("cast(size(t) as bigint)").alias("n"),
        F.expr(_MTLD_SPARK_FOLD.format(t="t")).alias("stf"),
        F.expr(_MTLD_SPARK_FOLD.format(t="reverse(t)")).alias("stb"),
    )
    vals = folded.select(
        "doc_id",
        "lang",
        "n",
        F.expr(_MTLD_SPARK_VAL.format(st="stf")).alias("mf"),
        F.expr(_MTLD_SPARK_VAL.format(st="stb")).alias("mb"),
    )
    mtld = F.round((F.col("mf") + F.col("mb")) / 2.0, 9)
    return (
        vals.select("doc_id", "lang", F.col("n").alias("n_tokens"), mtld.alias("mtld"))
        .orderBy(F.col("mtld").desc(), "doc_id")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Flesch reading-ease readability gate (round 8)
# ---------------------------------------------------------------------------

_FLESCH_SQL = r"""
WITH m AS (
  SELECT doc_id, lang,
         CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
              AS BIGINT) AS w,
         GREATEST(CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT),
                  1) AS s,
         CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
           AS syl
  FROM documents),
f AS (
  SELECT doc_id, lang, w, s, syl,
         206.835 - 1.015 * (CAST(w AS DOUBLE) / s)
                 - 84.6 * (CAST(syl AS DOUBLE) / w) AS fre
  FROM m WHERE w >= 1)
SELECT doc_id, lang, w AS n_words, s AS n_sentences,
       syl AS n_syllable_groups, ROUND(fre, 9) AS flesch_score
FROM f
ORDER BY ROUND(fre, 9), doc_id
LIMIT 100
"""


@register("text_readability_flesch", oracle=_FLESCH_SQL)
def q_text_readability_flesch(spark, sf_dir):
    """Flesch reading-ease readability gate: FRE = 206.835 −
    1.015·(words/sentences) − 84.6·(syllables/word), with the standard
    cheap proxies — sentences = runs of [.!?] (min 1), syllables =
    vowel-letter groups [aeiouy]+ (the classic heuristic that tracks
    dictionary syllable counts within a few percent on English prose).
    The curation use is the LOW tail this query surfaces (100 hardest
    documents): legalese, OCR junk, and run-on machine text all crater
    FRE, and a readability floor is a standard pretraining quality
    gate next to `quality_features`' length/stopword heuristics.

    Plan: all three counts are per-row regex/HOF expressions at
    parquet-scan speed (no shuffle, no UDF); the counts are exact
    integers, FRE is one fixed-order float chain, and BOTH the output
    value and the top-100 cut use the 9-dp ROUNDED score with doc_id
    tiebreak. Regex class repertoire is deliberately minimal (char
    classes + '+') so both engines' regex dialects agree exactly.
    """
    docs = load_table(spark, sf_dir, "documents")
    m = docs.select(
        "doc_id",
        "lang",
        F.expr(
            "cast(size(filter(split(text, ' '), x -> x != '')) as bigint)"
        ).alias("w"),
        F.greatest(
            F.expr(
                "cast(size(regexp_extract_all(text, '[.!?]+', 0)) as bigint)"
            ),
            F.lit(1).cast("bigint"),
        ).alias("s"),
        F.expr(
            "cast(size(regexp_extract_all(lower(text), '[aeiouy]+', 0)) "
            "as bigint)"
        ).alias("syl"),
    ).filter(F.col("w") >= 1)
    fre = (
        F.lit(206.835)
        - F.lit(1.015) * (F.col("w").cast("double") / F.col("s"))
        - F.lit(84.6) * (F.col("syl").cast("double") / F.col("w"))
    )
    return (
        m.select(
            "doc_id",
            "lang",
            F.col("w").alias("n_words"),
            F.col("s").alias("n_sentences"),
            F.col("syl").alias("n_syllable_groups"),
            F.round(fre, 9).alias("flesch_score"),
        )
        .orderBy("flesch_score", "doc_id")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Term burstiness (round 8): variance-to-mean of per-doc term counts
# ---------------------------------------------------------------------------

_BURSTINESS_SQL = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
per AS (
  SELECT token, doc_id, CAST(COUNT(*) AS BIGINT) AS c
  FROM tok GROUP BY token, doc_id),
mom AS (
  SELECT token,
         CAST(COUNT(*) AS BIGINT) AS df,
         CAST(SUM(c) AS BIGINT) AS sc,
         CAST(SUM(c * c) AS BIGINT) AS scc
  FROM per GROUP BY token)
SELECT token, df, sc AS total_count,
       ROUND(CAST(df * scc - sc * sc AS DOUBLE) / CAST(df * sc AS DOUBLE), 9)
         AS burstiness
FROM mom
WHERE df >= 50
ORDER BY ROUND(CAST(df * scc - sc * sc AS DOUBLE)
               / CAST(df * sc AS DOUBLE), 9) DESC, token
LIMIT 20
"""


@register("text_burstiness", oracle=_BURSTINESS_SQL)
def q_text_burstiness(spark, sf_dir):
    """Term burstiness (Church & Gale): variance-to-mean ratio of a
    token's per-document counts, over the documents that contain it —
    VMR = 1 under Poisson scatter; topical/bursty terms score higher
    because they repeat heavily where they appear at all. The
    corpus-statistics companion to `text_tfidf` (which weights by df
    alone): burstiness separates "common everywhere" from "common in
    bursts", the signal LLM-corpus topic filters key on. Top-20
    burstiest among tokens appearing in >= 50 documents.

    Exactness: population VMR over occupied docs reduces to
    (df*SUMc^2 - (SUMc)^2) / (df*SUMc) — every moment is an exact
    BIGINT (per-doc counts are small; SUMc^2 stays far inside 2^63 at
    any sf), one final division; ties break on the ROUNDED score then
    token. Plan: one explode -> one (token, doc) rollup with map-side
    combine -> one token rollup -> TakeOrdered(20). Scan-bound; the
    token key space is vocabulary-sized, not corpus-sized.
    """
    docs = load_table(spark, sf_dir, "documents")
    per = (
        docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("token")
        )
        .groupBy("token", "doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    mom = per.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum("c").cast("long").alias("sc"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("scc"),
    )
    vmr = F.round(
        (F.col("df") * F.col("scc") - F.col("sc") * F.col("sc")).cast("double")
        / (F.col("df") * F.col("sc")).cast("double"),
        9,
    )
    return (
        mom.filter(F.col("df") >= 50)
        .select(
            "token",
            "df",
            F.col("sc").alias("total_count"),
            vmr.alias("burstiness"),
        )
        .orderBy(F.col("burstiness").desc(), "token")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Brier score + Murphy decomposition (round 8)
# ---------------------------------------------------------------------------

_BRIER_SQL = _lr_features_sql("doc_id, lang") + f"""binned AS (
  SELECT CAST(LEAST(FLOOR(q_score * 10), 9) AS INTEGER) AS bin,
         CAST(q_score AS DECIMAL(12,6)) AS qd,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM (SELECT lang, ROUND(1.0 / (1.0 + exp(-({_LRQ_Z}))), 6) AS q_score
        FROM feats)),
grp AS (
  SELECT bin, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS p,
         SUM(qd) AS sp,
         SUM(qd * qd) AS sqq,
         SUM(qd * y) AS spy
  FROM binned GROUP BY bin),
tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS nt, CAST(SUM(p) AS BIGINT) AS pt,
         CAST(SUM(sqq) AS DOUBLE) - 2 * CAST(SUM(spy) AS DOUBLE)
           + CAST(SUM(p) AS DOUBLE) AS brier_num
  FROM grp),
parts AS (
  SELECT tot.nt, tot.pt, tot.brier_num,
         SUM(CAST(ROUND(n * (CAST(sp AS DOUBLE) / n - CAST(p AS DOUBLE) / n)
                          * (CAST(sp AS DOUBLE) / n - CAST(p AS DOUBLE) / n),
                        12) AS DECIMAL(38,12))) AS rel_num,
         SUM(CAST(ROUND(n * (CAST(p AS DOUBLE) / n
                             - CAST(tot.pt AS DOUBLE) / tot.nt)
                          * (CAST(p AS DOUBLE) / n
                             - CAST(tot.pt AS DOUBLE) / tot.nt),
                        12) AS DECIMAL(38,12))) AS res_num
  FROM grp CROSS JOIN tot
  GROUP BY tot.nt, tot.pt, tot.brier_num)
SELECT nt AS n_docs,
       brier_num / CAST(nt AS DOUBLE) AS brier,
       CAST(rel_num AS DOUBLE) / CAST(nt AS DOUBLE) AS reliability,
       CAST(res_num AS DOUBLE) / CAST(nt AS DOUBLE) AS resolution,
       (CAST(pt AS DOUBLE) / CAST(nt AS DOUBLE))
         * (1.0 - CAST(pt AS DOUBLE) / CAST(nt AS DOUBLE)) AS uncertainty,
       brier_num / CAST(nt AS DOUBLE)
         - (CAST(rel_num AS DOUBLE) / CAST(nt AS DOUBLE)
            - CAST(res_num AS DOUBLE) / CAST(nt AS DOUBLE)
            + (CAST(pt AS DOUBLE) / CAST(nt AS DOUBLE))
              * (1.0 - CAST(pt AS DOUBLE) / CAST(nt AS DOUBLE)))
         AS within_bin_var
FROM parts
"""


@register("eval_brier_decomposition", oracle=_BRIER_SQL)
def q_eval_brier_decomposition(spark, sf_dir):
    """Brier score of the LR quality classifier against the English
    label, with the Murphy decomposition over the same 10 probability
    bins as `eval_calibration_bins`: BS = REL − RES + UNC (+ the
    within-bin variance left over because forecasts are continuous,
    reported explicitly so the identity is checkable). REL says how far
    bin forecasts sit from bin outcomes (lower = calibrated), RES how
    much the bins separate outcomes (higher = discriminative), UNC the
    label's own variance — the standard diagnosis of WHY a Brier score
    is what it is.

    Exactness: the 6-dp q_score is an exact DECIMAL(12,6), so the RAW
    Brier Σ(q−y)² = Σq² − 2Σqy + Σy is EXACT decimal arithmetic
    per sum — the three sums convert to double INDIVIDUALLY before
    combining (combining them in DECIMAL overflows Spark's precision-38
    cap, which silently reduces the scale to 6 dp); the ten per-bin REL/RES
    terms are doubles rounded to 12 dp and summed DECIMAL(38,12). Every
    output is a DETERMINISTIC double chain on those exact decimals, so
    results ship UNROUNDED (a 9-dp ROUND here once straddled the two
    engines' half-case conventions — the one thing left to disagree).
    One corpus scan, one 10-row shuffle, a 1-row broadcast.
    """
    feats = _lr_features(spark, sf_dir, "lang")
    binned = feats.select(
        F.round(F.expr(f"1.0 / (1.0 + exp(-({_LRQ_Z})))"), 6).alias("q"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    ).select(
        F.least(F.floor(F.col("q") * 10), F.lit(9)).cast("int").alias("bin"),
        F.col("q").cast("decimal(12,6)").alias("qd"),
        "y",
    )
    grp = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("p"),
        F.sum("qd").alias("sp"),
        F.sum(F.col("qd") * F.col("qd")).alias("sqq"),
        F.sum(F.col("qd") * F.col("y")).alias("spy"),
    )
    tot = grp.agg(
        F.sum("n").cast("long").alias("nt"),
        F.sum("p").cast("long").alias("pt"),
        (
            F.sum("sqq").cast("double")
            - 2 * F.sum("spy").cast("double")
            + F.sum("p").cast("double")
        ).alias("brier_num"),
    )
    qbar = F.col("sp").cast("double") / F.col("n").cast("double")
    obar_b = F.col("p").cast("double") / F.col("n").cast("double")
    obar = F.col("pt").cast("double") / F.col("nt").cast("double")
    parts = (
        grp.crossJoin(F.broadcast(tot))
        .groupBy("nt", "pt", "brier_num")
        .agg(
            F.sum(
                F.round(F.col("n") * (qbar - obar_b) * (qbar - obar_b), 12)
                .cast("decimal(38,12)")
            ).alias("rel_num"),
            F.sum(
                F.round(F.col("n") * (obar_b - obar) * (obar_b - obar), 12)
                .cast("decimal(38,12)")
            ).alias("res_num"),
        )
    )
    ntd = F.col("nt").cast("double")
    ob = F.col("pt").cast("double") / ntd
    rel = F.col("rel_num").cast("double") / ntd
    res = F.col("res_num").cast("double") / ntd
    unc = ob * (F.lit(1.0) - ob)
    brier = F.col("brier_num") / ntd
    return parts.select(
        F.col("nt").alias("n_docs"),
        brier.alias("brier"),
        rel.alias("reliability"),
        res.alias("resolution"),
        unc.alias("uncertainty"),
        (brier - (rel - res + unc)).alias("within_bin_var"),
    )


# ---------------------------------------------------------------------------
# PMI token co-occurrence (round 8)
# ---------------------------------------------------------------------------

_PMI_SQL = """
WITH tok AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
  FROM documents),
freq AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tok GROUP BY token
  HAVING COUNT(*) >= 50),
ft AS (
  SELECT tok.doc_id, tok.token, freq.df
  FROM tok JOIN freq ON freq.token = tok.token),
pairs AS (
  SELECT a.token AS t1, b.token AS t2,
         MAX(a.df) AS df1, MAX(b.df) AS df2,
         CAST(COUNT(*) AS BIGINT) AS c12
  FROM ft a JOIN ft b ON a.doc_id = b.doc_id AND a.token < b.token
  GROUP BY a.token, b.token
  HAVING COUNT(*) >= 25),
d AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS nd FROM tok)
SELECT t1, t2, df1, df2, c12,
       ROUND(LN((CAST(c12 AS DOUBLE) * nd)
                / (CAST(df1 AS DOUBLE) * CAST(df2 AS DOUBLE))), 9) AS pmi
FROM pairs, d
ORDER BY ROUND(LN((CAST(c12 AS DOUBLE) * nd)
               / (CAST(df1 AS DOUBLE) * CAST(df2 AS DOUBLE))), 9) DESC, t1, t2
LIMIT 20
"""


@register("text_pmi_cooccurrence", oracle=_PMI_SQL)
def q_text_pmi_cooccurrence(spark, sf_dir):
    """Pointwise mutual information of token pairs at the document
    level: PMI(x,y) = ln(P(x,y)/(P(x)P(y))) over document presence —
    the collocation/topic-coherence statistic (NPMI's unnormalized
    core) that ranks WHICH frequent terms travel together, where
    `text_burstiness` ranks which terms clump within documents. Top-20
    pairs among tokens in >= 50 docs with joint support >= 25 docs.

    Plan: presence set = DISTINCT (doc, token) — one explode + distinct;
    the vocabulary is prefiltered to frequent tokens BEFORE the
    in-document pair self-join, so pair volume is bounded by
    (filtered tokens per doc)² per document, not vocabulary² — the
    same prefilter-then-pair shape as the dedup candidate generators.
    Counts stay BIGINT; PMI is one double ratio + ln, rounded to 9 dp
    (both engines evaluate the identical chain; ordering uses the
    ROUNDED score + lexicographic tiebreak).
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    ).distinct()
    freq = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
        .filter(F.col("df") >= 50)
    )
    ft = tok.join(F.broadcast(freq), "token")
    a = ft.select("doc_id", F.col("token").alias("t1"), F.col("df").alias("dfa"))
    b = ft.select("doc_id", F.col("token").alias("t2"), F.col("df").alias("dfb"))
    pairs = (
        a.join(b, ["doc_id"])
        .filter(F.col("t1") < F.col("t2"))
        .groupBy("t1", "t2")
        .agg(
            F.max("dfa").alias("df1"),
            F.max("dfb").alias("df2"),
            F.count(F.lit(1)).cast("long").alias("c12"),
        )
        .filter(F.col("c12") >= 25)
    )
    d = tok.agg(F.countDistinct("doc_id").alias("nd"))
    pmi = F.round(
        F.log(
            (F.col("c12").cast("double") * F.col("nd"))
            / (F.col("df1").cast("double") * F.col("df2").cast("double"))
        ),
        9,
    )
    return (
        pairs.crossJoin(F.broadcast(d))
        .select("t1", "t2", "df1", "df2", "c12", pmi.alias("pmi"))
        .orderBy(F.col("pmi").desc(), "t1", "t2")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# BLEU-2 over near-duplicate pairs (round 9): machine-translation-style
# n-gram overlap scoring applied where a training-data pipeline actually
# uses it — quantifying HOW similar the near-dup detector's pairs are.
# ---------------------------------------------------------------------------

# Near-dup pairs, their docs' uni/bigram counts, per-doc totals and
# clipped matches: the CTEs BLEU and ROUGE share.
_PAIR_GRAM_CLIP_CTES = f"""
WITH np AS ({_NEAR_SQL}),
{_PLANTED_CORPUS_CTE},
used AS (SELECT DISTINCT doc_a AS id FROM np
         UNION SELECT DISTINCT doc_b FROM np),
toks AS (
  SELECT c.doc_id, string_split(c.text, ' ') AS t
  FROM corpus c JOIN used u ON u.id = c.doc_id),
g AS (
  SELECT doc_id, 1 AS n, t[i] AS gram, CAST(COUNT(*) AS BIGINT) AS c
  FROM toks, unnest(range(1, len(t) + 1)) AS u(i)
  GROUP BY doc_id, t[i]
  UNION ALL
  SELECT doc_id, 2 AS n, t[i] || ' ' || t[i + 1] AS gram,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM toks, unnest(range(1, greatest(len(t) - 1, 0) + 1)) AS u(i)
  GROUP BY doc_id, t[i] || ' ' || t[i + 1]),
tots AS (SELECT doc_id, n, CAST(SUM(c) AS BIGINT) AS tot
         FROM g GROUP BY doc_id, n),
clip AS (
  SELECT p.doc_a, p.doc_b, gc.n,
         CAST(SUM(LEAST(gc.c, gr.c)) AS BIGINT) AS m
  FROM np p
  JOIN g gc ON gc.doc_id = p.doc_b
  JOIN g gr ON gr.doc_id = p.doc_a AND gr.n = gc.n AND gr.gram = gc.gram
  GROUP BY p.doc_a, p.doc_b, gc.n),
"""


_BLEU_SQL = _PAIR_GRAM_CLIP_CTES + f"""stats AS (
  SELECT p.doc_a, p.doc_b,
         COALESCE(c1.m, 0) AS m1, COALESCE(c2.m, 0) AS m2,
         t1r.tot AS len_ref, t1c.tot AS len_cand, t2c.tot AS big_cand
  FROM np p
  LEFT JOIN clip c1 ON c1.doc_a = p.doc_a AND c1.doc_b = p.doc_b
                    AND c1.n = 1
  LEFT JOIN clip c2 ON c2.doc_a = p.doc_a AND c2.doc_b = p.doc_b
                    AND c2.n = 2
  JOIN tots t1r ON t1r.doc_id = p.doc_a AND t1r.n = 1
  JOIN tots t1c ON t1c.doc_id = p.doc_b AND t1c.n = 1
  JOIN tots t2c ON t2c.doc_id = p.doc_b AND t2c.n = 2)
SELECT doc_a, doc_b, len_ref, len_cand,
       ROUND(CAST(m1 AS DOUBLE) / len_cand, 9) AS p1,
       ROUND(CAST(m2 AS DOUBLE) / big_cand, 9) AS p2,
       CASE WHEN len_cand >= len_ref THEN 1.0
            ELSE ROUND(exp(1.0 - CAST(len_ref AS DOUBLE)
                                 / CAST(len_cand AS DOUBLE)), 12) END AS bp,
       CASE WHEN m1 = 0 OR m2 = 0 THEN 0.0
            ELSE ROUND(
              (CASE WHEN len_cand >= len_ref THEN 1.0
                    ELSE ROUND(exp(1.0 - CAST(len_ref AS DOUBLE)
                                        / CAST(len_cand AS DOUBLE)), 12) END)
              * exp(0.5 * ROUND(LN(CAST(m1 AS DOUBLE) / len_cand), 12)
                    + 0.5 * ROUND(LN(CAST(m2 AS DOUBLE) / big_cand), 12)),
              6) END AS bleu2
FROM stats
"""


def _pair_gram_clips(corpus, pairs):
    """Clipped 1/2-gram overlap of every (doc_a, doc_b) near-dup pair —
    the shared core of BLEU and ROUGE. Returns ``(c1, c2, tots)``:
    ``c1`` = (a1, b1, m1) and ``c2`` = (a2, b2, m2), the per-pair sums of
    min(count in doc_b, count in doc_a) over shared unigrams / bigrams
    (pairs with no shared gram are absent); ``tots`` = (doc_id, n, tot),
    each used doc's n-gram total. Gram tables semi-join down to the
    docs the pairs use first, then every join keys on (pair, n, gram).
    """
    np_pairs = pairs.select("doc_a", "doc_b")
    used = (
        np_pairs.select(F.col("doc_a").alias("id"))
        .union(np_pairs.select("doc_b"))
        .distinct()
    )
    toks = corpus.join(used, corpus["doc_id"] == used["id"]).select(
        "doc_id", F.split("text", " ").alias("t")
    )
    uni = toks.select(
        "doc_id", F.lit(1).alias("n"), F.explode("t").alias("gram")
    )
    big = toks.select(
        "doc_id",
        F.lit(2).alias("n"),
        F.explode(
            F.expr(
                "zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1),"
                " (a, b) -> concat(a, ' ', b))"
            )
        ).alias("gram"),
    )
    g = (
        uni.unionByName(big)
        .groupBy("doc_id", "n", "gram")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    tots = g.groupBy("doc_id", "n").agg(F.sum("c").cast("long").alias("tot"))
    gc = g.select(
        F.col("doc_id").alias("_b"), "n", "gram", F.col("c").alias("cc")
    )
    gr = g.select(
        F.col("doc_id").alias("_a"),
        F.col("n").alias("_n"),
        F.col("gram").alias("_g"),
        F.col("c").alias("cr"),
    )
    clip = (
        np_pairs.join(gc, F.col("_b") == F.col("doc_b"))
        .join(
            gr,
            (F.col("_a") == F.col("doc_a"))
            & (F.col("_n") == F.col("n"))
            & (F.col("_g") == F.col("gram")),
        )
        .groupBy("doc_a", "doc_b", "n")
        .agg(F.sum(F.least("cc", "cr")).cast("long").alias("m"))
    )
    c1 = clip.filter(F.col("n") == 1).select(
        F.col("doc_a").alias("a1"), F.col("doc_b").alias("b1"),
        F.col("m").alias("m1"),
    )
    c2 = clip.filter(F.col("n") == 2).select(
        F.col("doc_a").alias("a2"), F.col("doc_b").alias("b2"),
        F.col("m").alias("m2"),
    )
    return c1, c2, tots


@register("eval_bleu_pairs", oracle=_BLEU_SQL)
def q_eval_bleu_pairs(spark, sf_dir):
    """BLEU-2 (Papineni et al. 2002) for every near-duplicate pair the
    MinHash detector surfaces (`dedup_near`'s pairs: the lower doc_id is
    the reference, the higher the candidate — planted truncated twins
    AND the corpus's natural near-dups): clipped 1/2-gram precisions,
    brevity penalty, geometric mean. The MT metric applied where a
    training-data pipeline actually uses it — grading borderline dups
    before deciding excision vs keep.

    Determinism: precisions are exact-integer ratios (clipped counts /
    candidate totals); the libm calls (two LNs, the BP exp) round at
    12 dp and BLEU at 6 (the `quality_lr` device); the m=0 degenerate
    pins BLEU = 0.0 identically in both engines. Plan: the pair table
    is tiny (near-dups only) — gram tables semi-join down to used docs
    first, then every join keys on (pair, gram); nothing quadratic,
    nothing windowed.
    """
    # Round 10: the detector chain comes from the shared session cache
    # (`_near_dup_chain_cached`) — previously this query's dominant cost
    # was rebuilding the identical signature+pair table dedup_near built.
    corpus, pairs = _near_dup_chain_cached(spark, sf_dir)
    np_pairs = pairs.select("doc_a", "doc_b")
    c1, c2, tots = _pair_gram_clips(corpus, pairs)
    t1r = tots.filter(F.col("n") == 1).select(
        F.col("doc_id").alias("ra"), F.col("tot").alias("len_ref")
    )
    t1c = tots.filter(F.col("n") == 1).select(
        F.col("doc_id").alias("ca"), F.col("tot").alias("len_cand")
    )
    t2c = tots.filter(F.col("n") == 2).select(
        F.col("doc_id").alias("cb"), F.col("tot").alias("big_cand")
    )
    stats = (
        np_pairs
        .join(c1, (F.col("a1") == F.col("doc_a")) & (F.col("b1") == F.col("doc_b")), "left")
        .join(c2, (F.col("a2") == F.col("doc_a")) & (F.col("b2") == F.col("doc_b")), "left")
        .join(t1r, F.col("ra") == F.col("doc_a"))
        .join(t1c, F.col("ca") == F.col("doc_b"))
        .join(t2c, F.col("cb") == F.col("doc_b"))
        .select(
            "doc_a", "doc_b",
            F.coalesce("m1", F.lit(0)).alias("m1"),
            F.coalesce("m2", F.lit(0)).alias("m2"),
            "len_ref", "len_cand", "big_cand",
        )
    )
    p1r = F.col("m1").cast("double") / F.col("len_cand")
    p2r = F.col("m2").cast("double") / F.col("big_cand")
    bp = F.when(F.col("len_cand") >= F.col("len_ref"), F.lit(1.0)).otherwise(
        F.round(
            F.exp(
                F.lit(1.0)
                - F.col("len_ref").cast("double")
                / F.col("len_cand").cast("double")
            ),
            12,
        )
    )
    bleu = F.when((F.col("m1") == 0) | (F.col("m2") == 0), F.lit(0.0)).otherwise(
        F.round(
            bp
            * F.exp(
                F.lit(0.5) * F.round(F.log(p1r), 12)
                + F.lit(0.5) * F.round(F.log(p2r), 12)
            ),
            6,
        )
    )
    return stats.select(
        "doc_a", "doc_b", "len_ref", "len_cand",
        F.round(p1r, 9).alias("p1"),
        F.round(p2r, 9).alias("p2"),
        bp.alias("bp"),
        bleu.alias("bleu2"),
    )


# ---------------------------------------------------------------------------
# Cluster-canonical selection (round 9): which copy survives dedup
# ---------------------------------------------------------------------------

_KEEPBEST_SQL = f"""
WITH RECURSIVE np AS ({_NEAR_SQL}),
und AS (SELECT doc_a AS src, doc_b AS dst FROM np
        UNION ALL SELECT doc_b AS src, doc_a AS dst FROM np),
verts AS (SELECT DISTINCT src AS v FROM und),
reach(v, label) AS (
  SELECT v, v AS label FROM verts
  UNION
  SELECT und.dst AS v, reach.label
  FROM reach JOIN und ON reach.v = und.src),
comp AS (SELECT v, MIN(label) AS component_id FROM reach GROUP BY v),
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id,
         array_to_string(string_split(text, ' ')
           [1:greatest(len(string_split(text, ' ')) - 3, 1)], ' ') AS text
  FROM documents WHERE doc_id % 13 = 0),
feats AS (
  SELECT doc_id,
         CAST(len(list_distinct(t)) AS DOUBLE) / len(t) AS f_div,
         CAST(length(text) AS DOUBLE) / len(t) AS f_len,
         CAST(len(list_filter(t, x -> x = 'the' OR x = 'a')) AS DOUBLE)
           / len(t) AS f_stop,
         CAST(length(text) AS DOUBLE) / 600.0 AS f_size
  FROM (SELECT doc_id, text,
               list_filter(string_split(text, ' '), x -> x <> '') AS t
        FROM corpus)),
scored AS (
  SELECT doc_id, ROUND(1.0 / (1.0 + exp(-({_LRQ_Z}))), 6) AS q_score
  FROM feats),
j AS (
  SELECT c.component_id, c.v AS doc_id, s.q_score
  FROM comp c JOIN scored s ON s.doc_id = c.v),
r AS (
  SELECT component_id, doc_id, q_score,
         ROW_NUMBER() OVER (PARTITION BY component_id
                            ORDER BY q_score DESC, doc_id) AS rn,
         CAST(COUNT(*) OVER (PARTITION BY component_id) AS BIGINT)
           AS n_members
  FROM j)
SELECT component_id, doc_id AS keep_doc, q_score AS keep_score,
       n_members, n_members - 1 AS n_dropped
FROM r WHERE rn = 1
"""


@register("dedup_cluster_keep_best", oracle=_KEEPBEST_SQL)
def q_dedup_cluster_keep_best(spark, sf_dir):
    """The dedup decision a production pipeline actually ships: pairwise
    near-dup hits (`dedup_near`'s MinHash pairs) → connected components
    (dedup groups) → per group keep the HIGHEST-QUALITY member (the LR
    quality score, doc_id tiebreak), dropping the rest — "keep best of
    cluster", not "keep lowest id". Quality features recompute char
    length from the live text (the planted twins' stored n_chars is
    stale by construction).

    Composes three shipped operators end-to-end:
    `operators.dedup.minhash_dedup` (bucketed candidates) →
    `connected_components` (Pregel min-label, checkpointed) → the
    `text_quality_classifier_lr` scorer (map-only). The winner argmax is
    a component-PARTITIONED window on 6-dp-rounded scores — exact in
    both engines. Oracle: recursive-CTE closure over the pair graph
    (tiny bounded components) + the same score chain.
    """
    from dataframe_differ_spark.operators.dedup import connected_components

    # Round 10: pairs come from the shared session cache (the chain is
    # identical to dedup_near's — VERDICT r9 measured the rebuild at the
    # top of the bench slowest set).
    corpus, chain_pairs = _near_dup_chain_cached(spark, sf_dir)
    pairs = chain_pairs.select("doc_a", "doc_b")
    comp = connected_components(pairs, "doc_a", "doc_b")
    t = F.expr("filter(split(text, ' '), x -> x != '')")
    feats = corpus.select(
        "doc_id",
        (F.size(F.array_distinct(t)).cast("double") / F.size(t)).alias("f_div"),
        (F.length("text").cast("double") / F.size(t)).alias("f_len"),
        (
            F.expr("size(filter(filter(split(text, ' '), x -> x != ''), "
                   "x -> x = 'the' OR x = 'a'))").cast("double")
            / F.size(t)
        ).alias("f_stop"),
        (F.length("text").cast("double") / 600.0).alias("f_size"),
    )
    scored = feats.select(
        "doc_id",
        F.round(F.expr(f"1.0 / (1.0 + exp(-({_LRQ_Z})))"), 6).alias("q_score"),
    )
    j = comp.join(scored, comp["v"] == scored["doc_id"]).select(
        "component_id", "doc_id", "q_score"
    )
    w = Window.partitionBy("component_id").orderBy(
        F.col("q_score").desc(), "doc_id"
    )
    wc = Window.partitionBy("component_id")
    r = j.withColumn("rn", F.row_number().over(w)).withColumn(
        "n_members", F.count(F.lit(1)).over(wc).cast("long")
    )
    return r.filter(F.col("rn") == 1).select(
        "component_id",
        F.col("doc_id").alias("keep_doc"),
        F.col("q_score").alias("keep_score"),
        "n_members",
        (F.col("n_members") - 1).alias("n_dropped"),
    )


# ---------------------------------------------------------------------------
# TextRank keyword extraction (round 9): PageRank on the word
# co-occurrence graph — graph family × text family composition.
# ---------------------------------------------------------------------------


# One unrolled integer-PageRank iteration (r{p} → i{n} → r{n}) over
# edges / outw / nodes CTEs: shared by TextRank and graph_pagerank_nations.
_PAGERANK_ITER = """
i{n} AS (
  SELECT e.dst AS node, CAST(SUM((r.r * e.w) // o.ow) AS BIGINT) AS s
  FROM edges e
  JOIN r{p} r ON e.src = r.node
  JOIN outw o ON e.src = o.src
  GROUP BY e.dst),
r{n} AS (
  SELECT n.node, CAST(6000 + COALESCE(i.s, 0) * 85 // 100 AS BIGINT) AS r
  FROM nodes n LEFT JOIN i{n} i ON n.node = i.node)"""

_TEXTRANK_SQL = (
    """
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM documents),
co AS (
  SELECT t[i] AS a, t[i + g.g] AS b
  FROM toks
  CROSS JOIN (SELECT unnest(range(1, 3)) AS g) g,
       unnest(range(1, len(t) + 1)) AS u(i)
  WHERE i + g.g <= len(t)),
edges AS (
  SELECT src, dst, CAST(SUM(w) AS BIGINT) AS w FROM (
    SELECT a AS src, b AS dst, COUNT(*) AS w FROM co WHERE a <> b GROUP BY 1, 2
    UNION ALL
    SELECT b AS src, a AS dst, COUNT(*) AS w FROM co WHERE a <> b GROUP BY 1, 2)
  GROUP BY src, dst),
outw AS (SELECT src, CAST(SUM(w) AS BIGINT) AS ow FROM edges GROUP BY src),
nodes AS (SELECT DISTINCT src AS node FROM edges),
r0 AS (SELECT node, CAST(40000 AS BIGINT) AS r FROM nodes),"""
    + ",".join(_PAGERANK_ITER.format(n=i, p=i - 1) for i in (1, 2, 3))
    + """
SELECT node AS word, r AS rank_micros
FROM r3 ORDER BY r DESC, node LIMIT 10
"""
)


@register("text_textrank_keywords", oracle=_TEXTRANK_SQL)
def q_text_textrank_keywords(spark, sf_dir):
    """TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank
    over the word co-occurrence graph (undirected edges between words
    within a ±2-token window, weighted by corpus co-occurrence count),
    3 damped power iterations, top-10 words — the graph-based
    alternative to `text_rake_keywords`'s degree scoring and
    `text_pmi_cooccurrence`'s pointwise association.

    Reuses the `graph_pagerank_nations` INTEGER device, sharing its
    iteration CTE `_PAGERANK_ITER` (per-node micro-units: r0 = 40000,
    teleport 6000, damp 85//100, truncating contribution division) so
    three unrolled iterations are bit-identical cross-engine — float
    TextRank would diverge in summation order. Plan: one corpus scan explodes the window pairs
    (the only corpus-scale stage), the edge list collapses to
    vocabulary² max (KB here), and each iteration is a broadcast join
    of the rank vector against it — the `graph family deployment map's
    cost model applies with |E| = vocab-co-occurrence, not corpus.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.expr("filter(split(text, ' '), x -> x != '')").alias("t")
    )
    co = toks.select(
        F.explode(
            F.expr(
                "flatten(transform(array(1, 2), g -> "
                "zip_with(slice(t, 1, size(t) - g), slice(t, g + 1, size(t) - g),"
                " (a, b) -> struct(a, b))))"
            )
        ).alias("p")
    ).select(F.col("p.a").alias("a"), F.col("p.b").alias("b")).filter(
        F.col("a") != F.col("b")
    )
    half = co.groupBy(F.col("a").alias("src"), F.col("b").alias("dst")).agg(
        F.count(F.lit(1)).alias("w")
    )
    edges = (
        half.unionByName(
            half.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
            )
        )
        .groupBy("src", "dst")
        .agg(F.sum("w").cast("long").alias("w"))
        .localCheckpoint(eager=False)
    )
    outw = edges.groupBy("src").agg(F.sum("w").cast("long").alias("ow"))
    nodes = edges.select(F.col("src").alias("node")).distinct()
    ranks = nodes.withColumn("r", F.lit(40000).cast("bigint"))
    for _ in range(3):
        contrib = (
            edges.join(F.broadcast(ranks), edges["src"] == ranks["node"])
            .join(F.broadcast(outw), "src")
            .select("dst", F.expr("(r * w) div ow").alias("c"))
        )
        inc = contrib.groupBy("dst").agg(F.sum("c").alias("s"))
        ranks = nodes.join(inc, nodes["node"] == inc["dst"], "left").select(
            "node",
            (
                F.lit(6000).cast("bigint")
                + F.expr("coalesce(s, 0) * 85 div 100")
            ).alias("r"),
        )
    return (
        ranks.orderBy(F.col("r").desc(), "node")
        .limit(10)
        .select(F.col("node").alias("word"), F.col("r").alias("rank_micros"))
    )


# ---------------------------------------------------------------------------
# Leakage-safe train/val/test split (round 10): dedup components are the
# split unit, so near-duplicates can never straddle a split boundary.
# ---------------------------------------------------------------------------

_SPLIT_SAFE_SQL = f"""
WITH RECURSIVE np AS ({_NEAR_SQL}),
corpus AS (
  SELECT doc_id FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id
  FROM documents WHERE doc_id % 13 = 0),
und AS (SELECT doc_a AS src, doc_b AS dst FROM np
        UNION ALL SELECT doc_b AS src, doc_a AS dst FROM np),
reach(v, label) AS (
  SELECT doc_id AS v, doc_id AS label FROM corpus
  UNION
  SELECT und.dst AS v, reach.label
  FROM reach JOIN und ON reach.v = und.src),
comp AS (SELECT v, MIN(label) AS component_id FROM reach GROUP BY v),
asg AS (
  SELECT v AS doc_id, component_id,
         CASE WHEN h <= 7 THEN 'train'
              WHEN h = 8 THEN 'val'
              ELSE 'test' END AS split
  FROM (SELECT v, component_id,
               ('0x' || substr(md5(CAST(component_id AS VARCHAR)), 1, 6))
                 ::BIGINT % 10 AS h
        FROM comp)),
per AS (
  SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(COUNT(DISTINCT component_id) AS BIGINT) AS n_components
  FROM asg GROUP BY split),
lk AS (
  SELECT a.split AS split, CAST(COUNT(*) AS BIGINT) AS leak_pairs
  FROM np
  JOIN asg a ON a.doc_id = np.doc_a
  JOIN asg b ON b.doc_id = np.doc_b
  WHERE a.split <> b.split
  GROUP BY a.split)
SELECT p.split, p.n_docs, p.n_components,
       COALESCE(lk.leak_pairs, CAST(0 AS BIGINT)) AS leak_pairs
FROM per p LEFT JOIN lk ON lk.split = p.split
"""


@register("split_leakage_safe", oracle=_SPLIT_SAFE_SQL)
def q_split_leakage_safe(spark, sf_dir):
    """Dedup-aware train/val/test split: the split unit is the NEAR-DUP
    COMPONENT, not the document — a naive per-doc hash split leaks a
    training doc's near-duplicate into eval and inflates every metric
    (the `contamination_check` failure mode, prevented at split time
    instead of detected after).

    Pipeline: the shared MinHash chain (`_near_dup_chain_cached`) →
    `connected_components` over ALL corpus docs (isolated docs are
    their own singleton component) → 80/10/10 assignment by a portable
    md5 hash of component_id (every member inherits the component's
    split) → per-split doc/component counts PLUS an in-query leakage
    audit: the count of near-dup pairs straddling this split and any
    other — structurally zero, and the query proves it on every run
    rather than asserting it in a comment.

    100 TB: CC is the O(diameter) checkpointed loop; the split
    assignment is one map-side hash; the audit join keys on doc_id
    (uniform). The pair table and components are the same cached
    frames every other dedup query shares. Full-oracle: recursive-CTE
    closure + identical md5 bucketing.
    """
    from dataframe_differ_spark.operators.dedup import connected_components

    corpus, chain_pairs = _near_dup_chain_cached(spark, sf_dir)
    pairs = chain_pairs.select("doc_a", "doc_b")
    vertices = corpus.select(F.col("doc_id").alias("v"))
    comp = connected_components(pairs, "doc_a", "doc_b", vertices=vertices)
    h = (
        F.conv(
            F.substring(F.md5(F.col("component_id").cast("string")), 1, 6),
            16,
            10,
        ).cast("long")
        % 10
    )
    asg = comp.select(
        F.col("v").alias("doc_id"),
        "component_id",
        F.when(h <= 7, F.lit("train"))
        .when(h == 8, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )
    per = asg.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("component_id").alias("n_components"),
    )
    sa = asg.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a"))
    sb = asg.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b"))
    lk = (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .groupBy(F.col("split_a").alias("split"))
        .agg(F.count(F.lit(1)).alias("lp"))
    )
    return per.join(lk, "split", "left").select(
        "split",
        "n_docs",
        "n_components",
        F.coalesce(F.col("lp"), F.lit(0).cast("long")).alias("leak_pairs"),
    )


# ---------------------------------------------------------------------------
# ROUGE-1/2 F1 pair grading (round 10): the recall-oriented twin of
# eval_bleu_pairs over the same cached near-dup pair table.
# ---------------------------------------------------------------------------

_ROUGE_SQL = _PAIR_GRAM_CLIP_CTES + f"""stats AS (
  SELECT p.doc_a, p.doc_b,
         COALESCE(c1.m, CAST(0 AS BIGINT)) AS m1,
         COALESCE(c2.m, CAST(0 AS BIGINT)) AS m2,
         t1r.tot AS uni_ref, t1c.tot AS uni_cand,
         COALESCE(t2r.tot, CAST(0 AS BIGINT)) AS big_ref,
         COALESCE(t2c.tot, CAST(0 AS BIGINT)) AS big_cand
  FROM np p
  LEFT JOIN clip c1 ON c1.doc_a = p.doc_a AND c1.doc_b = p.doc_b AND c1.n = 1
  LEFT JOIN clip c2 ON c2.doc_a = p.doc_a AND c2.doc_b = p.doc_b AND c2.n = 2
  JOIN tots t1r ON t1r.doc_id = p.doc_a AND t1r.n = 1
  JOIN tots t1c ON t1c.doc_id = p.doc_b AND t1c.n = 1
  LEFT JOIN tots t2r ON t2r.doc_id = p.doc_a AND t2r.n = 2
  LEFT JOIN tots t2c ON t2c.doc_id = p.doc_b AND t2c.n = 2)
SELECT doc_a, doc_b, m1, m2,
       ROUND(CAST(2 * m1 AS DOUBLE) / (uni_cand + uni_ref), 9) AS rouge1_f1,
       CASE WHEN big_cand + big_ref = 0 THEN 0.0
            ELSE ROUND(CAST(2 * m2 AS DOUBLE) / (big_cand + big_ref), 9)
       END AS rouge2_f1
FROM stats
"""


@register("eval_rouge_pairs", oracle=_ROUGE_SQL)
def q_eval_rouge_pairs(spark, sf_dir):
    """ROUGE-1/ROUGE-2 F1 (Lin 2004) for every near-duplicate pair the
    MinHash detector surfaces — the recall-oriented twin of
    `eval_bleu_pairs` (BLEU asks "how much of the candidate is in the
    reference", ROUGE asks the reverse; a truncated twin scores high
    BLEU precision but its ROUGE recall exposes how much was lost).
    Lower doc_id is the reference, higher the candidate.

    Determinism: F1 = 2·P·R/(P+R) collapses algebraically to
    2·overlap / (cand_total + ref_total) — ONE division of exact
    BIGINTs (the `eval_dedup_pr` device), so unlike BLEU there is no
    libm at all; the zero-bigram degenerate (both docs single-token)
    pins F1 = 0.0 in both engines. Plan: identical to BLEU's — pairs
    come from the session-cached chain, gram tables semi-join to used
    docs, every join keys on (pair, n, gram); pair-bounded, nothing
    quadratic.
    """
    corpus, pairs = _near_dup_chain_cached(spark, sf_dir)
    np_pairs = pairs.select("doc_a", "doc_b")
    c1, c2, tots = _pair_gram_clips(corpus, pairs)

    def tot_of(n, idc, out):
        return tots.filter(F.col("n") == n).select(
            F.col("doc_id").alias(idc), F.col("tot").alias(out)
        )

    stats = (
        np_pairs.join(
            c1,
            (F.col("a1") == F.col("doc_a")) & (F.col("b1") == F.col("doc_b")),
            "left",
        )
        .join(
            c2,
            (F.col("a2") == F.col("doc_a")) & (F.col("b2") == F.col("doc_b")),
            "left",
        )
        .join(tot_of(1, "r1", "uni_ref"), F.col("r1") == F.col("doc_a"))
        .join(tot_of(1, "k1", "uni_cand"), F.col("k1") == F.col("doc_b"))
        .join(
            tot_of(2, "r2", "big_ref"), F.col("r2") == F.col("doc_a"), "left"
        )
        .join(
            tot_of(2, "k2", "big_cand"), F.col("k2") == F.col("doc_b"), "left"
        )
        .select(
            "doc_a",
            "doc_b",
            F.coalesce(F.col("m1"), F.lit(0).cast("long")).alias("m1"),
            F.coalesce(F.col("m2"), F.lit(0).cast("long")).alias("m2"),
            "uni_ref",
            "uni_cand",
            F.coalesce(F.col("big_ref"), F.lit(0).cast("long")).alias("big_ref"),
            F.coalesce(F.col("big_cand"), F.lit(0).cast("long")).alias(
                "big_cand"
            ),
        )
    )
    return stats.select(
        "doc_a",
        "doc_b",
        "m1",
        "m2",
        F.round(
            (F.lit(2) * F.col("m1")).cast("double")
            / (F.col("uni_cand") + F.col("uni_ref")),
            9,
        ).alias("rouge1_f1"),
        F.when(F.col("big_cand") + F.col("big_ref") == 0, F.lit(0.0))
        .otherwise(
            F.round(
                (F.lit(2) * F.col("m2")).cast("double")
                / (F.col("big_cand") + F.col("big_ref")),
                9,
            )
        )
        .alias("rouge2_f1"),
    )
