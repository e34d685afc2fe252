"""Warehouse / migration-validation composites (late round 1).

Operators a reference user migrating real pipelines would reach for next:
batch MERGE upsert, SCD2 time-travel snapshot diff, keyed diff over a
vector (array) column, column-name-mapped diff, per-dimension embedding
stats, and edit-distance fuzzy entity dedup. Each follows the engine's
parity contract: deterministic derivations expressed identically in Spark
and the DuckDB oracle, exact cross-engine arithmetic only (IEEE single-op
or integer/decimal paths — see BASELINE.md parity lessons).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

import dataframe_differ_spark.operators.diff_core as D
from dataframe_differ_spark.queries import register
from dataframe_differ_spark.queries.diff_queries import (
    DIFF_KEYED_SQL,
    _distinct_clause,
)
from dataframe_differ_spark.queries._mutation import (
    MUTATED_ORDERS_SQL,
    mutated_orders,
)
from dataframe_differ_spark.tables import load_table

ORDER_OUT = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
]


_MERGE_SQL = """
WITH chg AS (
  SELECT o_orderkey AS k, 'D' AS op, CAST(NULL AS DOUBLE) AS new_price
  FROM orders WHERE o_orderkey % 13 = 0
  UNION ALL
  SELECT o_orderkey, 'U', o_totalprice * 1.05
  FROM orders WHERE o_orderkey % 13 <> 0 AND o_orderkey % 7 = 0)
SELECT t.o_orderkey, t.o_custkey, t.o_orderstatus,
       CASE WHEN c.op = 'U' THEN c.new_price ELSE t.o_totalprice END
         AS o_totalprice,
       t.o_orderdate, t.o_orderpriority
FROM orders t LEFT JOIN chg c ON t.o_orderkey = c.k
WHERE c.op IS NULL OR c.op <> 'D'
UNION ALL
SELECT o_orderkey + 20000000, o_custkey, o_orderstatus, o_totalprice,
       o_orderdate, o_orderpriority
FROM orders WHERE o_orderkey % 11 = 0
"""


@register("merge_upsert", oracle=_MERGE_SQL)
def q_merge_upsert(spark, sf_dir):
    """Batch MERGE INTO semantics: apply a CDC changeset to a snapshot.

    The classic warehouse upsert (WHEN MATCHED UPDATE / DELETE, WHEN NOT
    MATCHED INSERT) as one left join on the target key plus a union of the
    inserts — the same plan Delta/Iceberg MERGE lowers to. One shuffle on
    o_orderkey (AQE may broadcast the changeset when it is small enough);
    at 100 TB the join key is the table's natural key so AQE skew-split
    handles hot keys. The changeset is derived deterministically from
    orders itself so both engines merge the identical pair; the 1.05
    price revision is one IEEE double multiply — bit-identical cross-engine.

    Thin binding over the parametric
    :func:`operators.warehouse.merge_upsert` (round-7 extraction) —
    the op-tagged changeset (U/D/I) applies to any keyed target.
    """
    from dataframe_differ_spark.operators.warehouse import merge_upsert

    orders = load_table(spark, sf_dir, "orders").select(*ORDER_OUT)
    k = F.col("o_orderkey")
    dels = orders.filter(k % 13 == 0).select(
        "o_orderkey",
        F.lit("D").alias("op"),
        F.lit(None).cast("double").alias("new_price"),
    )
    upds = orders.filter((k % 13 != 0) & (k % 7 == 0)).select(
        "o_orderkey",
        F.lit("U").alias("op"),
        (F.col("o_totalprice") * F.lit(1.05)).alias("new_price"),
    )
    ins = (
        orders.filter(k % 11 == 0)
        .withColumn("o_orderkey", k + F.lit(20000000))
        .withColumn("op", F.lit("I"))
        .withColumn("new_price", F.lit(None).cast("double"))
    )
    changes = dels.unionByName(upds).unionByName(
        ins, allowMissingColumns=True
    )
    return merge_upsert(
        orders, changes, ["o_orderkey"], update_map={"o_totalprice": "new_price"}
    )


_SNAP_SQL = """
WITH e AS (
  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id
  FROM events WHERE event_type IN ('signup', 'purchase')),
s1 AS (
  SELECT user_id, event_type AS state FROM (
    SELECT user_id, event_type,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM e WHERE ts <= TIMESTAMP '2024-01-10 00:00:00') WHERE rn = 1),
s2 AS (
  SELECT user_id, event_type AS state FROM (
    SELECT user_id, event_type,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM e WHERE ts <= TIMESTAMP '2024-01-20 00:00:00') WHERE rn = 1)
SELECT CASE WHEN s1.user_id IS NULL THEN 'I'
            WHEN s2.user_id IS NULL THEN 'D'
            WHEN s1.state IS DISTINCT FROM s2.state THEN 'C'
            ELSE 'N' END AS diff_status,
       COALESCE(s1.user_id, s2.user_id) AS user_id,
       s1.state AS state_left, s2.state AS state_right
FROM s1 FULL OUTER JOIN s2 ON s1.user_id = s2.user_id
"""


@register("diff_scd2_snapshots", oracle=_SNAP_SQL)
def q_diff_scd2_snapshots(spark, sf_dir):
    """Time-travel diff: reconstruct two point-in-time snapshots from an
    SCD2-style state stream and diff them with the keyed diff core.

    Composes the warehouse time-travel pattern (state at T = the latest
    state-change event <= T, per key) with Layer A's diff: the answer to
    "what changed between the Jan-10 and Jan-20 snapshots?". Each snapshot
    is one row_number window over user_id (same shuffle key both times, so
    the diff's full-outer join reuses the partitioning); statuses come out
    as N/C/I/D exactly like any other keyed diff. ts is normalized to µs
    in the oracle (events.ts is ns in parquet — FIXTURES.md).

    Thin binding over the parametric
    :func:`operators.warehouse.snapshot_at` (round-7 extraction)
    composed with the Layer-A keyed diff core.
    """
    from dataframe_differ_spark.operators.warehouse import snapshot_at

    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("signup", "purchase"))
        .select("user_id", "event_type", "ts", "event_id")
    )

    def snapshot(cutoff: str):
        return snapshot_at(
            e, ["user_id"], "ts", cutoff, tiebreak_cols=["event_id"]
        ).select("user_id", F.col("event_type").alias("state"))

    return D.diff(
        snapshot("2024-01-10 00:00:00"),
        snapshot("2024-01-20 00:00:00"),
        ["user_id"],
    )


@register(
    "diff_vector_col",
    oracle="""
WITH l AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
     r AS (
       SELECT vec_id,
              CASE WHEN vec_id % 17 = 0
                   THEN list_transform(e, x -> x + 0.5) ELSE e END AS e
       FROM l WHERE vec_id % 23 <> 0
       UNION ALL
       SELECT vec_id + 1000000, e FROM l WHERE vec_id % 29 = 0),
     base AS (
       SELECT CASE WHEN l.vec_id IS NULL THEN 'I'
                   WHEN r.vec_id IS NULL THEN 'D'
                   WHEN l.e IS DISTINCT FROM r.e THEN 'C'
                   ELSE 'N' END AS diff_status,
              COALESCE(l.vec_id, r.vec_id) AS vec_id,
              l.e AS le, r.e AS re
       FROM l FULL OUTER JOIN r ON l.vec_id = r.vec_id)
SELECT diff_status, vec_id,
       CASE WHEN diff_status = 'C'
            THEN CAST(len(list_filter(range(64),
                     i -> abs(le[CAST(i AS INT) + 1]
                              - re[CAST(i AS INT) + 1]) > 0.25)) AS INT)
            WHEN diff_status = 'N' THEN 0
            ELSE NULL END AS n_changed_dims
FROM base
""",
)
def q_diff_vector_col(spark, sf_dir):
    """Keyed diff over an array<float> vector column (embeddings table).

    Validating an embedding-pipeline migration needs diff over vectors:
    status comes from ``diff()`` on ``vec_id``, i.e. native array equality
    (one codegen'd comparison per row — Spark arrays are comparable, no
    UDF), and changed rows get n_changed_dims counted relationally
    (posexplode both sides, equi-join on (vec_id, dim), filter, count). The relational count avoids nested
    HOF lambdas over join outputs (Spark 4 analyzer pitfall — BASELINE.md)
    and keeps every step whole-stage-codegen. Two shuffles total, both on
    vec_id-derived keys. The +0.5 perturbation is one IEEE double add —
    bit-identical cross-engine, and > the 0.25 report threshold.
    """
    l = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    vk = F.col("vec_id")
    r = (
        l.filter(vk % 23 != 0)
        .withColumn(
            "e",
            F.when(
                vk % 17 == 0, F.transform("e", lambda x: x + F.lit(0.5))
            ).otherwise(F.col("e")),
        )
        .unionByName(
            l.filter(vk % 29 == 0).withColumn("vec_id", vk + F.lit(1000000))
        )
    )
    base = D.diff(l, r, ["vec_id"]).select("diff_status", "vec_id")
    lx = l.select("vec_id", F.posexplode("e").alias("dim", "lx"))
    rx = r.select("vec_id", F.posexplode("e").alias("dim", "rx"))
    changed = (
        lx.join(rx, ["vec_id", "dim"])
        .filter(F.abs(F.col("lx") - F.col("rx")) > 0.25)
        .groupBy("vec_id")
        .agg(F.count("*").cast("int").alias("n_cd"))
    )
    return base.join(changed, "vec_id", "left").select(
        "diff_status",
        "vec_id",
        F.when(F.col("diff_status") == "C", F.coalesce("n_cd", F.lit(0)))
        .when(F.col("diff_status") == "N", F.lit(0))
        .otherwise(F.lit(None))
        .cast("int")
        .alias("n_changed_dims"),
    )


@register("diff_colmap", oracle=DIFF_KEYED_SQL)
def q_diff_colmap(spark, sf_dir):
    """Keyed diff across renamed schemas via ``column_mapping``.

    The migration-validation case where the rewritten pipeline renamed
    columns: the right side here carries ``total_price``/``status_code``
    instead of ``o_totalprice``/``o_orderstatus``, and the mapping aligns
    them. Pure plan-time rename (zero runtime cost), so the oracle is the
    canonical keyed-diff SQL — identical output proves the mapping round-
    trips exactly.
    """
    left = load_table(spark, sf_dir, "orders")
    right = mutated_orders(left).withColumnsRenamed(
        {"o_totalprice": "total_price", "o_orderstatus": "status_code"}
    )
    return D.diff(
        left,
        right,
        ["o_orderkey"],
        column_mapping={
            "o_totalprice": "total_price",
            "o_orderstatus": "status_code",
        },
    )


@register(
    "emb_dim_stats",
    oracle="""
WITH ex AS (
  SELECT CAST(t.i AS INTEGER) AS dim,
         e.e[CAST(t.i AS INT) + 1] AS x
  FROM (SELECT embedding::DOUBLE[] AS e FROM embeddings) e,
       UNNEST(range(64)) AS t(i))
SELECT dim, COUNT(*) AS n,
       CAST(SUM(CAST(FLOOR(x * 1000000.0) AS BIGINT)) AS DOUBLE)
         / COUNT(*) AS mean_micro,
       MIN(x) AS min_val, MAX(x) AS max_val
FROM ex GROUP BY dim
""",
)
def q_emb_dim_stats(spark, sf_dir):
    """Per-dimension embedding distribution stats (posexplode + groupBy).

    The profiling step before normalizing / whitening an embedding column:
    per-dimension count, mean, min, max. The mean uses FLOOR-quantized
    micro-units summed as BIGINT — floor has no tie-breaking, and
    x * 1e6 is a single IEEE multiply, so the sum is exactly reproducible
    in any engine and under any partial-aggregation order (a raw double
    or decimal-cast sum over full-precision float32 values is not —
    half-way rounding ties diverge cross-engine, BASELINE.md). One
    explode (64× fan-out, map-side) and one 64-key groupBy with partial
    aggregation; at 100 TB this is scan-bound with a tiny shuffle.
    """
    ex = load_table(spark, sf_dir, "embeddings").select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "dim", "x"
        )
    )
    return ex.groupBy("dim").agg(
        F.count("*").alias("n"),
        (
            F.sum(F.floor(F.col("x") * F.lit(1000000.0)).cast("bigint")).cast(
                "double"
            )
            / F.count("*")
        ).alias("mean_micro"),
        F.min("x").alias("min_val"),
        F.max("x").alias("max_val"),
    )


@register(
    "diff_sampled_screen",
    oracle=f"""
WITH right_t AS ({MUTATED_ORDERS_SQL}),
     l AS (SELECT * FROM orders
           WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) = '0'),
     r AS (SELECT * FROM right_t
           WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) = '0'),
     d AS (
       SELECT CASE WHEN l.o_orderkey IS NULL THEN 'I'
                   WHEN r.o_orderkey IS NULL THEN 'D'
                   WHEN {_distinct_clause()}
                   THEN 'C' ELSE 'N' END AS diff_status
       FROM l FULL OUTER JOIN r ON l.o_orderkey = r.o_orderkey)
SELECT diff_status, COUNT(*) AS cnt, COUNT(*) * 16 AS est_total
FROM d GROUP BY diff_status
""",
)
def q_diff_sampled_screen(spark, sf_dir):
    """Hash-sampled diff screen: diff 1/16 of the keyspace, extrapolate.

    The cheap pre-screen before a 100 TB full diff: both sides keep only
    keys whose md5 first hex digit is '0' (deterministic, engine- and
    partitioning-independent — the same property the hash split relies
    on; a key is in the sample on both sides or neither, so per-key
    diff semantics are exact within the sample). Scans read 100% but the
    join shuffles ~6% of rows; with the key-bucket predicate expressed on
    a partition column the scan prunes too. est_total extrapolates each
    status count by the sampling factor.
    """
    left = load_table(spark, sf_dir, "orders")
    right = mutated_orders(left)

    def sample(df):
        return df.filter(
            F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1)
            == "0"
        )

    return D.diff_summary(sample(left), sample(right), ["o_orderkey"]).select(
        "diff_status",
        "cnt",
        (F.col("cnt") * F.lit(16)).alias("est_total"),
    )


@register(
    "agg_incremental_maintain",
    oracle=f"""
WITH merged AS ({_MERGE_SQL})
SELECT o_custkey, COUNT(*) AS cnt,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,9))) AS DOUBLE) AS total
FROM merged GROUP BY o_custkey
""",
)
def q_agg_incremental_maintain(spark, sf_dir):
    """Incremental maintenance of a materialized aggregate from a CDC
    changeset — verified against a full recompute (the oracle).

    The 100 TB pattern this encodes: never recompute a petabyte rollup for
    a day of changes. Each change row contributes an additive delta
    (delete → (-1, -x), update → (0, new-x), insert → (+1, +x)); the
    maintained aggregate is base ⊕ delta, one tiny shuffle over the delta
    plus one join against the existing rollup — cost proportional to the
    CHANGESET, not the base table. Correct because (count, sum) is an
    abelian-group aggregate; sums run in exact decimal so the incremental
    result is bit-identical to the recompute on any engine and any
    partitioning (IEEE double addition would not associate). Groups whose
    count reaches zero are dropped, matching the recompute.
    """
    orders = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    dec = lambda c: c.cast("decimal(38,9)")  # noqa: E731
    base = orders.groupBy("o_custkey").agg(
        F.count("*").alias("b_cnt"),
        F.sum(dec(F.col("o_totalprice"))).alias("b_total"),
    )
    deltas = (
        orders.filter(k % 13 == 0).select(
            "o_custkey",
            F.lit(-1).alias("dcnt"),
            (-dec(F.col("o_totalprice"))).alias("dtotal"),
        )
        .unionByName(
            orders.filter((k % 13 != 0) & (k % 7 == 0)).select(
                "o_custkey",
                F.lit(0).alias("dcnt"),
                (
                    dec(F.col("o_totalprice") * F.lit(1.05))
                    - dec(F.col("o_totalprice"))
                ).alias("dtotal"),
            )
        )
        .unionByName(
            orders.filter(k % 11 == 0).select(
                "o_custkey",
                F.lit(1).alias("dcnt"),
                dec(F.col("o_totalprice")).alias("dtotal"),
            )
        )
    )
    delta = deltas.groupBy("o_custkey").agg(
        F.sum("dcnt").alias("d_cnt"), F.sum("dtotal").alias("d_total")
    )
    zero = F.lit(0).cast("decimal(38,9)")
    return (
        base.join(delta, "o_custkey", "full_outer")
        .select(
            "o_custkey",
            (F.coalesce("b_cnt", F.lit(0)) + F.coalesce("d_cnt", F.lit(0)))
            .alias("cnt"),
            (F.coalesce("b_total", zero) + F.coalesce("d_total", zero))
            .alias("total"),
        )
        .filter(F.col("cnt") > 0)
        .select("o_custkey", "cnt", F.col("total").cast("double").alias("total"))
    )


def _fastss_variants():
    """FastSS ≤2-deletion neighborhood of ``c_name`` as an array Column.

    Used by the capped form (`dedup_fuzzy_names_capped`, md5-portable
    sigs); the exact form rebound to the round-8 parametric
    :func:`operators.dedup.fastss_signatures`, whose variant expression
    is this one with the column name parameterized — the pytest
    agreement test between capped and exact keeps the two from
    drifting. Built entirely with JVM-side HOFs (transform/flatten over
    index sequences) — no Python per row.
    """
    L = F.length("c_name")
    del1 = F.expr(
        "transform(sequence(1, length(c_name)), d -> "
        "concat(substring(c_name, 1, d - 1), substring(c_name, d + 1, length(c_name))))"
    )
    del2 = F.expr(
        "flatten(transform(sequence(1, length(c_name) - 1), d1 -> "
        "transform(sequence(d1 + 1, length(c_name)), d2 -> "
        "concat(substring(c_name, 1, d1 - 1), "
        "substring(c_name, d1 + 1, d2 - d1 - 1), "
        "substring(c_name, d2 + 1, length(c_name))))))"
    )
    return F.array_distinct(
        F.concat(
            F.array(F.col("c_name")),
            F.when(L >= 1, del1).otherwise(F.array()),
            F.when(L >= 2, del2).otherwise(F.array()),
        )
    )


@register(
    "dedup_fuzzy_names",
    oracle="""
SELECT a.c_custkey AS custkey_a, b.c_custkey AS custkey_b,
       a.c_nationkey AS nationkey,
       CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS dist
FROM customer a JOIN customer b
  ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
WHERE levenshtein(a.c_name, b.c_name) <= 2
""",
    scale_path="dedup_fuzzy_names_capped",
)
def q_dedup_fuzzy_names(spark, sf_dir):
    """Fuzzy entity dedup: edit-distance pairs via FastSS deletion blocking.

    The record-linkage primitive: candidate duplicate entities whose names
    are within Levenshtein distance 2. Round 1 shipped this nation-blocked
    all-pairs (O(n²/25) levenshtein calls — 9.3× wall at 10× data, the
    round's scale-probe worst case). This form is the FastSS scheme
    (Bocek et al., 2007): every name emits its ≤2-deletion neighborhood
    (all strings obtained by deleting at most 2 characters, ~1+L+L²/2
    variants, built with JVM-side transform/flatten HOFs and hashed to
    64-bit signatures), and candidate pairs are rows sharing a signature
    within the nation block — a provable SUPERSET of all pairs at edit
    distance ≤ 2 (each edit op deletes at most one aligned char from each
    side), then the banded levenshtein(·,·,2) verifies exactly. Work is
    O(n·L²) signature rows + output-bound candidates instead of O(n²)
    pairs; the shuffle key is (nation, signature) whose buckets stay
    small because a shared variant pins the entire remaining string.
    Pure relational plan — survives 100 TB where the all-pairs form dies.

    Round 8: thin binding over the parametric
    :func:`operators.dedup.fastss_signatures` /
    :func:`operators.dedup.fastss_pairs` (bit-identical plan — the
    extraction moved the code, not the shape). ``repartition_by``
    rebalances BEFORE the ~100× variant explode (AQE only rebalances at
    the next shuffle — too late for the explode's own task), and names
    travel INSIDE the signature rows (the narrow re-join alternative
    measured 1.6× slower at 10× data — see fastss_pairs's docstring).
    The signature frame is also the persistable blocking artifact
    (operators/persistence.py kind ``fastss_signatures``).
    """
    from dataframe_differ_spark.operators.dedup import (
        fastss_pairs,
        fastss_signatures,
    )

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    sigs = fastss_signatures(c, "c_name", repartition_by=["c_custkey"])
    pairs = fastss_pairs(
        sigs, "c_custkey", "c_name", block_cols=["c_nationkey"], max_dist=2
    )
    return pairs.select(
        F.col("c_custkey_a").alias("custkey_a"),
        F.col("c_custkey_b").alias("custkey_b"),
        F.col("c_nationkey").alias("nationkey"),
        "dist",
    )


# Bucket cap for the scale form of the FastSS fuzzy dedup: at 100 TB a
# viral name value (think "John Smith" in a person table) makes its
# (nation, signature) buckets grow linearly with rows, and pair generation
# inside a bucket costs |bucket|² — so each bucket keeps only its top-64
# members by a deterministic engine-portable hash of the member key (an
# unbiased fixed-size sample, the same mitigation as
# graph_link_prediction_capped's neighbor cap). The election key is
# md5(custkey) alone — bucket-INdependent — so a record elected in one of
# its signature buckets is elected in all of them and the kept sub-corpus
# is coherent. 64 ≥ every real bucket here (max 24 at sf0.01, 42 at
# sf0.1, measured), so capped == exact on the corpus; the cap binds only
# on the hot buckets it exists to protect (pytest asserts both).
_FUZZY_CAP = 64

_FUZZY_CAPPED_SQL = f"""
WITH vars AS (
  SELECT c_custkey, c_name, c_nationkey,
         unnest(list_distinct(
           [c_name]
           || [substr(c_name, 1, d - 1) || substr(c_name, d + 1, length(c_name))
               for d in range(1, length(c_name) + 1)]
           || flatten([[substr(c_name, 1, d1 - 1)
                        || substr(c_name, d1 + 1, d2 - d1 - 1)
                        || substr(c_name, d2 + 1, length(c_name))
                        for d2 in range(d1 + 1, length(c_name) + 1)]
                       for d1 in range(1, length(c_name))])
         )) AS v
  FROM customer),
sigs AS (
  SELECT c_custkey, c_name, c_nationkey,
         ('0x' || substr(md5(v), 1, 15))::BIGINT AS sig FROM vars),
capped AS (
  SELECT c_custkey, c_name, c_nationkey, sig FROM (
    SELECT c_custkey, c_name, c_nationkey, sig,
           ROW_NUMBER() OVER (PARTITION BY c_nationkey, sig
             ORDER BY ('0x' || substr(md5(CAST(c_custkey AS VARCHAR)),
                                      1, 15))::BIGINT, c_custkey) AS rn
    FROM sigs) WHERE rn <= {_FUZZY_CAP}),
cand AS (
  SELECT DISTINCT a.c_custkey AS custkey_a, b.c_custkey AS custkey_b,
         a.c_nationkey AS nationkey, a.c_name AS name_a, b.c_name AS name_b
  FROM capped a JOIN capped b
    ON a.c_nationkey = b.c_nationkey AND a.sig = b.sig
   AND a.c_custkey < b.c_custkey)
SELECT custkey_a, custkey_b, nationkey,
       CAST(levenshtein(name_a, name_b) AS INTEGER) AS dist
FROM cand
WHERE levenshtein(name_a, name_b) <= 2
"""


@register("dedup_fuzzy_names_capped", oracle=_FUZZY_CAPPED_SQL)
def q_dedup_fuzzy_names_capped(spark, sf_dir):
    """Bucket-capped FastSS fuzzy dedup — the declared 100 TB form.

    Same scheme as `dedup_fuzzy_names` (shared `_fastss_variants`
    blocking, banded levenshtein(·,·,2) verify), but every (nation,
    signature) bucket is first sampled down to its top-64 members by
    md5(custkey) — see the `_FUZZY_CAP` note above for why the election
    key is bucket-independent. Candidate work drops from Σ|bucket|²
    (which a single viral name turns quadratic at 100× data) to
    Σ min(|bucket|, 64)², at the price of missed pairs among records
    beyond the cap of a hot bucket (none in this corpus — capped == exact
    here, asserted pair-for-pair in pytest along with the C(64,2)
    output bound on a synthetic 200-copy hot bucket).

    The cap itself is the two-phase `partitioned_topk` (operators/ranks),
    so no per-bucket window ever sees more than ~cap·partitions rows even
    on a hot signature. Signatures are 60-bit BIGINTs sliced from md5
    (engine-portable — the minhash device — at a quarter of the shuffle
    width of hex strings); a production deployment would flip to
    xxhash64 exactly as `minhash_dedup(portable=False)` does.
    """
    from dataframe_differ_spark.operators.ranks import partitioned_topk

    c = load_table(spark, sf_dir, "customer")
    variants = _fastss_variants()
    sig60 = F.conv(F.substring(F.md5("v"), 1, 15), 16, 10).cast("long")
    # The election key is a function of the CUSTOMER alone — computed
    # here, before the ~113× variant explode, it is one md5 per customer;
    # left as an expression in partitioned_topk's order_cols it was
    # re-evaluated per variant row inside BOTH ranking windows (round-11
    # measurement, guide §2 "per-task work after the shape is right").
    hkey = F.conv(
        F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 15), 16, 10
    ).cast("long")
    sigs = (
        c.repartition("c_custkey")
        .withColumn("_hk", hkey)
        .select(
            "c_custkey",
            "c_name",
            "c_nationkey",
            "_hk",
            F.explode(variants).alias("v"),
        )
        .select("c_custkey", "c_name", "c_nationkey", "_hk", sig60.alias("sig"))
    )
    capped = partitioned_topk(
        sigs, ["c_nationkey", "sig"], ["_hk", "c_custkey"], _FUZZY_CAP
    ).drop("_hk")
    buckets = (
        capped.groupBy("c_nationkey", "sig")
        .agg(F.sort_array(F.collect_list(F.struct("c_custkey", "c_name"))).alias("m"))
        .filter(F.size("m") >= 2)
    )
    pairs = buckets.select(
        F.col("c_nationkey").alias("nationkey"),
        F.explode(
            F.expr(
                "flatten(transform(m, (x, i) -> "
                "transform(slice(m, i + 2, size(m) - i - 1), y -> struct(x, y))))"
            )
        ).alias("p"),
    )
    cand = pairs.select(
        F.col("p.x.c_custkey").alias("custkey_a"),
        F.col("p.y.c_custkey").alias("custkey_b"),
        "nationkey",
        F.col("p.x.c_name").alias("name_a"),
        F.col("p.y.c_name").alias("name_b"),
    ).distinct()
    return (
        cand.withColumn("dist", F.levenshtein("name_a", "name_b", 2))
        .filter(F.col("dist") >= 0)
        .select("custkey_a", "custkey_b", "nationkey", "dist")
    )


_TEMPORAL_SCD2_SQL = """
WITH e AS (
  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id
  FROM events),
u AS (
  SELECT user_id, ts, 0 AS tag, event_id, event_type AS dim_state
  FROM e WHERE event_type IN ('signup', 'purchase')
  UNION ALL
  SELECT user_id, ts, 1, event_id, NULL
  FROM e WHERE event_type = 'click'),
s AS (
  SELECT user_id, tag,
         LAST_VALUE(dim_state IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, tag, event_id
                 ROWS UNBOUNDED PRECEDING) AS state
  FROM u)
SELECT state, COUNT(*) AS n_clicks,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM s WHERE tag = 1 AND state IS NOT NULL
GROUP BY state
"""


@register("join_temporal_scd2", oracle=_TEMPORAL_SCD2_SQL)
def q_join_temporal_scd2(spark, sf_dir):
    """Point-in-time (temporal) join of a probe stream to an SCD2 dimension.

    Clicks are attributed to the dimension state (last signup/purchase)
    valid AT the click's timestamp — the lookup every warehouse does
    against an SCD2 dimension. Implemented with the union-tag + running
    `last(ignorenulls)` window, NOT an interval join: one shuffle on
    user_id and O(n log n) per key, where the naive
    `valid_from <= ts < valid_to` range join is O(n·m) per key and
    explodes at 100 TB. Dim rows tag 0 so a click at exactly the state
    change's instant sees the NEW state (valid_from inclusive).

    Thin binding over the parametric
    :func:`operators.warehouse.pit_join` (round-7 extraction) — the
    union-tag device above lives there, callable on any probe/dim pair.
    """
    from dataframe_differ_spark.operators.warehouse import pit_join

    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    dim = e.filter(F.col("event_type").isin("signup", "purchase")).select(
        "user_id", "ts", "event_id", F.col("event_type").alias("state")
    )
    probe = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    attributed = pit_join(
        probe, dim, ["user_id"], "ts", ["state"], tiebreak_cols=["event_id"]
    )
    return (
        attributed.filter(F.col("state").isNotNull())
        .groupBy("state")
        .agg(
            F.count(F.lit(1)).alias("n_clicks"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


_EXPECTATIONS_SQL = """
WITH checks AS (
  SELECT 'o_orderkey_not_null' AS rule,
         CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS violations,
         COUNT(*) AS total
  FROM orders
  UNION ALL
  SELECT 'o_orderkey_unique',
         COUNT(*) - CAST(COUNT(DISTINCT o_orderkey) AS BIGINT), COUNT(*)
  FROM orders
  UNION ALL
  SELECT 'o_totalprice_positive',
         CAST(SUM(CASE WHEN o_totalprice IS NULL OR o_totalprice <= 0
                       THEN 1 ELSE 0 END) AS BIGINT),
         COUNT(*)
  FROM orders
  UNION ALL
  SELECT 'o_orderstatus_domain',
         CAST(SUM(CASE WHEN o_orderstatus NOT IN ('F', 'O', 'P')
                            OR o_orderstatus IS NULL
                       THEN 1 ELSE 0 END) AS BIGINT),
         COUNT(*)
  FROM orders
  UNION ALL
  SELECT 'o_custkey_fk_customer',
         CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         COUNT(*)
  FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey)
SELECT rule, violations, total, violations = 0 AS pass
FROM checks
"""


@register("expectations_check", oracle=_EXPECTATIONS_SQL)
def q_expectations_check(spark, sf_dir):
    """Data-quality expectation suite (the pre-migration gate before diff).

    Five declarative rules over orders — not-null, key uniqueness, value
    range, categorical domain, FK integrity — each reported as
    (rule, violations, total, pass). The four scan rules fold into ONE
    aggregate over a single scan (conditional SUMs — map-side partials,
    one reduce); only the FK rule needs a join, and the dim side
    broadcasts. At 100 TB this shape is exactly how expectation engines
    (dbt tests / Deequ-style) stay one-pass; per-rule separate scans
    would read the table five times.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    one = F.count(F.lit(1))

    def _viol(cond):
        return F.sum(cond.cast("bigint"))

    scan = o.agg(
        one.alias("total"),
        _viol(F.col("o_orderkey").isNull()).alias("v_null"),
        (one - F.countDistinct("o_orderkey")).alias("v_uniq"),
        _viol(
            F.col("o_totalprice").isNull() | (F.col("o_totalprice") <= 0)
        ).alias("v_price"),
        _viol(
            F.col("o_orderstatus").isNull()
            | ~F.col("o_orderstatus").isin("F", "O", "P")
        ).alias("v_status"),
    )
    fk = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "left")
        .agg(
            one.alias("total"),
            _viol(F.col("c_custkey").isNull()).alias("v_fk"),
        )
    )
    rules = scan.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("o_orderkey_not_null").alias("rule"),
                    F.col("v_null").alias("violations"),
                    F.col("total"),
                ),
                F.struct(
                    F.lit("o_orderkey_unique").alias("rule"),
                    F.col("v_uniq").alias("violations"),
                    F.col("total"),
                ),
                F.struct(
                    F.lit("o_totalprice_positive").alias("rule"),
                    F.col("v_price").alias("violations"),
                    F.col("total"),
                ),
                F.struct(
                    F.lit("o_orderstatus_domain").alias("rule"),
                    F.col("v_status").alias("violations"),
                    F.col("total"),
                ),
            )
        ).alias("r")
    ).select("r.rule", "r.violations", "r.total")
    fk_rule = fk.select(
        F.lit("o_custkey_fk_customer").alias("rule"),
        F.col("v_fk").alias("violations"),
        "total",
    )
    return rules.unionByName(fk_rule).withColumn(
        "pass", F.col("violations") == 0
    )


_AGG_RECONCILE_SQL = f"""
WITH right_t AS ({MUTATED_ORDERS_SQL}),
l AS (
  SELECT o_orderstatus, COUNT(*) AS n,
         CAST(SUM(CAST(FLOOR(o_totalprice * 1000000.0) AS BIGINT)) AS BIGINT)
           AS s
  FROM orders GROUP BY o_orderstatus),
r AS (
  SELECT o_orderstatus, COUNT(*) AS n,
         CAST(SUM(CAST(FLOOR(o_totalprice * 1000000.0) AS BIGINT)) AS BIGINT)
           AS s
  FROM right_t GROUP BY o_orderstatus)
SELECT COALESCE(l.o_orderstatus, r.o_orderstatus) AS o_orderstatus,
       COALESCE(l.n, 0) AS left_n, COALESCE(r.n, 0) AS right_n,
       COALESCE(r.n, 0) - COALESCE(l.n, 0) AS n_delta,
       COALESCE(l.s, 0) AS left_sum_micros,
       COALESCE(r.s, 0) AS right_sum_micros,
       COALESCE(r.s, 0) - COALESCE(l.s, 0) AS delta_micros
FROM l FULL OUTER JOIN r ON l.o_orderstatus = r.o_orderstatus
"""


@register("diff_agg_reconcile", oracle=_AGG_RECONCILE_SQL)
def q_diff_agg_reconcile(spark, sf_dir):
    """Aggregate-level reconciliation between two snapshots.

    The cheap first gate of a migration validation: instead of the
    row-level diff's full-outer join on the key (shuffles BOTH full
    tables), reconcile per-group row counts and control totals — two
    map-side-combinable aggregates down to |groups| rows, then a tiny
    join. At 100 TB this runs in the time of two scans and tells you
    WHICH partition of the keyspace disagrees before you pay for the
    row-level diff there (same philosophy as `diff_checksum_prune`,
    at coarser granularity). Control totals are FLOOR-quantized to
    integer micro-units before summing (the emb_dim_stats parity rule):
    the mutated side's `price * 1.01` doubles carry ~15 significant
    digits, and decimal-casting such products can land on rounding
    halves where engines disagree — floor never ties, and bigint sums
    are exact in any order.
    """
    orders = load_table(spark, sf_dir, "orders")
    micros = F.floor(F.col("o_totalprice") * F.lit(1000000.0))

    def _side(df):
        return df.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("n"), F.sum(micros).alias("s")
        )

    l = _side(orders).alias("l")
    r = _side(mutated_orders(orders)).alias("r")
    zl = F.coalesce("l.s", F.lit(0).cast("bigint"))
    zr = F.coalesce("r.s", F.lit(0).cast("bigint"))
    return (
        l.join(r, F.col("l.o_orderstatus") == F.col("r.o_orderstatus"), "full_outer")
        .select(
            F.coalesce("l.o_orderstatus", "r.o_orderstatus").alias("o_orderstatus"),
            F.coalesce("l.n", F.lit(0)).alias("left_n"),
            F.coalesce("r.n", F.lit(0)).alias("right_n"),
            (F.coalesce("r.n", F.lit(0)) - F.coalesce("l.n", F.lit(0))).alias(
                "n_delta"
            ),
            zl.alias("left_sum_micros"),
            zr.alias("right_sum_micros"),
            (zr - zl).alias("delta_micros"),
        )
    )


_ROW_HASH_SQL = f"""
WITH right_t AS ({MUTATED_ORDERS_SQL}),
lf AS (
  SELECT o_orderkey AS k,
         md5(concat_ws(chr(31),
             CAST(o_custkey AS VARCHAR), o_orderstatus,
             CAST(CAST(FLOOR(o_totalprice * 1000000.0) AS BIGINT) AS VARCHAR),
             CAST(epoch_us(o_orderdate) AS VARCHAR), o_orderpriority)) AS fp
  FROM orders),
rf AS (
  SELECT o_orderkey AS k,
         md5(concat_ws(chr(31),
             CAST(o_custkey AS VARCHAR), o_orderstatus,
             CAST(CAST(FLOOR(o_totalprice * 1000000.0) AS BIGINT) AS VARCHAR),
             CAST(epoch_us(o_orderdate) AS VARCHAR), o_orderpriority)) AS fp
  FROM right_t)
SELECT CASE WHEN lf.k IS NULL THEN 'I'
            WHEN rf.k IS NULL THEN 'D'
            WHEN lf.fp = rf.fp THEN 'N' ELSE 'C' END AS diff_status,
       COUNT(*) AS cnt
FROM lf FULL OUTER JOIN rf ON lf.k = rf.k
GROUP BY 1
"""


@register("diff_row_hash", oracle=_ROW_HASH_SQL)
def q_diff_row_hash(spark, sf_dir):
    """Fast-mode keyed diff: one fingerprint comparison per row instead of
    per-column comparators.

    The wide-table screen: each side reduces every non-key column into a
    single md5 over a CANONICAL encoding — bigints as decimal strings,
    doubles floor-quantized to micro-units, timestamps as epoch-µs — so
    the full-outer join compares 1 hash instead of N columns. On a
    500-column table this cuts the shuffled row width by ~500× (project
    key+hash before the exchange) at the cost of losing WHICH column
    changed — the two-phase play is this screen first, then the
    per-column diff (`diff_keyed`) only on 'C' keys. Canonical encoding,
    not raw casts: engines' default double/timestamp string renderings
    differ, canonical integers do not.
    """
    orders = load_table(spark, sf_dir, "orders")

    def _fp(df):
        return df.select(
            F.col("o_orderkey").alias("k"),
            F.md5(
                F.concat_ws(
                    "\x1f",
                    F.col("o_custkey").cast("string"),
                    F.col("o_orderstatus"),
                    F.floor(F.col("o_totalprice") * F.lit(1000000.0)).cast("string"),
                    F.unix_micros(F.col("o_orderdate").cast("timestamp")).cast("string"),
                    F.col("o_orderpriority"),
                )
            ).alias("fp"),
        )

    lf = _fp(orders).alias("l")
    rf = _fp(mutated_orders(orders)).alias("r")
    joined = lf.join(rf, F.col("l.k") == F.col("r.k"), "full_outer")
    status = (
        F.when(F.col("l.k").isNull(), "I")
        .when(F.col("r.k").isNull(), "D")
        .when(F.col("l.fp") == F.col("r.fp"), "N")
        .otherwise("C")
    )
    return joined.groupBy(status.alias("diff_status")).agg(
        F.count(F.lit(1)).alias("cnt")
    )


_SURROGATE_SQL = """
WITH dims AS (
  SELECT DISTINCT lang, source FROM documents)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY lang, source) AS BIGINT) AS dim_sk,
       lang, source
FROM dims
"""


@register(
    "dim_surrogate_keys",
    oracle=_SURROGATE_SQL,
    scale_path="dim_surrogate_keys_sketch",
)
def q_dim_surrogate_keys(spark, sf_dir):
    """Deterministic surrogate-key assignment for a dimension.

    The warehouse-load primitive monotonically_increasing_id() gets
    wrong: that function is partition-layout-dependent (different ids on
    every run/cluster), while a surrogate key must be REPRODUCIBLE.
    Distinct natural keys + row_number over their total order gives
    stable, dense, engine-independent ids. The window's single-partition
    sort is safe because it runs on the DISTINCT output (|dims| rows,
    not |facts|); at 100 TB with a billion-row dimension the play is
    hash-based keys (xxhash64 of natural key) instead — documented
    tradeoff, dense ids need the sort.
    """
    docs = load_table(spark, sf_dir, "documents")
    dims = docs.select("lang", "source").distinct()
    w = Window.orderBy("lang", "source")
    return dims.select(
        F.row_number().over(w).cast("bigint").alias("dim_sk"), "lang", "source"
    )


_PROFILE_SQL = """
WITH o AS (SELECT * FROM orders)
SELECT * FROM (
  SELECT 'o_orderkey' AS column_name,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_null,
         CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
         CAST(MIN(o_orderkey) AS VARCHAR) AS min_value,
         CAST(MAX(o_orderkey) AS VARCHAR) AS max_value
  FROM o
  UNION ALL
  SELECT 'o_custkey', COUNT(*),
         CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         CAST(COUNT(DISTINCT o_custkey) AS BIGINT),
         CAST(MIN(o_custkey) AS VARCHAR), CAST(MAX(o_custkey) AS VARCHAR)
  FROM o
  UNION ALL
  SELECT 'o_orderstatus', COUNT(*),
         CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT),
         CAST(MIN(o_orderstatus) AS VARCHAR), CAST(MAX(o_orderstatus) AS VARCHAR)
  FROM o
  UNION ALL
  SELECT 'o_orderpriority', COUNT(*),
         CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT),
         CAST(MIN(o_orderpriority) AS VARCHAR),
         CAST(MAX(o_orderpriority) AS VARCHAR)
  FROM o)
ORDER BY column_name
"""


@register("table_profile", oracle=_PROFILE_SQL)
def q_table_profile(spark, sf_dir):
    """Column-level data profile (the pre-diff reconnaissance pass).

    The profile every diff/migration tool runs first: per-column row
    count, null count, distinct count, min/max (stringified for a
    uniform schema). Expressed as ONE multi-aggregate pass per column
    over a single scan — Catalyst shares the scan across the unioned
    aggregates, and every aggregate is map-side partial. COUNT(DISTINCT)
    is the only expand; at 100 TB swap it for approx_count_distinct and
    the plan loses its expand entirely (the exact form is kept here for
    oracle parity).
    """
    o = load_table(spark, sf_dir, "orders")

    def prof(col):
        return o.agg(
            F.lit(col).alias("column_name"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col(col).isNull().cast("bigint")).alias("n_null"),
            F.countDistinct(col).alias("n_distinct"),
            F.min(col).cast("string").alias("min_value"),
            F.max(col).cast("string").alias("max_value"),
        )

    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]
    out = prof(cols[0])
    for c in cols[1:]:
        out = out.unionByName(prof(c))
    return out.orderBy("column_name")


_QUANTILE_DRIFT_SQL = f"""
WITH right_t AS ({{mut}}),
l AS (
  SELECT o_totalprice AS v,
         ROW_NUMBER() OVER (ORDER BY o_totalprice, o_orderkey) AS rn,
         COUNT(*) OVER () AS n
  FROM orders),
r AS (
  SELECT o_totalprice AS v,
         ROW_NUMBER() OVER (ORDER BY o_totalprice, o_orderkey) AS rn,
         COUNT(*) OVER () AS n
  FROM right_t),
ps(p) AS (VALUES (0.25), (0.5), (0.75), (0.9), (0.99)),
lq AS (SELECT ps.p, l.v FROM ps JOIN l ON l.rn = CAST(CEIL(ps.p * l.n) AS BIGINT)),
rq AS (SELECT ps.p, r.v FROM ps JOIN r ON r.rn = CAST(CEIL(ps.p * r.n) AS BIGINT))
SELECT lq.p, lq.v AS left_value, rq.v AS right_value,
       ABS(rq.v - lq.v) AS abs_drift
FROM lq JOIN rq ON lq.p = rq.p
ORDER BY lq.p
"""


def _quantile_drift_report(lq, rq):
    """Join the per-probe left and right quantiles on ``p`` → (p,
    left_value, right_value, abs_drift), ordered by p."""
    return (
        lq.join(rq, "p")
        .select(
            "p",
            "left_value",
            "right_value",
            F.abs(F.col("right_value") - F.col("left_value")).alias("abs_drift"),
        )
        .orderBy("p")
    )


@register(
    "diff_quantile_drift",
    oracle=_QUANTILE_DRIFT_SQL.format(mut=MUTATED_ORDERS_SQL),
    scale_path="diff_quantile_drift_sketch",
)
def q_diff_quantile_drift(spark, sf_dir):
    """Distribution-drift screen: exact quantiles of left vs migrated right.

    The diff family's statistical screen — row diffs say WHICH rows
    changed; this says whether the VALUE DISTRIBUTION moved (the signal a
    silent unit-change or truncation bug leaves even when row counts
    reconcile). Quantiles are EXACT order statistics — the element at
    rank ceil(p·n) under a total order with key tiebreak — not
    interpolated, so both engines pick the identical element and the
    comparison is bit-exact. Locally each side is one sort; at 100 TB
    you swap the rank selection for approx_percentile partials and keep
    the same 5-row drift report (the exact form is the oracle-parity
    device and the small-side verifier).
    """
    qs = [0.25, 0.5, 0.75, 0.9, 0.99]
    ps = spark.createDataFrame([(p,) for p in qs], "p double")

    def ranked(df):
        w = Window.orderBy("v", "o_orderkey")
        return (
            df.select(F.col("o_totalprice").alias("v"), "o_orderkey")
            .withColumn("rn", F.row_number().over(w))
            .withColumn("n", F.count(F.lit(1)).over(Window.partitionBy()))
        )

    orders = load_table(spark, sf_dir, "orders")
    l = ranked(orders)
    r = ranked(mutated_orders(orders))
    lq = l.join(
        F.broadcast(ps), F.col("rn") == F.ceil(F.col("p") * F.col("n"))
    ).select("p", F.col("v").alias("left_value"))
    rq = r.join(
        F.broadcast(ps), F.col("rn") == F.ceil(F.col("p") * F.col("n"))
    ).select("p", F.col("v").alias("right_value"))
    return _quantile_drift_report(lq, rq)


@register("dim_surrogate_keys_sketch", oracle=_SURROGATE_SQL)
def q_dim_surrogate_keys_sketch(spark, sf_dir):
    """Dense surrogate keys WITHOUT a single-partition window.

    Scale sibling of `dim_surrogate_keys` (same oracle, identical
    values) for the billion-row-dimension case its docstring flags: the
    global row_number becomes a two-phase distributed rank over the
    distinct natural keys. The bucket proxy is the first 8 bytes of
    lang || chr(0) || source as a big-endian integer
    (operators.ranks.string_bucket_key) — the NUL separator makes the
    concatenation order equal the (lang, source) tuple order, so the
    proxy is monotone and the in-bucket window resolves the rest.

    Thin binding over the parametric
    :func:`operators.warehouse.surrogate_keys` (round-7 extraction).
    """
    from dataframe_differ_spark.operators.warehouse import surrogate_keys

    docs = load_table(spark, sf_dir, "documents")
    return surrogate_keys(docs, ["lang", "source"])


_DRILLDOWN_SQL = f"""
WITH right_t AS ({MUTATED_ORDERS_SQL}),
dims AS (
  SELECT c_custkey, n_name, r_name
  FROM customer
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey),
lrollup AS (
  SELECT COALESCE(r_name, '(all)') AS r_key,
         COALESCE(n_name, '(all)') AS n_key,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(CAST(FLOOR(o_totalprice * 1000000.0) AS BIGINT)) AS BIGINT)
           AS rev_micro
  FROM orders JOIN dims ON o_custkey = c_custkey
  GROUP BY ROLLUP(r_name, n_name)),
rrollup AS (
  SELECT COALESCE(r_name, '(all)') AS r_key,
         COALESCE(n_name, '(all)') AS n_key,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(CAST(FLOOR(o_totalprice * 1000000.0) AS BIGINT)) AS BIGINT)
           AS rev_micro
  FROM right_t JOIN dims ON o_custkey = c_custkey
  GROUP BY ROLLUP(r_name, n_name))
SELECT COALESCE(l.r_key, r.r_key) AS r_key,
       COALESCE(l.n_key, r.n_key) AS n_key,
       l.n_orders AS n_left, r.n_orders AS n_right,
       l.rev_micro AS rev_micro_left, r.rev_micro AS rev_micro_right,
       CASE WHEN l.r_key IS NULL THEN 'RIGHT_ONLY'
            WHEN r.r_key IS NULL THEN 'LEFT_ONLY'
            WHEN l.n_orders = r.n_orders AND l.rev_micro = r.rev_micro
              THEN 'EQUAL'
            ELSE 'CHANGED' END AS status
FROM lrollup l FULL JOIN rrollup r
  ON l.r_key = r.r_key AND l.n_key = r.n_key
"""


@register("diff_drilldown_rollup", oracle=_DRILLDOWN_SQL)
def q_diff_drilldown_rollup(spark, sf_dir):
    """Hierarchical diff drilldown: reconcile two snapshots at every
    rollup level (grand total -> region -> nation) in one pass.

    The triage view a differ user actually starts from: not which ROWS
    changed (`diff_keyed`) but WHERE in the business hierarchy the totals
    diverge, so the row-level diff can be pointed at the few broken
    branches. Both sides aggregate under ROLLUP (partial-aggregated, one
    shuffle each), group keys are sentinel-coalesced so the reconcile
    join is a plain equi-join on ~|regions|+|nations|+1 rows, and the
    revenue comparison is exact (decimal-summed, identically derived
    doubles). At 100 TB the rollup outputs are KB-sized whatever the
    fact size — the drilldown is always cheap; only the branches it
    flags need the row-level differ.
    """
    orders = load_table(spark, sf_dir, "orders")
    right = mutated_orders(orders)
    dims = (
        load_table(spark, sf_dir, "customer")
        .join(
            load_table(spark, sf_dir, "nation"),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            load_table(spark, sf_dir, "region"),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("c_custkey", "n_name", "r_name")
    )

    def roll(side):
        return (
            side.join(
                F.broadcast(dims), F.col("o_custkey") == F.col("c_custkey")
            )
            .rollup("r_name", "n_name")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                # FLOOR-quantized micro-units (the diff_agg_reconcile /
                # emb_dim_stats parity rule): the right side's *1.01
                # doubles land on decimal rounding halves where engines
                # disagree; floor never ties and bigint sums are exact.
                F.sum(F.floor(F.col("o_totalprice") * F.lit(1000000.0)))
                .cast("long")
                .alias("rev_micro"),
            )
            .select(
                F.coalesce(F.col("r_name"), F.lit("(all)")).alias("r_key"),
                F.coalesce(F.col("n_name"), F.lit("(all)")).alias("n_key"),
                "n_orders",
                "rev_micro",
            )
        )

    l = roll(orders).alias("l")
    r = roll(right).alias("r")
    eq = (F.col("l.n_orders") == F.col("r.n_orders")) & (
        F.col("l.rev_micro") == F.col("r.rev_micro")
    )
    return l.join(
        r,
        (F.col("l.r_key") == F.col("r.r_key"))
        & (F.col("l.n_key") == F.col("r.n_key")),
        "full",
    ).select(
        F.coalesce(F.col("l.r_key"), F.col("r.r_key")).alias("r_key"),
        F.coalesce(F.col("l.n_key"), F.col("r.n_key")).alias("n_key"),
        F.col("l.n_orders").alias("n_left"),
        F.col("r.n_orders").alias("n_right"),
        F.col("l.rev_micro").alias("rev_micro_left"),
        F.col("r.rev_micro").alias("rev_micro_right"),
        F.when(F.col("l.r_key").isNull(), "RIGHT_ONLY")
        .when(F.col("r.r_key").isNull(), "LEFT_ONLY")
        .when(eq, "EQUAL")
        .otherwise("CHANGED")
        .alias("status"),
    )


_BENFORD_SQL = """
WITH cents AS (
  SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS c FROM lineitem),
hist AS (
  SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INTEGER) AS digit,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM cents GROUP BY 1),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nt FROM hist),
j AS (
  SELECT digit, n, nt,
         CAST(n AS DOUBLE) / nt AS obs,
         ROUND(log10(1.0 + 1.0 / digit), 9) AS expected
  FROM hist CROSS JOIN tot)
SELECT digit, n,
       ROUND(obs, 9) AS obs_share,
       expected,
       ROUND(obs - expected, 9) AS gap,
       ROUND(nt * (obs - expected) * (obs - expected) / expected, 6)
         AS chi2_contrib
FROM j
"""


@register("benford_first_digit", oracle=_BENFORD_SQL)
def q_benford_first_digit(spark, sf_dir):
    """Benford first-digit audit of line-item amounts.

    The classic data-quality / fraud screen (Benford 1938, Nigrini's
    audit use): the leading digit of natural amounts should follow
    log10(1 + 1/d); a synthetic-uniform price column (TPC-H's is) fails
    loudly, which is exactly what the audit is for. Exactness devices:
    amounts become exact micro-unit BIGINTs first (round(x*100) — scaling
    never changes the leading digit), the digit comes from the BIGINT's
    decimal string (no float log in the bucketing path), and the only
    libm call (log10 of 9 constants) is rounded to 9 dp on both engines
    before any arithmetic touches it. One scan, a 9-row shuffle, a 1-row
    broadcast.
    """
    li = load_table(spark, sf_dir, "lineitem")
    cents = li.select(
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("c")
    )
    hist = cents.groupBy(
        F.substring(F.col("c").cast("string"), 1, 1).cast("int").alias("digit")
    ).agg(F.count(F.lit(1)).alias("n"))
    tot = hist.agg(F.sum("n").alias("nt"))
    obs = F.col("n").cast("double") / F.col("nt")
    expected = F.round(F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit")), 9)
    j = hist.crossJoin(F.broadcast(tot)).select(
        "digit", "n", "nt", obs.alias("obs"), expected.alias("expected")
    )
    return j.select(
        "digit",
        "n",
        F.round("obs", 9).alias("obs_share"),
        "expected",
        F.round(F.col("obs") - F.col("expected"), 9).alias("gap"),
        F.round(
            F.col("nt")
            * (F.col("obs") - F.col("expected"))
            * (F.col("obs") - F.col("expected"))
            / F.col("expected"),
            6,
        ).alias("chi2_contrib"),
    )


# ---------------------------------------------------------------------------
# SCD2 incremental apply == full rebuild (round 7)
# ---------------------------------------------------------------------------

_SCD2_APPLY_SQL = """
WITH e AS (
  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id
  FROM events WHERE event_type IN ('signup', 'purchase'))
SELECT user_id, event_type, event_id,
       ts AS valid_from,
       LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
         AS valid_to,
       CAST(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
              IS NULL AS BOOLEAN) AS is_current
FROM e
"""


@register("warehouse_scd2_apply", oracle=_SCD2_APPLY_SQL)
def q_warehouse_scd2_apply(spark, sf_dir):
    """SCD2 incremental load: apply a CDC batch to an existing dimension
    and land exactly where a full rebuild would.

    The nightly-warehouse contract made testable: the dimension built
    from events BEFORE 2024-01-15 takes the later events as a change
    batch through :func:`operators.warehouse.scd2_apply` (round-7
    addition); the oracle is the one-shot SCD2 over ALL events — so the
    query proves the invariant apply(build(old), new) == build(old ∪
    new) value-for-value, including the re-closed is_current flags at
    the splice point. Plan: scd2_apply is one union + one per-key
    window shuffle (rebuild-from-versions semantics — late-arriving
    changes splice instead of corrupting the chain).
    """
    from dataframe_differ_spark.operators.warehouse import (
        scd2_apply,
        scd2_build,
    )

    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("signup", "purchase"))
        .select("user_id", "event_type", "ts", "event_id")
    )
    cutoff = F.lit("2024-01-15 00:00:00").cast("timestamp")
    dim = scd2_build(
        e.filter(F.col("ts") < cutoff),
        ["user_id"],
        "ts",
        tiebreak_cols=["event_id"],
    )
    changes = e.filter(F.col("ts") >= cutoff)
    out = scd2_apply(
        dim, changes, ["user_id"], "ts", tiebreak_cols=["event_id"]
    )
    return out.select(
        "user_id", "event_type", "event_id",
        "valid_from", "valid_to", "is_current",
    )


# ---------------------------------------------------------------------------
# Declarative data-quality constraint suite (round 9): the Deequ/dbt-test
# shape — a contract of named checks evaluated in one pass, reporting
# violation counts instead of failing row-by-row.
# ---------------------------------------------------------------------------

_DQ_SQL = """
WITH fact AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT)
           AS dup_keys,
         CAST(SUM(CASE WHEN o_orderkey IS NULL OR o_custkey IS NULL
                       THEN 1 ELSE 0 END) AS BIGINT) AS null_keys,
         CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS bad_price,
         CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
                       THEN 1 ELSE 0 END) AS BIGINT) AS bad_status,
         CAST(SUM(CASE WHEN o_orderdate < DATE '1995-01-01'
                         OR o_orderdate > DATE '2001-12-31'
                       THEN 1 ELSE 0 END) AS BIGINT) AS bad_date
  FROM orders),
ri AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS orphan_rows
  FROM orders o
  WHERE NOT EXISTS (SELECT 1 FROM customer c
                    WHERE c.c_custkey = o.o_custkey)),
checks AS (
  SELECT 'unique_o_orderkey' AS check_name, dup_keys AS n_violations,
         n_rows FROM fact
  UNION ALL
  SELECT 'not_null_keys', null_keys, n_rows FROM fact
  UNION ALL
  SELECT 'positive_o_totalprice', bad_price, n_rows FROM fact
  UNION ALL
  SELECT 'accepted_o_orderstatus', bad_status, n_rows FROM fact
  UNION ALL
  SELECT 'o_orderdate_in_range', bad_date, n_rows FROM fact
  UNION ALL
  SELECT 'fk_o_custkey_in_customer', ri.orphan_rows, fact.n_rows
  FROM ri CROSS JOIN fact)
SELECT check_name, n_violations, n_rows,
       n_violations = 0 AS passed,
       ROUND(CAST(n_violations AS DOUBLE) / n_rows, 9) AS violation_rate
FROM checks
"""


@register("dq_constraint_suite", oracle=_DQ_SQL)
def q_dq_constraint_suite(spark, sf_dir):
    """Declarative data-quality contract over `orders` — the Deequ /
    dbt-test shape the engine needs to gate a 100 TB ingest before the
    diff/dedup stages trust it: key uniqueness, key not-null, value
    range (price > 0), accepted set (status), date bounds, and
    referential integrity into `customer`, each reported as
    (check_name, n_violations, passed, violation_rate).

    One scan evaluates every per-row predicate as conditional aggregates
    (map-side combinable, no shuffle beyond the 1-row rollup); the FK
    check is ONE left-anti join with the dim side broadcast. At 100 TB
    this replaces six separate validation jobs with one pass — the
    constraint results pivot from a single aggregate row. Uniqueness
    counts rows minus distinct keys (0 ⇔ unique) rather than
    materializing duplicate groups.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    fact = o.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey"))
        .cast("long")
        .alias("dup_keys"),
        F.sum(
            (F.col("o_orderkey").isNull() | F.col("o_custkey").isNull())
            .cast("long")
        ).cast("long").alias("null_keys"),
        F.sum((F.col("o_totalprice") <= 0).cast("long"))
        .cast("long")
        .alias("bad_price"),
        F.sum((~F.col("o_orderstatus").isin("O", "F", "P")).cast("long"))
        .cast("long")
        .alias("bad_status"),
        F.sum(
            (
                (F.col("o_orderdate") < F.lit("1995-01-01").cast("date"))
                | (F.col("o_orderdate") > F.lit("2001-12-31").cast("date"))
            ).cast("long")
        ).cast("long").alias("bad_date"),
    )
    orphans = (
        o.join(
            F.broadcast(c.select("c_custkey")),
            o["o_custkey"] == c["c_custkey"],
            "left_anti",
        )
        .agg(F.count(F.lit(1)).cast("long").alias("orphan_rows"))
    )
    rows = fact.crossJoin(F.broadcast(orphans))
    checks = rows.select(
        F.expr(
            "stack(6, "
            "'unique_o_orderkey', dup_keys, "
            "'not_null_keys', null_keys, "
            "'positive_o_totalprice', bad_price, "
            "'accepted_o_orderstatus', bad_status, "
            "'o_orderdate_in_range', bad_date, "
            "'fk_o_custkey_in_customer', orphan_rows)"
        ).alias("check_name", "n_violations"),
        "n_rows",
    )
    return checks.select(
        "check_name",
        "n_violations",
        "n_rows",
        (F.col("n_violations") == 0).alias("passed"),
        F.round(
            F.col("n_violations").cast("double") / F.col("n_rows"), 9
        ).alias("violation_rate"),
    )


# ---------------------------------------------------------------------------
# Incremental view maintenance under the diff fixture's mutation (round 9)
# ---------------------------------------------------------------------------

_IVM_SQL = f"""
WITH base AS (
  SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS mth,
         CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents, o_orderkey,
         o_totalprice
  FROM orders),
mv AS (
  SELECT mth, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(cents) AS BIGINT) AS c
  FROM base GROUP BY mth),
dminus AS (
  SELECT mth, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(cents) AS BIGINT) AS c
  FROM base
  WHERE o_orderkey % 97 = 0
     OR (o_orderkey % 97 <> 0 AND o_orderkey % 53 = 0)
  GROUP BY mth),
dplus AS (
  SELECT mth, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN o_orderkey % 101 = 0 AND tag = 'ins'
                       THEN cents
                       ELSE CAST(FLOOR((o_totalprice * 1.01) * 100)
                                 AS BIGINT) END) AS BIGINT) AS c
  FROM (
    SELECT mth, cents, o_orderkey, o_totalprice, 'upd' AS tag FROM base
    WHERE o_orderkey % 97 <> 0 AND o_orderkey % 53 = 0
    UNION ALL
    SELECT mth, cents, o_orderkey, o_totalprice, 'ins' AS tag FROM base
    WHERE o_orderkey % 101 = 0)
  GROUP BY mth),
ivm AS (
  SELECT mv.mth,
         mv.n + COALESCE(dplus.n, 0) - COALESCE(dminus.n, 0) AS n_view,
         mv.c + COALESCE(dplus.c, 0) - COALESCE(dminus.c, 0) AS cents_view
  FROM mv
  LEFT JOIN dplus ON dplus.mth = mv.mth
  LEFT JOIN dminus ON dminus.mth = mv.mth),
direct AS (
  SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS mth,
         CAST(COUNT(*) AS BIGINT) AS n_direct,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents_direct
  FROM ({MUTATED_ORDERS_SQL})
  GROUP BY 1)
SELECT i.mth AS month, i.n_view, i.cents_view, d.n_direct, d.cents_direct,
       i.n_view = d.n_direct AND i.cents_view = d.cents_direct
         AS ivm_matches
FROM ivm i JOIN direct d ON d.mth = i.mth
"""


@register("warehouse_ivm_agg", oracle=_IVM_SQL)
def q_warehouse_ivm_agg(spark, sf_dir):
    """Incremental view maintenance in counting semantics: the monthly
    (count, revenue-cents) rollup is maintained under the diff fixture's
    mutation — deletes (key % 97), price updates (% 53: retract old row
    ⊖, insert new ⊕), inserts (% 101 at key + 10M) — as
    mv' = mv ⊕ Δ⁺ ⊖ Δ⁻, WITHOUT rescanning the base table, then
    verified in-query against the direct rollup of the mutated table
    (`ivm_matches` must be all-true; a pytest asserts it).

    The 100 TB pattern this encodes: a petabyte-scale materialized
    aggregate absorbs a day's CDC batch as two delta-sized aggregates +
    a KB-sized merge join on the group key — the base table is never
    read. Exactness: revenue flows as FLOOR(price·100) BIGINT cents
    (updates recompute FLOOR((p·1.01)·100) with identical double
    association in both engines), so ⊕/⊖ are exact integer algebra and
    the verification is equality, not tolerance.
    """
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias(
            "mth"
        ),
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        "o_orderkey",
        "o_totalprice",
    )
    mv = base.groupBy("mth").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("c"),
    )
    dminus = (
        base.filter(
            (F.col("o_orderkey") % 97 == 0)
            | ((F.col("o_orderkey") % 97 != 0) & (F.col("o_orderkey") % 53 == 0))
        )
        .groupBy("mth")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("cents").cast("long").alias("c"),
        )
    )
    upd = base.filter(
        (F.col("o_orderkey") % 97 != 0) & (F.col("o_orderkey") % 53 == 0)
    ).select(
        "mth",
        F.floor((F.col("o_totalprice") * F.lit(1.01)) * 100)
        .cast("long")
        .alias("dc"),
    )
    ins = base.filter(F.col("o_orderkey") % 101 == 0).select(
        "mth", F.col("cents").alias("dc")
    )
    dplus = (
        upd.unionByName(ins)
        .groupBy("mth")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("dc").cast("long").alias("c"),
        )
    )
    dp = dplus.select(
        F.col("mth").alias("mp"), F.col("n").alias("np"), F.col("c").alias("cp")
    )
    dm = dminus.select(
        F.col("mth").alias("mm"), F.col("n").alias("nm"), F.col("c").alias("cm")
    )
    ivm = (
        mv.join(dp, mv["mth"] == F.col("mp"), "left")
        .join(dm, mv["mth"] == F.col("mm"), "left")
        .select(
            "mth",
            (
                F.col("n")
                + F.coalesce("np", F.lit(0))
                - F.coalesce("nm", F.lit(0))
            ).alias("n_view"),
            (
                F.col("c")
                + F.coalesce("cp", F.lit(0))
                - F.coalesce("cm", F.lit(0))
            ).alias("cents_view"),
        )
    )
    direct = (
        mutated_orders(o)
        .select(
            F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM")
            .alias("md"),
            F.floor(F.col("o_totalprice") * 100).cast("long").alias("dcent"),
        )
        .groupBy("md")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_direct"),
            F.sum("dcent").cast("long").alias("cents_direct"),
        )
    )
    return ivm.join(direct, ivm["mth"] == direct["md"]).select(
        F.col("mth").alias("month"),
        "n_view",
        "cents_view",
        "n_direct",
        "cents_direct",
        (
            (F.col("n_view") == F.col("n_direct"))
            & (F.col("cents_view") == F.col("cents_direct"))
        ).alias("ivm_matches"),
    )


# ---------------------------------------------------------------------------
# k-anonymity audit (round 10): privacy risk gate before a data release.
# ---------------------------------------------------------------------------

_KANON_K = 5

_KANON_SQL = f"""
WITH qi AS (
  SELECT c_nationkey AS nation, c_mktsegment AS segment,
         CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS bal_band
  FROM customer),
classes AS (
  SELECT nation, segment, bal_band, CAST(COUNT(*) AS BIGINT) AS class_size
  FROM qi GROUP BY nation, segment, bal_band)
SELECT CAST({_KANON_K} AS BIGINT) AS k,
       CAST(SUM(class_size) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_classes,
       CAST(SUM(CASE WHEN class_size < {_KANON_K} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_risky_classes,
       CAST(SUM(CASE WHEN class_size < {_KANON_K} THEN class_size ELSE 0 END)
            AS BIGINT) AS n_risky_rows,
       CAST(MIN(class_size) AS BIGINT) AS min_class_size,
       ROUND(CAST(SUM(CASE WHEN class_size < {_KANON_K} THEN class_size
                           ELSE 0 END) AS DOUBLE)
             / SUM(class_size), 9) AS risky_share
FROM classes
"""


@register("dq_k_anonymity", oracle=_KANON_SQL)
def q_dq_k_anonymity(spark, sf_dir):
    """k-anonymity audit (Sweeney 2002) over `customer`'s
    quasi-identifiers — the privacy gate a pipeline runs before
    releasing or training on user-adjacent data: every row must be
    indistinguishable from ≥ k−1 others on the QI tuple (nation,
    market segment, $1000 account-balance band), and the audit reports
    how many equivalence classes (and rows) violate that.

    One row out: k, total rows/classes, risky classes (size < k),
    rows inside them, the minimum class size (the dataset's actual
    anonymity level), and the risky-row share — everything a release
    gate thresholds on. Determinism: pure integer counts plus one
    division; the balance band is FLOOR of an exact division of a
    parquet double — identical in both engines.

    100 TB plan: one groupBy on the QI tuple (map-side combinable,
    uniform keys) + one 1-row rollup — no joins, no windows. The
    follow-up action (generalize a QI, suppress risky rows) reuses the
    same class table.
    """
    c = load_table(spark, sf_dir, "customer")
    qi = c.select(
        F.col("c_nationkey").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
        F.floor(F.col("c_acctbal") / 1000.0).cast("long").alias("bal_band"),
    )
    classes = qi.groupBy("nation", "segment", "bal_band").agg(
        F.count(F.lit(1)).cast("long").alias("class_size")
    )
    risky = F.col("class_size") < _KANON_K
    return classes.agg(
        F.lit(_KANON_K).cast("long").alias("k"),
        F.sum("class_size").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.sum(risky.cast("long")).cast("long").alias("n_risky_classes"),
        F.sum(F.when(risky, F.col("class_size")).otherwise(0))
        .cast("long")
        .alias("n_risky_rows"),
        F.min("class_size").cast("long").alias("min_class_size"),
        F.round(
            F.sum(F.when(risky, F.col("class_size")).otherwise(0)).cast(
                "double"
            )
            / F.sum("class_size"),
            9,
        ).alias("risky_share"),
    )


# ---------------------------------------------------------------------------
# Data-freshness monitor (round 10): per-stream staleness vs the corpus
# watermark — the ingest-health gate next to dq_constraint_suite.
# ---------------------------------------------------------------------------

_FRESH_STALE_DAYS = 7

_FRESH_SQL = f"""
WITH wm AS (SELECT MAX(ts) AS corpus_max FROM events),
per AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         MIN(ts) AS first_ts, MAX(ts) AS last_ts
  FROM events GROUP BY event_type)
SELECT p.event_type,
       p.n_rows,
       strftime(p.first_ts, '%Y-%m-%d %H:%M:%S') AS first_seen,
       strftime(p.last_ts, '%Y-%m-%d %H:%M:%S') AS last_seen,
       CAST(date_diff('day', p.last_ts, wm.corpus_max) AS BIGINT)
         AS lag_days,
       date_diff('day', p.last_ts, wm.corpus_max) > {_FRESH_STALE_DAYS}
         AS stale
FROM per p CROSS JOIN wm
"""


@register("dq_freshness", oracle=_FRESH_SQL)
def q_dq_freshness(spark, sf_dir):
    """Per-stream data-FRESHNESS monitor over `events`: each event
    type's row count, first/last arrival, staleness lag against the
    corpus watermark (max ts across all types), and a stale flag
    (> {_FRESH_STALE_DAYS} days behind) — the ingest-health gate that
    catches a silently-dead upstream before the diff/dedup stages
    process a partial day. The lag is measured against the CORPUS
    watermark, not wall-clock, so the check is reproducible on any
    snapshot (and the oracle needs no now()).

    One scan with per-type min/max/count (map-side combinable) + a
    1-row watermark broadcast. Timestamps format to strings on output
    (the driver-compare date device); the day lag is an exact integer
    in both engines. At 100 TB: the rollup is |event_type| rows, the
    watermark is one MAX — partition-pruned to the tail if ts is the
    partition key.
    """
    e = load_table(spark, sf_dir, "events")
    wm = e.agg(F.max("ts").alias("corpus_max"))
    per = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )
    lag = F.datediff(F.to_date("corpus_max"), F.to_date("last_ts")).cast(
        "long"
    )
    return per.crossJoin(F.broadcast(wm)).select(
        "event_type",
        "n_rows",
        F.date_format("first_ts", "yyyy-MM-dd HH:mm:ss").alias("first_seen"),
        F.date_format("last_ts", "yyyy-MM-dd HH:mm:ss").alias("last_seen"),
        lag.alias("lag_days"),
        (lag > _FRESH_STALE_DAYS).alias("stale"),
    )
