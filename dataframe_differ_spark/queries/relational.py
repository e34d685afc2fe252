"""Layer B/C/D/F — scans, joins, aggregations, set ops (SURVEY.md §2).

Oracle-parity recipe for double aggregates (SURVEY.md §5.4): IEEE double
summation is order-dependent, and Spark's partial aggregation order differs
from DuckDB's. Both engines therefore sum via exact decimals —
``SUM(CAST(x AS DECIMAL(p,s)))`` — then cast the exact result to double:
bit-identical on both sides, no rounding-boundary roulette.

Scale notes are on each query: what broadcasts, what shuffles, and why the
plan survives 100 TB.
"""

from __future__ import annotations

import os

from pyspark.sql import Window
from pyspark.sql import functions as F

from dataframe_differ_spark.queries import register
from dataframe_differ_spark.tables import load_table


# Shared numeric helpers live in the public function surface; re-exported
# here because every query module historically imports them from this one.
from dataframe_differ_spark.functions.numeric import (  # noqa: F401
    SQL_DSUM,
    SQL_REV_DEC,
    dsum,
    rev_dec,
)

_BUCKET_TABLES: dict = {}


# --------------------------------------------------------------------------
# C. Joins
# --------------------------------------------------------------------------


@register(
    "join_broadcast",
    oracle=f"""
SELECT n_name,
       COUNT(*) AS num_orders,
       {SQL_DSUM('o_totalprice', 'sum_totalprice')}
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
""",
)
def q_join_broadcast(spark, sf_dir):
    """C1: star join with explicitly broadcast dimensions.

    customer (15k rows at sf0.1, ~1.5M at sf100) and nation (25) are
    broadcast: the orders fact table never shuffles — the whole query is
    scan → BHJ → BHJ → partial agg → single exchange on n_name (25 groups).
    """
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("num_orders"),
            dsum(F.col("o_totalprice"), "sum_totalprice"),
        )
    )


@register(
    "join_smj",
    oracle=f"""
SELECT o_orderpriority,
       COUNT(*) AS line_cnt,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))))
            AS DOUBLE) AS revenue
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderstatus = 'F'
GROUP BY o_orderpriority
""",
)
def q_join_smj(spark, sf_dir):
    """C2: fact-fact join (orders ⋈ lineitem) — shuffle on the key.

    Both sides hash-partition on orderkey (sort-merge at scale); the status
    filter is pushed to the orders parquet scan. At 100 TB co-locating via
    bucketing on orderkey would remove the shuffle entirely.
    """
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        orders.filter(F.col("o_orderstatus") == "F")
        .join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("line_cnt"),
            # Exact-decimal factor arithmetic: casting the double PRODUCT to
            # decimal can land exactly on a rounding half (engines disagree);
            # casting each 2-dp factor never can (doubles can't encode x.xx5).
            F.sum(
                F.col("l_extendedprice").cast("decimal(12,2)")
                * (F.lit(1).cast("decimal(3,2)")
                   - F.col("l_discount").cast("decimal(3,2)"))
            ).cast("double").alias("revenue"),
        )
    )


@register(
    "join_outer",
    oracle="""
SELECT c_custkey, COUNT(o_orderkey) AS order_cnt
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey
""",
)
def q_join_outer(spark, sf_dir):
    """C3: left outer join preserving order-less customers (count=0)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("order_cnt"))
    )


@register(
    "join_semi",
    oracle="""
SELECT c_custkey, c_name FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
""",
)
def q_join_semi(spark, sf_dir):
    """C4: EXISTS as left-semi join — no fanout, build side deduped."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    f_orders = orders.filter(F.col("o_orderstatus") == "F")
    return customer.join(
        f_orders, customer.c_custkey == f_orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@register(
    "join_anti",
    oracle="""
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""",
)
def q_join_anti(spark, sf_dir):
    """C5: NOT EXISTS as left-anti join."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@register(
    "join_range",
    oracle="""
SELECT b.band, COUNT(*) AS part_cnt
FROM part p
JOIN (VALUES ('low', 0.0, 500.0), ('mid', 500.0, 1200.0),
             ('high', 1200.0, 100000.0)) AS b(band, lo, hi)
  ON p.p_retailprice >= b.lo AND p.p_retailprice < b.hi
GROUP BY b.band
""",
)
def q_join_range(spark, sf_dir):
    """C6: non-equi (range/theta) join against a tiny band table.

    The band table is a broadcast nested-loop join build side (3 rows);
    at any scale this stays a single pass over `part` with no shuffle
    before the final 3-group aggregate.
    """
    part = load_table(spark, sf_dir, "part")
    bands = spark.createDataFrame(
        [("low", 0.0, 500.0), ("mid", 500.0, 1200.0), ("high", 1200.0, 100000.0)],
        "band string, lo double, hi double",
    )
    return (
        part.join(
            F.broadcast(bands),
            (part.p_retailprice >= bands.lo) & (part.p_retailprice < bands.hi),
        )
        .groupBy("band")
        .agg(F.count(F.lit(1)).alias("part_cnt"))
    )


def _latest_click_timeline(spark, sf_dir, click_col):
    """Purchase and click events, each carrying in ``click_col`` the ts of
    its user's latest click at or before it (one shuffle on user_id)."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    tagged = e.filter(F.col("event_type").isin("purchase", "click")).withColumn(
        "is_click", (F.col("event_type") == "click").cast("int")
    )
    # Window over each user's merged timeline; clicks sort before purchases
    # at equal ts (is_click desc) so a same-instant click is visible.
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("is_click").desc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return tagged.withColumn(
        click_col,
        F.last(
            F.when(F.col("is_click") == 1, F.col("ts")), ignorenulls=True
        ).over(w),
    )


@register(
    "join_asof",
    oracle="""
WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value
           FROM events),
     purchases AS (SELECT * FROM e WHERE event_type = 'purchase'),
     clicks AS (SELECT * FROM e WHERE event_type = 'click')
SELECT p.event_id,
       p.user_id,
       p.ts,
       c.ts AS click_ts
FROM purchases p ASOF LEFT JOIN clicks c
  ON p.user_id = c.user_id AND p.ts >= c.ts
""",
)
def q_join_asof(spark, sf_dir):
    """C7: as-of join — for each purchase, the latest click at-or-before it.

    No native Spark primitive (SURVEY.md §4). Implemented with the
    union-tag + window ``last(ignorenulls)`` formulation: one shuffle on
    user_id, O(n log n) per partition, no range-explosion — this is the
    form that survives 100 TB (a range join would be O(n·m) per user).
    Tag ordering puts clicks before purchases at identical timestamps so
    'at-or-before' includes ties, matching DuckDB ASOF (>=).
    """
    timeline = _latest_click_timeline(spark, sf_dir, "click_ts")
    return timeline.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "click_ts"
    )


@register(
    "join_interval",
    oracle="""
WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
           FROM events)
SELECT err.event_id, err.user_id,
       COUNT(c.event_id) AS clicks_in_hour
FROM (SELECT * FROM e WHERE event_type = 'error') err
LEFT JOIN (SELECT * FROM e WHERE event_type = 'click') c
  ON err.user_id = c.user_id
 AND c.ts >= err.ts - INTERVAL 1 HOUR AND c.ts <= err.ts
GROUP BY err.event_id, err.user_id
""",
)
def q_join_interval(spark, sf_dir):
    """C8: interval-overlap join — clicks within 1h before each error.

    Equi-join on user_id carries the shuffle; the interval predicate is
    evaluated join-side. At 100 TB the per-user timelines stay bounded, so
    the equi+range form beats a pure range join; for heavy-hitter users,
    AQE skew-split or time-bucketing the join key bounds the fanout.
    """
    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts", "event_type")
    err = e.filter(F.col("event_type") == "error").alias("err")
    clk = e.filter(F.col("event_type") == "click").alias("c")
    cond = (
        (F.col("err.user_id") == F.col("c.user_id"))
        & (F.col("c.ts") >= F.col("err.ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c.ts") <= F.col("err.ts"))
    )
    return (
        err.join(clk, cond, "left")
        .groupBy(F.col("err.event_id").alias("event_id"), F.col("err.user_id").alias("user_id"))
        .agg(F.count(F.col("c.event_id")).alias("clicks_in_hour"))
    )


# --------------------------------------------------------------------------
# D. Aggregations
# --------------------------------------------------------------------------


@register(
    "agg_pricing_summary",
    oracle=f"""
SELECT l_returnflag,
       l_linestatus,
       {SQL_DSUM('l_quantity', 'sum_qty')},
       {SQL_DSUM('l_extendedprice', 'sum_base_price')},
       CAST(SUM({SQL_REV_DEC}) AS DOUBLE) AS sum_disc_price,
       CAST(SUM({SQL_REV_DEC}
                * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(3,2))))
            AS DOUBLE) AS sum_charge,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""",
)
def q_agg_pricing_summary(spark, sf_dir):
    """D1: TPC-H Q1-shape multi-measure hash aggregate.

    Partial (map-side) aggregation then one exchange on the 6-ish group
    keys; the shipdate filter is pushed to the parquet scan. This is the
    headline throughput query at 100 TB: scan-bound, no join.
    """
    li = load_table(spark, sf_dir, "lineitem")
    disc = rev_dec()
    charge = disc * (F.lit(1).cast("decimal(3,2)") + F.col("l_tax").cast("decimal(3,2)"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity"), "sum_qty"),
            dsum(F.col("l_extendedprice"), "sum_base_price"),
            F.sum(disc).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            (
                F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_qty"),
            (
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "agg_distinct",
    oracle="""
SELECT o_orderstatus,
       COUNT(DISTINCT o_custkey) AS distinct_custs,
       COUNT(*) AS order_cnt
FROM orders GROUP BY o_orderstatus
""",
)
def q_agg_distinct(spark, sf_dir):
    """D2: distinct aggregation (expand+two-phase under the hood)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("distinct_custs"),
        F.count(F.lit(1)).alias("order_cnt"),
    )


@register(
    "agg_approx_distinct",
    oracle="""
SELECT o_orderstatus,
       COUNT(DISTINCT o_custkey) AS exact_custs,
       TRUE AS within_rsd
FROM orders GROUP BY o_orderstatus
""",
)
def q_agg_approx_distinct(spark, sf_dir):
    """D3: HyperLogLog++ approximate distinct — sketch, mergeable, O(1) mem.

    The 100 TB answer to COUNT(DISTINCT): no expand, partials merge as
    sketches. The HLL estimate itself is engine-specific (DuckDB's HLL
    differs bit-for-bit), so the *checkable* output is the exact per-group
    count plus a ``within_rsd`` boolean asserting the sketch landed inside
    2.5x its configured rsd (0.02 → 5% bound); the oracle computes the
    exact count and literal TRUE. The estimate is folded into the boolean
    rather than hashed — full-oracle, deterministic, still exercises HLL.
    """
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            F.approx_count_distinct("o_custkey", 0.02).alias("approx_custs"),
            F.countDistinct("o_custkey").alias("exact_custs"),
        )
        .select(
            "o_orderstatus",
            "exact_custs",
            (
                F.abs(F.col("approx_custs") - F.col("exact_custs"))
                / F.col("exact_custs")
                <= F.lit(0.05)
            ).alias("within_rsd"),
        )
    )


@register(
    "agg_rollup",
    oracle="""
SELECT COALESCE(o_orderstatus, 'ALL') AS o_orderstatus,
       COALESCE(o_orderpriority, 'ALL') AS o_orderpriority,
       COUNT(*) AS cnt
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
""",
)
def q_agg_rollup(spark, sf_dir):
    """D4a: hierarchical rollup with 'ALL' sentinel for rolled-up levels."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("o_orderstatus"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("o_orderpriority"),
            "cnt",
        )
    )


@register(
    "agg_cube",
    oracle="""
SELECT COALESCE(o_orderstatus, 'ALL') AS o_orderstatus,
       COALESCE(l_returnflag, 'ALL') AS l_returnflag,
       COUNT(*) AS cnt
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY CUBE (o_orderstatus, l_returnflag)
""",
)
def q_agg_cube(spark, sf_dir):
    """D4b: full cube over a join."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .cube("o_orderstatus", "l_returnflag")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("o_orderstatus"),
            F.coalesce("l_returnflag", F.lit("ALL")).alias("l_returnflag"),
            "cnt",
        )
    )


@register(
    "agg_conditional",
    oracle=f"""
SELECT o_orderpriority,
       COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS finished_cnt,
       {SQL_DSUM("CASE WHEN o_orderstatus = 'O' THEN o_totalprice ELSE 0 END",
                 'open_value')}
FROM orders GROUP BY o_orderpriority
""",
)
def q_agg_conditional(spark, sf_dir):
    """D5: filtered/conditional aggregation — one pass, no self-joins."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("finished_cnt"),
        dsum(
            F.when(F.col("o_orderstatus") == "O", F.col("o_totalprice")).otherwise(
                0.0
            ),
            "open_value",
        ),
    )


@register(
    "agg_having",
    oracle="""
SELECT o_custkey, COUNT(*) AS order_cnt
FROM orders GROUP BY o_custkey HAVING COUNT(*) > 12
""",
)
def q_agg_having(spark, sf_dir):
    """D6: HAVING — post-aggregation filter."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("order_cnt"))
        .filter(F.col("order_cnt") > 12)
    )


@register(
    "agg_collect",
    oracle="""
SELECT o_custkey,
       array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',') AS statuses,
       COUNT(*) AS order_cnt
FROM orders GROUP BY o_custkey
""",
)
def q_agg_collect(spark, sf_dir):
    """D7: per-group collected set, sorted + joined for deterministic parity
    (SURVEY.md §5.4: collect order is nondeterministic — canonicalize)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_custkey").agg(
        F.array_join(F.array_sort(F.collect_set("o_orderstatus")), ",").alias(
            "statuses"
        ),
        F.count(F.lit(1)).alias("order_cnt"),
    )


@register(
    "agg_median",
    oracle="""
SELECT o_orderstatus,
       MEDIAN(o_totalprice) AS median_price,
       MIN(o_totalprice) AS min_price,
       MAX(o_totalprice) AS max_price
FROM orders GROUP BY o_orderstatus
""",
)
def q_agg_median(spark, sf_dir):
    """D8a: exact median (full sort per group under the hood)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.median("o_totalprice").alias("median_price"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
    )


@register(
    "agg_pctl_approx",
    oracle="""
WITH ranked AS (
  SELECT o_orderstatus, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                            ORDER BY o_totalprice) AS rn,
         COUNT(*) OVER (PARTITION BY o_orderstatus) AS n
  FROM orders
), ps AS (SELECT UNNEST([0.25, 0.5, 0.75]) AS p)
SELECT r.o_orderstatus, ps.p, r.o_totalprice AS exact_q, TRUE AS within_tol
FROM ranked r JOIN ps ON r.rn = CAST(CEIL(ps.p * r.n) AS BIGINT)
""",
)
def q_agg_pctl_approx(spark, sf_dir):
    """D8b: approximate percentiles via mergeable quantile sketch — the
    bounded-memory scale path for quantiles at 100 TB.

    Driver-canonicalizable form (round-2 verdict: the raw ``array<double>``
    output crashed the driver's pandas rows-only canon): the quartile array
    is ``posexplode``d into scalar ``(o_orderstatus, p, ...)`` rows, and the
    *checkable* value is the exact discrete quantile (the element at rank
    ``ceil(p*n)`` — an actual input value, so no interpolation arithmetic
    to diverge across engines) plus a ``within_tol`` boolean asserting the
    sketch estimate landed inside its guaranteed rank window
    (rank error <= n/accuracy → value between the elements at
    ``ceil(p*n) ∓ (ceil(n/accuracy)+1)``). Full DuckDB oracle on
    (status, p, exact_q, TRUE); the estimate itself folds into the boolean.
    """
    orders = load_table(spark, sf_dir, "orders")
    # Exact rank scaffold: one shuffle on o_orderstatus (3 groups).
    w_rank = Window.partitionBy("o_orderstatus").orderBy("o_totalprice")
    w_all = Window.partitionBy("o_orderstatus")
    ranked = (
        orders.select("o_orderstatus", "o_totalprice")
        .withColumn("rn", F.row_number().over(w_rank))
        .withColumn("n", F.count(F.lit(1)).over(w_all))
    )
    ps = spark.range(1).select(
        F.explode(F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))).alias("p")
    )
    target = F.ceil(F.col("p") * F.col("n"))
    tolr = F.greatest(F.lit(2), F.ceil(F.col("n") / F.lit(10000.0)) + 1)
    cand = ranked.join(
        F.broadcast(ps),
        (F.col("rn") >= target - tolr) & (F.col("rn") <= target + tolr),
    )
    exact_bounds = cand.groupBy("o_orderstatus", "p").agg(
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
        F.max(F.when(F.col("rn") == target, F.col("o_totalprice"))).alias(
            "exact_q"
        ),
    )
    appx = (
        orders.groupBy("o_orderstatus")
        .agg(
            F.percentile_approx("o_totalprice", [0.25, 0.5, 0.75], 10000).alias(
                "qs"
            )
        )
        .select("o_orderstatus", F.posexplode("qs").alias("pos", "approx_value"))
        .select(
            "o_orderstatus",
            ((F.col("pos") + 1) * F.lit(0.25)).alias("p"),
            "approx_value",
        )
    )
    return exact_bounds.join(appx, ["o_orderstatus", "p"]).select(
        "o_orderstatus",
        "p",
        "exact_q",
        (
            (F.col("approx_value") >= F.col("lo"))
            & (F.col("approx_value") <= F.col("hi"))
        ).alias("within_tol"),
    )


# --------------------------------------------------------------------------
# F. Sorts / limits / set ops
# --------------------------------------------------------------------------


@register(
    "topk_global",
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 50
""",
)
def q_topk_global(spark, sf_dir):
    """F1: global top-k → TakeOrderedAndProject (per-partition heap + driver
    merge of k rows; never a full global sort)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(50)
    )


@register(
    "set_union",
    oracle="""
SELECT 'customer' AS kind, c_custkey AS entity_key, c_name AS name FROM customer
UNION ALL
SELECT 'supplier', s_suppkey, s_name FROM supplier
""",
)
def q_set_union(spark, sf_dir):
    """F2: bag union by name — no shuffle, pure concatenation of scans."""
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    c = customer.select(
        F.lit("customer").alias("kind"),
        F.col("c_custkey").alias("entity_key"),
        F.col("c_name").alias("name"),
    )
    s = supplier.select(
        F.lit("supplier").alias("kind"),
        F.col("s_suppkey").alias("entity_key"),
        F.col("s_name").alias("name"),
    )
    return c.unionByName(s)


@register(
    "set_intersect",
    oracle="""
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
INTERSECT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
""",
)
def q_set_intersect(spark, sf_dir):
    """F3a: set intersect (customers having both F and O orders)."""
    orders = load_table(spark, sf_dir, "orders")
    f = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    o = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    return f.intersect(o)


@register(
    "set_except",
    oracle="""
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
EXCEPT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
""",
)
def q_set_except(spark, sf_dir):
    """F3b: set except (F-order customers with no O orders)."""
    orders = load_table(spark, sf_dir, "orders")
    f = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    o = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    return f.subtract(o)


@register(
    "distinct_subset",
    oracle="""
SELECT o_custkey, o_orderstatus, o_orderkey AS first_orderkey
FROM (SELECT o_custkey, o_orderstatus, o_orderkey,
             ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderstatus
                                ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders)
WHERE rn = 1
""",
)
def q_distinct_subset(spark, sf_dir):
    """F4: deterministic dropDuplicates — earliest row per subset key via
    row_number (plain dropDuplicates keeps an arbitrary row; at scale the
    window form is the reproducible one)."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey", "o_orderstatus").orderBy(
        "o_orderdate", "o_orderkey"
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey", "o_orderstatus", F.col("o_orderkey").alias("first_orderkey")
        )
    )


@register(
    "agg_pivot",
    oracle="""
SELECT o_orderpriority,
       COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS F,
       COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS O,
       COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS P
FROM orders GROUP BY o_orderpriority
""",
)
def q_agg_pivot(spark, sf_dir):
    """Pivot: status domain → columns. Explicit value list so the plan is a
    single-pass conditional aggregation (no extra distinct-values job)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
    )


@register(
    "unpivot_measures",
    oracle="""
SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS value
FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
""",
)
def q_unpivot_measures(spark, sf_dir):
    """Unpivot/melt: wide measures → long form — one scan, no shuffle
    (Spark's Expand node), vs the oracle's 3-scan UNION ALL."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount"],
        "measure",
        "value",
    )


@register(
    "sql_text_query",
    oracle=f"""
SELECT n_name,
       COUNT(*) AS num_customers,
       {SQL_DSUM('c_acctbal', 'total_acctbal')}
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
GROUP BY n_name
HAVING COUNT(*) > 5
""",
)
def q_sql_text_query(spark, sf_dir):
    """SQL-text API surface: temp views + spark.sql — the same Catalyst
    plan as the DSL, proving both front doors work."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer_v")
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("nation_v")
    return spark.sql(
        """
        SELECT n_name,
               COUNT(*) AS num_customers,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                 AS total_acctbal
        FROM customer_v JOIN nation_v ON c_nationkey = n_nationkey
        WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
        GROUP BY n_name
        HAVING COUNT(*) > 5
        """
    )


@register(
    "sample_hash",
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) = '0'
""",
)
def q_sample_hash(spark, sf_dir):
    """Deterministic hash sampling (~1/16): the reproducible, engine-stable
    alternative to rng TABLESAMPLE — at 100 TB the same rows are sampled on
    every run and every engine, and the predicate pipelines with the scan."""
    from dataframe_differ_spark.operators.sampling import hash_sample

    orders = load_table(spark, sf_dir, "orders")
    return hash_sample(orders, "o_orderkey", sixteenths=1).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


@register(
    "agg_salted_skew",
    oracle="""
SELECT l_returnflag, COUNT(*) AS cnt,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem GROUP BY l_returnflag
""",
)
def q_agg_salted_skew(spark, sf_dir):
    """Skew-resistant two-phase (salted) aggregation.

    l_returnflag has only 3 values — a direct groupBy sends ~200k rows per
    key to 3 reducers at sf0.1 (and ~2B rows per key at 100 TB: a straggler
    guaranteed). Phase 1 groups by (key, salt) spreading each hot key over
    16 reducers; phase 2 merges the 48 partials. Same result as the plain
    aggregate (the oracle), shuffle balanced by construction. Decimal
    partials re-sum exactly, so two-phase == one-phase bit-for-bit.
    """
    li = load_table(spark, sf_dir, "lineitem")
    salted = li.withColumn("salt", F.pmod(F.xxhash64("l_orderkey"), F.lit(16)))
    partial = salted.groupBy("l_returnflag", "salt").agg(
        F.count(F.lit(1)).alias("p_cnt"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("p_qty"),
    )
    return partial.groupBy("l_returnflag").agg(
        F.sum("p_cnt").alias("cnt"),
        F.sum("p_qty").cast("double").alias("sum_qty"),
    )


@register(
    "join_bucketed",
    oracle=f"""
SELECT o_orderpriority, COUNT(*) AS line_cnt,
       {SQL_DSUM('l_extendedprice', 'sum_price')}
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderpriority
""",
)
def q_join_bucketed(spark, sf_dir):
    """Shuffle-free co-located join via bucketing.

    Both fact tables are written bucketed by the join key (8 buckets,
    sorted); the subsequent join reads bucket i against bucket i with NO
    exchange on either side — the technique that removes the dominant
    fact-fact shuffle at 100 TB when one key is joined repeatedly. The
    oracle computes the same join from the raw sources, proving the
    bucketed path changes the plan, not the answer.
    """
    import uuid

    db = "ddspark_buckets"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    sf_tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    # Session-unique names: the warehouse directory outlives the in-memory
    # catalog, so a fixed name from a previous session would collide with
    # its orphaned location on disk. Cached per (session, sf) so repeated
    # calls in one session reuse the written buckets.
    cache_key = (id(spark), sf_dir)
    if cache_key not in _BUCKET_TABLES:
        run_tag = uuid.uuid4().hex[:8]
        names = (
            f"{db}.orders_b_{sf_tag}_{run_tag}",
            f"{db}.lineitem_b_{sf_tag}_{run_tag}",
        )
        # Project to the columns the join consumes before bucketing: the
        # bucketed copy is a join-specific physical layout, not a second
        # copy of the table (at 100 TB writing all 11 lineitem columns
        # would quintuple the one-time materialization cost).
        cols = {
            "orders": ["o_orderkey", "o_orderpriority"],
            "lineitem": ["l_orderkey", "l_extendedprice"],
        }
        for tname, src, key in (
            (names[0], "orders", "o_orderkey"),
            (names[1], "lineitem", "l_orderkey"),
        ):
            (
                load_table(spark, sf_dir, src)
                .select(*cols[src])
                .write.bucketBy(8, key)
                .sortBy(key)
                .format("parquet")
                .mode("overwrite")
                .saveAsTable(tname)
            )
        _BUCKET_TABLES[cache_key] = names
    ot, lt = _BUCKET_TABLES[cache_key]
    o = spark.table(ot)
    li = spark.table(lt)
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("line_cnt"),
            dsum(F.col("l_extendedprice"), "sum_price"),
        )
    )


@register(
    "subquery_correlated",
    oracle="""
SELECT o.o_orderkey, o.o_custkey, o.o_totalprice
FROM orders o
WHERE o.o_totalprice > 2 * (SELECT AVG(o2.o_totalprice)
                            FROM orders o2
                            WHERE o2.o_custkey = o.o_custkey)
""",
)
def q_subquery_correlated(spark, sf_dir):
    """Correlated scalar subquery via the SQL front door.

    Catalyst decorrelates this into an aggregate + join (no per-row
    subquery execution) — the rewrite that makes correlated SQL viable at
    scale. The avg is a double mean per customer; the >2x comparison sits
    far from any rounding boundary, so cross-engine means agree.
    """
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    return spark.sql(
        """
        SELECT o.o_orderkey, o.o_custkey, o.o_totalprice
        FROM orders_v o
        WHERE o.o_totalprice > 2 * (SELECT AVG(o2.o_totalprice)
                                    FROM orders_v o2
                                    WHERE o2.o_custkey = o.o_custkey)
        """
    )


@register(
    "profile_table",
    oracle="""
SELECT 'o_orderkey' AS column_name,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(o_orderkey) AS BIGINT) AS n_nonnull,
       CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
       CAST(MIN(o_orderkey) AS DOUBLE) AS min_val,
       CAST(MAX(o_orderkey) AS DOUBLE) AS max_val
FROM orders
UNION ALL
SELECT 'o_custkey', COUNT(*), COUNT(o_custkey), COUNT(DISTINCT o_custkey),
       CAST(MIN(o_custkey) AS DOUBLE), CAST(MAX(o_custkey) AS DOUBLE)
FROM orders
UNION ALL
SELECT 'o_totalprice', COUNT(*), COUNT(o_totalprice),
       COUNT(DISTINCT o_totalprice),
       MIN(o_totalprice), MAX(o_totalprice)
FROM orders
""",
)
def q_profile_table(spark, sf_dir):
    """Column profiler — the pre-diff data-quality pass a diff tool ships.

    One aggregation pass produces per-column null/distinct/min/max stats
    (long-form via stack). distinct is exact here for oracle parity; the
    100 TB variant swaps in approx_count_distinct (D3) — same plan shape,
    sketch-mergeable.
    """
    o = load_table(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_custkey", "o_totalprice"]
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.lit(1)).alias(f"rows_{c}"),
            F.count(c).alias(f"nn_{c}"),
            F.countDistinct(c).alias(f"nd_{c}"),
            F.min(F.col(c).cast("double")).alias(f"mn_{c}"),
            F.max(F.col(c).cast("double")).alias(f"mx_{c}"),
        ]
    wide = o.agg(*aggs)
    stack = ", ".join(
        f"'{c}', rows_{c}, nn_{c}, nd_{c}, mn_{c}, mx_{c}" for c in cols
    )
    return wide.selectExpr(
        f"stack({len(cols)}, {stack}) as "
        "(column_name, n_rows, n_nonnull, n_distinct, min_val, max_val)"
    )


@register(
    "agg_grouping_sets",
    oracle="""
SELECT COALESCE(o_orderstatus, 'ALL') AS o_orderstatus,
       COALESCE(o_orderpriority, 'ALL') AS o_orderpriority,
       COUNT(*) AS cnt,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
""",
)
def q_agg_grouping_sets(spark, sf_dir):
    """D4c: arbitrary GROUPING SETS (not expressible as rollup/cube alone).

    The SQL front door is the DSL here — Spark plans Expand + single hash
    aggregate (one shuffle for all three grouping combinations), identical
    to what rollup/cube lower to.
    """
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("_gs_orders")
    return spark.sql(
        """
        SELECT COALESCE(o_orderstatus, 'ALL') AS o_orderstatus,
               COALESCE(o_orderpriority, 'ALL') AS o_orderpriority,
               COUNT(*) AS cnt,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS sum_price
        FROM _gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderstatus), ())
        """
    )


@register(
    "agg_string_agg",
    oracle="""
SELECT o_orderpriority,
       string_agg(DISTINCT o_orderstatus, '|' ORDER BY o_orderstatus)
         AS statuses,
       COUNT(*) AS cnt
FROM orders GROUP BY o_orderpriority
""",
)
def q_agg_string_agg(spark, sf_dir):
    """D7b: ordered string aggregation (listagg).

    collect_set → array_sort → concat_ws gives a deterministic join order
    (SURVEY.md §5.4: never hash an unordered list agg); the distinct set
    per group is tiny even at 100 TB, so the agg state stays bounded.
    """
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.concat_ws(
                "|", F.array_sort(F.collect_set("o_orderstatus"))
            ).alias("statuses"),
            F.count(F.lit(1)).alias("cnt"),
        )
    )


@register(
    "agg_boolean",
    oracle="""
SELECT o_orderstatus,
       bool_and(o_totalprice > 1000) AS all_over_1k,
       bool_or(o_totalprice > 400000) AS any_over_400k,
       CAST(count_if(o_totalprice > 200000) AS BIGINT) AS n_over_200k
FROM orders GROUP BY o_orderstatus
""",
)
def q_agg_boolean(spark, sf_dir):
    """D5b: boolean aggregates (every/some) + count_if."""
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.bool_and(F.col("o_totalprice") > 1000).alias("all_over_1k"),
            F.bool_or(F.col("o_totalprice") > 400000).alias("any_over_400k"),
            F.count_if(F.col("o_totalprice") > 200000).alias("n_over_200k"),
        )
    )


@register(
    "sample_stratified",
    oracle="""
SELECT o_orderkey, o_orderstatus
FROM orders
WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) <
      CASE o_orderstatus WHEN 'F' THEN '8' WHEN 'P' THEN '4' ELSE '1' END
""",
)
def q_sample_stratified(spark, sf_dir):
    """Stratified deterministic sampling: per-stratum rates 50%/25%/6.25%.

    The md5-bucket predicate gives every engine and every run the same
    sample (rng TABLESAMPLE gives neither), the rate is set per stratum by
    one CASE, and the filter pipelines with the scan — no shuffle, no
    collect, valid at any scale. Used to downsample over-represented
    strata (the training-data curation move) reproducibly.
    """
    from dataframe_differ_spark.operators.sampling import stratified_sample

    o = load_table(spark, sf_dir, "orders")
    return stratified_sample(
        o,
        "o_orderkey",
        "o_orderstatus",
        {"F": 8, "P": 4},
        default_sixteenths=1,
    ).select("o_orderkey", "o_orderstatus")


@register(
    "join_cross",
    oracle="""
SELECT r.r_name, n.n_name
FROM region r CROSS JOIN nation n
""",
)
def q_join_cross(spark, sf_dir):
    """Explicit cartesian product (5 × 25 rows).

    Safe only because both sides are tiny dims: Spark broadcasts one side
    (BroadcastNestedLoopJoin) so nothing shuffles. A fact-side cross join
    is the canonical 100 TB self-DoS — the blocked-matrix pattern in
    `sim_join` is how all-pairs work is actually done at scale.
    """
    r = load_table(spark, sf_dir, "region").select("r_name")
    n = load_table(spark, sf_dir, "nation").select("n_name")
    return r.crossJoin(n)


@register(
    "agg_mode",
    oracle="""
SELECT o_orderpriority,
       mode(o_orderstatus ORDER BY o_orderstatus) AS modal_status,
       COUNT(*) AS cnt
FROM orders GROUP BY o_orderpriority
""",
)
def q_agg_mode(spark, sf_dir):
    """D8b: modal value per group.

    Spark 4's mode() breaks frequency ties arbitrarily, so the tie is
    resolved relationally: count per (group, value), rank by
    (count DESC, value), take rank 1 — deterministic in both engines
    (DuckDB's mode(... ORDER BY) does the same tie-break natively).
    Two shuffles, both on small key spaces.
    """
    counts = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    grp = Window.partitionBy("o_orderpriority")
    w = grp.orderBy(F.col("n").desc(), F.col("o_orderstatus"))
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .withColumn("cnt", F.sum("n").over(grp))
        .filter(F.col("rk") == 1)
        .select(
            "o_orderpriority",
            F.col("o_orderstatus").alias("modal_status"),
            "cnt",
        )
    )


@register(
    "agg_histogram",
    oracle="""
SELECT LEAST(CAST(FLOOR(o_totalprice / 50000.0) AS BIGINT), 9) AS bucket,
       COUNT(*) AS n,
       MIN(o_totalprice) AS lo,
       MAX(o_totalprice) AS hi
FROM orders
GROUP BY 1
""",
)
def q_agg_histogram(spark, sf_dir):
    """Equi-width histogram of order value (10 buckets, top-clamped).

    Bucket assignment is floor(x / width) — a single IEEE divide +
    floor, deterministic cross-engine with no rounding-mode exposure
    (unlike width_bucket, whose edge semantics differ between engines).
    Map-side partial aggregation reduces each partition to <=10 rows
    before the single tiny shuffle; min/max of doubles are exact.
    """
    o = load_table(spark, sf_dir, "orders")
    bucket = F.least(F.floor(F.col("o_totalprice") / F.lit(50000.0)), F.lit(9).cast("bigint"))
    return (
        o.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
    )


@register(
    "fk_orphans",
    oracle="""
SELECT 'lineitem->orders' AS fk, COUNT(*) AS orphans FROM lineitem
  WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)
UNION ALL
SELECT 'lineitem->part', COUNT(*) FROM lineitem
  WHERE NOT EXISTS (SELECT 1 FROM part WHERE p_partkey = l_partkey)
UNION ALL
SELECT 'lineitem->supplier', COUNT(*) FROM lineitem
  WHERE NOT EXISTS (SELECT 1 FROM supplier WHERE s_suppkey = l_suppkey)
UNION ALL
SELECT 'orders->customer', COUNT(*) FROM orders
  WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey)
UNION ALL
SELECT 'customer->nation', COUNT(*) FROM customer
  WHERE NOT EXISTS (SELECT 1 FROM nation WHERE n_nationkey = c_nationkey)
""",
)
def q_fk_orphans(spark, sf_dir):
    """Referential-integrity audit: orphan counts per foreign-key edge.

    Pre-diff data-quality check in the differ spirit: every FK edge is a
    left-anti join counting child rows whose parent is missing. Parent
    sides are projected to the key column and broadcast (every parent
    key set here is orders of magnitude smaller than its fact child or
    is a dim); each edge is scan -> broadcast anti -> count, no shuffle
    of any fact table. The five counts union into one 5-row result.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    edges = [
        ("lineitem->orders", li, "l_orderkey", o.select("o_orderkey"), "o_orderkey"),
        ("lineitem->part", li, "l_partkey",
         load_table(spark, sf_dir, "part").select("p_partkey"), "p_partkey"),
        ("lineitem->supplier", li, "l_suppkey",
         load_table(spark, sf_dir, "supplier").select("s_suppkey"), "s_suppkey"),
        ("orders->customer", o, "o_custkey", c.select("c_custkey"), "c_custkey"),
        ("customer->nation", c, "c_nationkey",
         load_table(spark, sf_dir, "nation").select("n_nationkey"), "n_nationkey"),
    ]
    parts = []
    for name, child, ck, parent, pk in edges:
        parts.append(
            child.join(
                F.broadcast(parent), child[ck] == parent[pk], "left_anti"
            ).agg(
                F.lit(name).alias("fk"), F.count(F.lit(1)).alias("orphans")
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


_HLL_MERGE_SQL = """
WITH j AS (
  SELECT c_custkey, n_regionkey, n_name
  FROM customer JOIN nation ON c_nationkey = n_nationkey),
nation_l AS (
  SELECT 'nation' AS level, n_name AS key,
         CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS exact_distinct
  FROM j GROUP BY n_name),
region_l AS (
  SELECT 'region' AS level, CAST(n_regionkey AS VARCHAR) AS key,
         CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS exact_distinct
  FROM j GROUP BY n_regionkey),
global_l AS (
  SELECT 'global' AS level, 'all' AS key,
         CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS exact_distinct
  FROM j)
SELECT level, key, exact_distinct, TRUE AS within_bound
FROM (SELECT * FROM nation_l
      UNION ALL SELECT * FROM region_l
      UNION ALL SELECT * FROM global_l)
"""


@register("agg_hll_merge", oracle=_HLL_MERGE_SQL)
def q_agg_hll_merge(spark, sf_dir):
    """Mergeable HLL sketches: per-nation customer sketches union-merged
    up to region and global levels.

    The 100 TB pattern for COUNT(DISTINCT) rollups: build one
    DataSketches HLL per fine-grained group (hll_sketch_agg — one pass,
    fixed-size state), then MERGE the binary sketches upward
    (hll_union_agg) instead of re-scanning the fact at each level.

    FULL oracle since round 4 (was rows-only): the DataSketches estimate
    value is engine-specific, so — the agg_approx_distinct device — the
    checkable output is the exact per-level distinct count plus a
    ``within_bound`` boolean asserting each merged estimate landed inside
    max(5%, ±2) of exact (lgConfigK=12 → ~1.6% rse); the oracle computes
    the exact counts and literal TRUE. The merge plumbing is unchanged
    and now verified against exact at every level.
    """
    from dataframe_differ_spark.operators.sketches import hll_rollup

    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    joined = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    estimates = hll_rollup(
        joined,
        "c_custkey",
        ["n_regionkey", "n_name"],
        {"nation": ["n_name"], "region": ["n_regionkey"], "global": []},
        lgk=12,
    )
    nation_exact = joined.groupBy("n_name").agg(
        F.countDistinct("c_custkey").alias("exact_distinct")
    ).select(F.lit("nation").alias("level"), F.col("n_name").alias("key"), "exact_distinct")
    region_exact = joined.groupBy("n_regionkey").agg(
        F.countDistinct("c_custkey").alias("exact_distinct")
    ).select(
        F.lit("region").alias("level"),
        F.col("n_regionkey").cast("string").alias("key"),
        "exact_distinct",
    )
    global_exact = joined.agg(
        F.countDistinct("c_custkey").alias("exact_distinct")
    ).select(F.lit("global").alias("level"), F.lit("all").alias("key"), "exact_distinct")
    exact = nation_exact.unionAll(region_exact).unionAll(global_exact)
    return estimates.join(exact, ["level", "key"]).select(
        "level",
        "key",
        "exact_distinct",
        (
            F.abs(F.col("estimate") - F.col("exact_distinct"))
            <= F.greatest(0.05 * F.col("exact_distinct"), F.lit(2.0))
        ).alias("within_bound"),
    )


@register(
    "agg_percentile_cont",
    oracle="""
SELECT l_returnflag,
       ROUND(quantile_cont(l_extendedprice, 0.25), 9) AS p25,
       ROUND(quantile_cont(l_extendedprice, 0.50), 9) AS p50,
       ROUND(quantile_cont(l_extendedprice, 0.75), 9) AS p75
FROM lineitem GROUP BY l_returnflag
""",
)
def q_agg_percentile_cont(spark, sf_dir):
    """D8c: exact interpolated (continuous) percentiles per group.

    percentile() is the exact order-statistic form (sort within group,
    lerp between neighbors) — both engines use the (n-1)*p convention;
    results are rounded to 9 dp because the lerp arithmetic is the one
    step whose operation order isn't pinned cross-engine. At 100 TB
    exact grouped percentiles imply a per-group sort — the approx
    sketch twin (`agg_pctl_approx`) is the scale path.
    """
    li = load_table(spark, sf_dir, "lineitem")
    pct = F.percentile("l_extendedprice", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)))
    return (
        li.groupBy("l_returnflag")
        .agg(pct.alias("p"))
        .select(
            "l_returnflag",
            F.round(F.element_at("p", 1), 9).alias("p25"),
            F.round(F.element_at("p", 2), 9).alias("p50"),
            F.round(F.element_at("p", 3), 9).alias("p75"),
        )
    )


@register(
    "agg_corr_exact",
    oracle="""
WITH comp AS (
  SELECT l_returnflag,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                  * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                  * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                  * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy
  FROM lineitem GROUP BY l_returnflag)
SELECT l_returnflag,
       (n * sxy - sx * sy)
         / (SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy)) AS corr_qty_price,
       (n * sxy - sx * sy) / (n * sxx - sx * sx) AS beta,
       (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n AS intercept
FROM comp
""",
)
def q_agg_corr_exact(spark, sf_dir):
    """Bit-exact Pearson correlation + OLS fit via decimal moment sums.

    Built-in corr()/covar() accumulate doubles in partition order —
    nondeterministic across engines AND across runs. Here every moment
    (Σx, Σy, Σx², Σy², Σxy) is summed as an exact decimal — the inputs
    have 2 decimal places, so products have exactly 4 and decimals are
    EXACT (cast the factors, never the product) — then the closed-form
    correlation/slope/intercept is a fixed sequence of IEEE double ops
    on exact components. Same single-pass partial-aggregation plan as
    the built-in, with determinism.
    """
    li = load_table(spark, sf_dir, "lineitem")
    dx = F.col("l_quantity").cast("decimal(18,2)")
    dy = F.col("l_extendedprice").cast("decimal(18,2)")
    comp = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(dx).cast("double").alias("sx"),
        F.sum(dy).cast("double").alias("sy"),
        F.sum(dx * dx).cast("double").alias("sxx"),
        F.sum(dy * dy).cast("double").alias("syy"),
        F.sum(dx * dy).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    cov_n = n * sxy - sx * sy
    beta = cov_n / (n * sxx - sx * sx)
    return comp.select(
        "l_returnflag",
        (cov_n / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy))).alias(
            "corr_qty_price"
        ),
        beta.alias("beta"),
        ((sy - beta * sx) / n).alias("intercept"),
    )


@register(
    "agg_bitmap_distinct",
    oracle="""
SELECT n_name, CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS n_distinct
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
""",
)
def q_agg_bitmap_distinct(spark, sf_dir):
    """Exact distinct counting via mergeable bitmaps (HLL's exact sibling).

    COUNT(DISTINCT) at 100 TB either double-shuffles (expand) or
    sketches (approximate). Bitmaps are the exact middle path: keys map
    to (bucket, bit) positions, each (group, bucket) folds into a fixed
    32KB bitmap (bitmap_construct_agg), bitmaps OR-merge associatively
    up the hierarchy, and popcounts sum. Two shuffles but the second
    moves only bitmaps, not keys — and like HLL the partials are
    reusable across rollup levels. The oracle is plain COUNT(DISTINCT):
    the bitmap path must be EXACTLY right.
    """
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    per_bucket = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(
            "n_name",
            F.bitmap_bucket_number("c_custkey").alias("bucket"),
            F.bitmap_bit_position("c_custkey").alias("pos"),
        )
        .groupBy("n_name", "bucket")
        .agg(F.bitmap_construct_agg("pos").alias("bm"))
    )
    return per_bucket.groupBy("n_name").agg(
        F.sum(F.bitmap_count("bm")).alias("n_distinct")
    )


@register(
    "join_asof_tolerance",
    oracle="""
WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
           FROM events),
     purchases AS (SELECT * FROM e WHERE event_type = 'purchase'),
     clicks AS (SELECT * FROM e WHERE event_type = 'click')
SELECT p.event_id, p.user_id, p.ts,
       CASE WHEN c.ts >= p.ts - INTERVAL 2 HOUR THEN c.ts END AS click_ts
FROM purchases p ASOF LEFT JOIN clicks c
  ON p.user_id = c.user_id AND p.ts >= c.ts
""",
)
def q_join_asof_tolerance(spark, sf_dir):
    """C7b: as-of join with a tolerance (pandas merge_asof semantics).

    Same single-shuffle union-tag + last(ignorenulls) formulation as
    `join_asof`, then matches older than the 2-hour lookback are nulled
    — the nearest-match-or-nothing contract sensors/attribution need
    (an unbounded as-of would attribute a purchase to a week-old
    click). Tolerance is a post-filter on the matched pair, so the
    plan cost is identical to the untolerated form.
    """
    timeline = _latest_click_timeline(spark, sf_dir, "click_ts_raw")
    return timeline.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        "ts",
        F.when(
            F.col("click_ts_raw") >= F.col("ts") - F.expr("interval 2 hours"),
            F.col("click_ts_raw"),
        ).alias("click_ts"),
    )


@register(
    "agg_winsorize",
    oracle="""
WITH ranked AS (
  SELECT o_orderpriority, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice, o_orderkey) AS rn,
         COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
  FROM orders),
b AS (
  SELECT o_orderpriority,
         MAX(CASE WHEN rn = (n * 5 + 99) // 100 THEN o_totalprice END) AS p05,
         MAX(CASE WHEN rn = (n * 95 + 99) // 100 THEN o_totalprice END) AS p95
  FROM ranked GROUP BY o_orderpriority),
w AS (
  SELECT o.o_orderpriority,
         GREATEST(b.p05, LEAST(b.p95, o.o_totalprice)) AS wv,
         CAST(o.o_totalprice < b.p05 OR o.o_totalprice > b.p95
              AS INTEGER) AS clipped
  FROM orders o JOIN b USING (o_orderpriority))
SELECT o_orderpriority,
       CAST(SUM(CAST(wv AS DECIMAL(18,2))) AS DOUBLE) AS winsorized_sum,
       CAST(SUM(clipped) AS BIGINT) AS n_clipped,
       COUNT(*) AS n
FROM w GROUP BY o_orderpriority
""",
)
def q_agg_winsorize(spark, sf_dir):
    """Robust aggregate: per-group winsorization at the 5th/95th percentile.

    Outlier-resistant totals without dropping rows. The fences are
    DISCRETE order statistics — the value at rank ceil(p*n), computed
    with integer rank arithmetic ((n*5+99)//100, never 0.05*n in
    floating point) — so both engines pick the exact same data value
    and no interpolation ulp can flip a fence comparison (the lerp'd
    `percentile_cont` form differs at the last ulp cross-engine).
    Clipped values keep the data's 2 decimals → exact-decimal sum.
    """
    from dataframe_differ_spark.operators.ranks import ranked

    o = load_table(spark, sf_dir, "orders")
    # Round 11 (guide §2.5): the per-priority row_number window shuffled
    # the WHOLE orders table into 5 partitions (one per priority) — a
    # parallelism-5 sort that only worsens with scale. The fences are
    # per-group order statistics, so compute them from ONE distributed
    # two-phase rank (operators/ranks.ranked, 32-way buckets) over the
    # total order (priority, price, orderkey): the bucket key is a
    # composite double MONOTONE in (priority, price) — the priority's
    # leading digit ('1-URGENT'…'5-NOT SPECIFIED' sort by their first
    # char) scaled far above any price — and the per-group rank is the
    # global rank minus the count of all earlier priorities (a 5-row
    # broadcast triangle). Rank semantics are identical to the window
    # (same total order, same integer fence arithmetic), so the fences —
    # and everything downstream — are value-identical.
    base = o.select("o_orderpriority", "o_totalprice", "o_orderkey")
    # A priority that does not start with a digit would make the bucket
    # key NULL (ANSI off) and silently misplace its rows: fail instead.
    digit = F.substring("o_orderpriority", 1, 1).cast("double")
    digit = F.when(
        digit.isNull(),
        F.raise_error(
            F.concat(
                F.lit("agg_winsorize: o_orderpriority must start with a digit, got "),
                F.coalesce(F.col("o_orderpriority"), F.lit("NULL")),
            )
        ),
    ).otherwise(digit)
    bkey = digit * F.lit(2.0**40) + F.col("o_totalprice") * 100.0
    r = ranked(
        base,
        bkey,
        ["o_orderpriority", "o_totalprice", "o_orderkey"],
        rank_col="rk",
    )
    cnt = (
        base.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)
    )
    lower = cnt.select(
        F.col("o_orderpriority").alias("_wz_p"), F.col("n").alias("_wz_n")
    )
    off = (
        cnt.join(
            F.broadcast(lower), F.col("_wz_p") < F.col("o_orderpriority"), "left"
        )
        .groupBy("o_orderpriority", "n")
        .agg(F.coalesce(F.sum("_wz_n"), F.lit(0)).cast("long").alias("off"))
    )
    b = (
        r.join(F.broadcast(off), "o_orderpriority")
        .withColumn("rn", F.col("rk") - F.col("off"))
        .groupBy("o_orderpriority")
        .agg(
            F.max(
                F.when(
                    F.col("rn") == F.expr("(n * 5 + 99) div 100"),
                    F.col("o_totalprice"),
                )
            ).alias("p05"),
            F.max(
                F.when(
                    F.col("rn") == F.expr("(n * 95 + 99) div 100"),
                    F.col("o_totalprice"),
                )
            ).alias("p95"),
        )
    )
    w = o.join(F.broadcast(b), "o_orderpriority").select(
        "o_orderpriority",
        F.greatest("p05", F.least("p95", F.col("o_totalprice"))).alias("wv"),
        (
            (F.col("o_totalprice") < F.col("p05"))
            | (F.col("o_totalprice") > F.col("p95"))
        )
        .cast("int")
        .alias("clipped"),
    )
    return w.groupBy("o_orderpriority").agg(
        F.sum(F.col("wv").cast("decimal(18,2)")).cast("double").alias("winsorized_sum"),
        F.sum("clipped").cast("long").alias("n_clipped"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "join_salted_skew",
    oracle=f"""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM({SQL_REV_DEC}) AS DOUBLE) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
""",
)
def q_join_salted_skew(spark, sf_dir):
    """Skew-resistant salted equi-join: the fact side carries a
    deterministic salt, the dimension-ish side is replicated across all
    salt values (explode of a literal range), and the join key becomes
    (key, salt) — a hot orderkey now spreads over 8 reducers instead of
    one straggler. The oracle is the PLAIN join, proving salting is
    semantics-free; revenue sums decimal partials so two-phase equals
    one-phase exactly. At 100 TB this is the manual fallback when AQE's
    skew-join split can't kick in (e.g., pre-shuffled bucketed inputs).
    """
    n_salt = 8
    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "salt", F.pmod(F.xxhash64("l_linenumber", "l_partkey"), F.lit(n_salt))
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .withColumn("salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1))))
        .withColumn("salt", F.col("salt").cast("bigint"))
    )
    return (
        li.join(o, (li.l_orderkey == o.o_orderkey) & (li.salt == o.salt))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(rev_dec()).cast("double").alias("revenue"),
        )
    )


_BOXPLOT_SQL = """
WITH stats AS (
  SELECT l_returnflag,
         COUNT(*) AS n,
         MIN(l_extendedprice) AS min_price,
         MAX(l_extendedprice) AS max_price,
         ROUND(quantile_cont(l_extendedprice, 0.25), 9) AS q1,
         ROUND(quantile_cont(l_extendedprice, 0.50), 9) AS median,
         ROUND(quantile_cont(l_extendedprice, 0.75), 9) AS q3
  FROM lineitem GROUP BY l_returnflag),
fences AS (
  SELECT *, q3 - q1 AS iqr,
         q1 - 1.5 * (q3 - q1) AS lo_fence,
         q3 + 1.5 * (q3 - q1) AS hi_fence
  FROM stats)
SELECT f.l_returnflag, f.n, f.min_price, f.max_price, f.q1, f.median, f.q3,
       f.iqr, f.lo_fence, f.hi_fence,
       CAST(SUM(CASE WHEN l.l_extendedprice < f.lo_fence
                       OR l.l_extendedprice > f.hi_fence
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM fences f JOIN lineitem l ON l.l_returnflag = f.l_returnflag
GROUP BY f.l_returnflag, f.n, f.min_price, f.max_price, f.q1, f.median,
         f.q3, f.iqr, f.lo_fence, f.hi_fence
"""


@register("agg_boxplot", oracle=_BOXPLOT_SQL)
def q_agg_boxplot(spark, sf_dir):
    """Per-group boxplot profile: five-number summary + Tukey outliers.

    Two passes over the fact: (1) exact grouped order statistics →
    3 fence values per group, (2) the 3-row fence table BROADCASTS back
    onto the scan to count rows outside [q1−1.5·IQR, q3+1.5·IQR] with a
    map-side-combinable conditional sum. Percentiles are rounded to 9 dp
    first (the lerp step is the only cross-engine wobble — established
    rule) so every downstream fence op is a fixed IEEE sequence on
    identical inputs. The grouped sort in pass 1 is the scale cost; the
    sketch twin (`agg_pctl_approx`) is the one-pass 100 TB path.
    """
    li = load_table(spark, sf_dir, "lineitem")
    pct = F.percentile(
        "l_extendedprice", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
    )
    stats = (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("l_extendedprice").alias("min_price"),
            F.max("l_extendedprice").alias("max_price"),
            pct.alias("p"),
        )
        .select(
            "l_returnflag", "n", "min_price", "max_price",
            F.round(F.element_at("p", 1), 9).alias("q1"),
            F.round(F.element_at("p", 2), 9).alias("median"),
            F.round(F.element_at("p", 3), 9).alias("q3"),
        )
        .withColumn("iqr", F.col("q3") - F.col("q1"))
        .withColumn("lo_fence", F.col("q1") - F.lit(1.5) * (F.col("q3") - F.col("q1")))
        .withColumn("hi_fence", F.col("q3") + F.lit(1.5) * (F.col("q3") - F.col("q1")))
    )
    out_cols = [
        "l_returnflag", "n", "min_price", "max_price", "q1", "median", "q3",
        "iqr", "lo_fence", "hi_fence",
    ]
    return (
        li.select("l_returnflag", "l_extendedprice")
        .join(F.broadcast(stats), "l_returnflag")
        .groupBy(*out_cols)
        .agg(
            F.sum(
                (
                    (F.col("l_extendedprice") < F.col("lo_fence"))
                    | (F.col("l_extendedprice") > F.col("hi_fence"))
                ).cast("bigint")
            ).alias("n_outliers")
        )
    )


_CHISQ_SQL = """
WITH obs AS (
  SELECT event_type,
         datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) % 7 AS dow,
         CAST(COUNT(*) AS DOUBLE) AS o
  FROM events GROUP BY 1, 2),
tot AS (
  SELECT event_type, dow, o,
         SUM(o) OVER (PARTITION BY event_type) AS row_tot,
         SUM(o) OVER (PARTITION BY dow) AS col_tot,
         SUM(o) OVER () AS grand
  FROM obs)
SELECT event_type, CAST(dow AS BIGINT) AS dow, CAST(o AS BIGINT) AS o,
       ROUND(row_tot * col_tot / grand, 9) AS expected,
       ROUND(POW(o - row_tot * col_tot / grand, 2)
               / (row_tot * col_tot / grand), 9) AS chi2_cell
FROM tot
"""


@register("contingency_chisq", oracle=_CHISQ_SQL)
def q_contingency_chisq(spark, sf_dir):
    """Contingency table (event_type × day-of-week) with χ² contributions.

    The independence-test workhorse: observed counts, expected counts
    under independence (row·col/grand totals via three windows over the
    TINY contingency table — 35 cells — never over the fact), and each
    cell's (O−E)²/E. Day-of-week is computed arithmetically
    (days-since-epoch-anchor mod 7) because engines disagree on DOW
    numbering conventions. Counts are exact integers in doubles, so
    E and χ² are short fixed IEEE sequences on identical inputs;
    rounded to 9 dp for hash stability. One shuffle for the groupBy;
    everything after is driver-scale.
    """
    e = load_table(spark, sf_dir, "events")
    obs = e.groupBy(
        "event_type",
        (F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")) % 7).alias(
            "dow"
        ),
    ).agg(F.count(F.lit(1)).cast("double").alias("o"))
    row_tot = F.sum("o").over(Window.partitionBy("event_type"))
    col_tot = F.sum("o").over(Window.partitionBy("dow"))
    grand = F.sum("o").over(Window.partitionBy())
    tot = obs.select("event_type", "dow", "o", row_tot.alias("row_tot"),
                     col_tot.alias("col_tot"), grand.alias("grand"))
    expected = F.col("row_tot") * F.col("col_tot") / F.col("grand")
    return tot.select(
        "event_type",
        F.col("dow").cast("bigint").alias("dow"),
        F.col("o").cast("bigint").alias("o"),
        F.round(expected, 9).alias("expected"),
        F.round(
            F.pow(F.col("o") - expected, F.lit(2)) / expected, 9
        ).alias("chi2_cell"),
    )


_BLOOM_PRUNE_SQL = """
SELECT c.c_mktsegment,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(FLOOR(o.o_totalprice * 1000000.0) AS BIGINT)) AS BIGINT)
         AS revenue_micros
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_acctbal > 9000
GROUP BY c.c_mktsegment
"""


@register("join_bloom_prune", oracle=_BLOOM_PRUNE_SQL)
def q_join_bloom_prune(spark, sf_dir):
    """Runtime bloom-filter pruning: pre-filter the fact scan by a compact
    digest of the dim side's join keys before the exact join.

    The hand-rolled form of Spark's runtime row-level bloom filter (and
    of Delta/Iceberg bloom data skipping): the selective dim side
    (c_acctbal > 9000) folds its join keys into an 8192-slot position
    set (hash mod m — a 1-hash bloom; false positives possible, false
    negatives impossible), which broadcasts as ONE tiny row; the fact
    scan drops non-members BEFORE the join, so at 100 TB the exchange
    carries only probable matches instead of the whole fact table. The
    exact broadcast join afterwards removes false positives, so the
    result is bit-identical to the plain join — which is exactly what
    the oracle runs (each engine may hash differently; correctness never
    depends on the bloom's contents).
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9000)
    digest = c.agg(
        F.sort_array(
            F.collect_set(F.pmod(F.xxhash64("c_custkey"), F.lit(8192)))
        ).alias("poss")
    )
    pruned = (
        o.join(F.broadcast(digest))
        .filter(
            F.array_contains(
                "poss", F.pmod(F.xxhash64("o_custkey"), F.lit(8192))
            )
        )
        .drop("poss")
    )
    return (
        pruned.join(
            F.broadcast(c.select("c_custkey", "c_mktsegment")),
            pruned.o_custkey == F.col("c_custkey"),
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(
                F.floor(F.col("o_totalprice") * F.lit(1000000.0))
            ).alias("revenue_micros"),
        )
    )


_RANGE_BUCKETED_SQL = """
WITH p AS (
  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts FROM events
  WHERE event_type = 'purchase'),
e AS (
  SELECT CAST(ts AS TIMESTAMP) AS ts FROM events
  WHERE event_type = 'error'),
hits AS (
  SELECT p.event_id, COUNT(*) AS n
  FROM p JOIN e
    ON e.ts >= p.ts - INTERVAL 2 MINUTE
   AND e.ts <= p.ts + INTERVAL 2 MINUTE
  GROUP BY p.event_id)
SELECT p.event_id, COALESCE(hits.n, 0) AS n_nearby_errors
FROM p LEFT JOIN hits ON p.event_id = hits.event_id
"""


@register("join_range_bucketed", oracle=_RANGE_BUCKETED_SQL)
def q_join_range_bucketed(spark, sf_dir):
    """Fact-fact interval join via bucketized equi-join (the 100 TB form
    of C6 when NEITHER side broadcasts).

    Counts error events within ±2 minutes of each purchase — across all
    users, so per-key partitioning can't save us and the naive theta
    join is a cartesian BNLJ (O(n·m), dead at scale). Instead both
    sides bucket time into window-width cells; the probe side replicates
    to its 3 adjacent buckets (replication factor is constant, NOT
    data-dependent), the join becomes an EQUI-join on bucket id —
    shuffle-partitionable, AQE-skewable — and the exact ±2min predicate
    runs as a residual filter. Every qualifying pair lands in exactly
    one (purchase_bucket == replicated_error_bucket) cell, so no dedup
    pass is needed. DuckDB's oracle runs its native IEJoin on the raw
    inequality — different physical plan, identical result.
    """
    ev = load_table(spark, sf_dir, "events")
    width_us = 2 * 60 * 1_000_000  # bucket == window half-width
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", ts_us.alias("p_us")
    ).withColumn("b", F.expr(f"p_us div {width_us}"))
    e = ev.filter(F.col("event_type") == "error").select(
        ts_us.alias("e_us")
    ).withColumn("eb", F.expr(f"e_us div {width_us}"))
    e_repl = e.select(
        "e_us", F.explode(F.array(F.col("eb") - 1, F.col("eb"), F.col("eb") + 1)).alias("b")
    )
    hits = (
        p.join(e_repl, "b")
        .filter(F.abs(F.col("e_us") - F.col("p_us")) <= width_us)
        .groupBy("event_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return p.select("event_id").join(hits, "event_id", "left").select(
        "event_id", F.coalesce("n", F.lit(0)).alias("n_nearby_errors")
    )


_TREND_SQL = """
WITH daily AS (
  SELECT event_type,
         datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS i,
         COUNT(*) AS y
  FROM events GROUP BY 1, 2),
m AS (
  SELECT event_type,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(i) AS DOUBLE) AS sx,
         CAST(SUM(i * i) AS DOUBLE) AS sxx,
         CAST(SUM(y) AS DOUBLE) AS sy,
         CAST(SUM(i * y) AS DOUBLE) AS sxy
  FROM daily GROUP BY event_type)
SELECT event_type,
       (n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0) AS slope_per_day,
       (sy - (n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0) * sx) / n
         AS intercept
FROM m
"""


@register("trend_daily_events", oracle=_TREND_SQL)
def q_trend_daily_events(spark, sf_dir):
    """Per-key linear trend (OLS slope) of daily event volume.

    The capacity-planning primitive: slope of count-per-day against day
    index for each event type. Every OLS moment (Σi, Σi², Σy, Σiy) is an
    INTEGER sum — exact in any accumulation order at any scale — and the
    closed-form slope/intercept is then a fixed IEEE sequence on
    identical operands, so no rounding is needed anywhere (same playbook
    as `agg_corr_exact`, with integers instead of decimals). Two
    cheap shuffles: day-grain pre-aggregation (map-side combinable),
    then |event_types| groups of 30 rows.
    """
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")).alias("i"),
    ).agg(F.count(F.lit(1)).alias("y"))
    m = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("i").cast("double").alias("sx"),
        F.sum(F.col("i") * F.col("i")).cast("double").alias("sxx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("i") * F.col("y")).cast("double").alias("sxy"),
    )
    # nullif guard: a type whose events all land on one day has zero x
    # variance; emit NULL slope (both engines) instead of engine-dependent
    # divide-by-zero rendering.
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / F.nullif(
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"), F.lit(0.0)
    )
    return m.select(
        "event_type",
        slope.alias("slope_per_day"),
        ((F.col("sy") - slope * F.col("sx")) / F.col("n")).alias("intercept"),
    )



@register(
    "sql_pipe_syntax",
    oracle=f"""
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       {SQL_DSUM('o_totalprice', 'total_price')},
       CAST(COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT)
         AS n_finished
FROM orders
WHERE o_totalprice > 1000
GROUP BY o_orderpriority
""",
)
def q_sql_pipe_syntax(spark, sf_dir):
    """Spark 4 SQL pipe syntax (SPARK-49555): |> chained operators.

    The third front door after the DataFrame DSL and classic SQL text:
    pipe syntax states the plan in execution order (FROM |> WHERE |>
    AGGREGATE), resolving to the IDENTICAL Catalyst plan as the classic
    form the oracle states — same pushdown, same partial aggregation.
    Exists because long analytical pipelines read top-down; coverage here
    proves the engine accepts all three surfaces interchangeably.
    """
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "orders_pipe_v"
    )
    return spark.sql(
        """
        FROM orders_pipe_v
        |> WHERE o_totalprice > 1000
        |> AGGREGATE COUNT(*) AS n_orders,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                       AS total_price,
                     COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END)
                       AS n_finished
           GROUP BY o_orderpriority
        |> SELECT o_orderpriority, n_orders, total_price, n_finished
        """
    )


@register(
    "agg_arg_minmax",
    oracle="""
SELECT c_nationkey,
       arg_max(c_name, CAST(ROUND(c_acctbal * 100) AS BIGINT) * 1000000
                       + c_custkey) AS richest_customer,
       arg_min(c_name, CAST(ROUND(c_acctbal * 100) AS BIGINT) * 1000000
                       + c_custkey) AS poorest_customer,
       MAX(c_acctbal) AS max_bal,
       MIN(c_acctbal) AS min_bal,
       COUNT(*) AS n_customers
FROM customer
GROUP BY c_nationkey
""",
)
def q_agg_arg_minmax(spark, sf_dir):
    """D-family completion (round 5): argument-extrema aggregates —
    max_by / min_by (SQL:2023 ANY_VALUE-adjacent; DuckDB arg_max/arg_min)
    pulling the NAME at the balance extremes per nation in the same
    single hash aggregate as the extremes themselves.

    Determinism under ties: the comparison key is an injective BIGINT
    composite (balance cents × 1e6 + custkey — cents fit ~1e6, custkey
    < 1e6 at every sf), so both engines select the identical row without
    relying on engine-specific tie behavior. One map-side-combinable
    shuffle on the nation key; at 100 TB this is the canonical "top-1 per
    group without a window" plan.
    """
    customer = load_table(spark, sf_dir, "customer")
    return customer.groupBy("c_nationkey").agg(
        F.expr(
            "max_by(c_name, CAST(ROUND(c_acctbal * 100) AS BIGINT) * 1000000"
            " + c_custkey)"
        ).alias("richest_customer"),
        F.expr(
            "min_by(c_name, CAST(ROUND(c_acctbal * 100) AS BIGINT) * 1000000"
            " + c_custkey)"
        ).alias("poorest_customer"),
        F.max("c_acctbal").alias("max_bal"),
        F.min("c_acctbal").alias("min_bal"),
        F.count(F.lit(1)).alias("n_customers"),
    )


# ---------------------------------------------------------------------------
# Nearest-neighbor as-of join (round 7)
# ---------------------------------------------------------------------------

_ASOF_NEAREST_SQL = """
WITH e AS (
  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
  FROM events WHERE event_type IN ('purchase', 'click')),
tagged AS (
  SELECT *, CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_click
  FROM e),
tl AS (
  SELECT event_id, user_id, ts, event_type,
         LAST_VALUE(CASE WHEN is_click = 1 THEN ts END IGNORE NULLS)
           OVER (PARTITION BY user_id
                 ORDER BY ts ASC, is_click DESC, event_id ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS prev_ts,
         FIRST_VALUE(CASE WHEN is_click = 1 THEN ts END IGNORE NULLS)
           OVER (PARTITION BY user_id
                 ORDER BY ts ASC, is_click DESC, event_id ASC
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
           AS next_ts
  FROM tagged)
SELECT event_id, user_id, ts,
       CASE WHEN prev_ts IS NULL THEN next_ts
            WHEN next_ts IS NULL THEN prev_ts
            WHEN ts - prev_ts <= next_ts - ts THEN prev_ts
            ELSE next_ts END AS nearest_click_ts,
       CASE WHEN prev_ts IS NULL AND next_ts IS NULL THEN 'none'
            WHEN next_ts IS NULL THEN 'backward'
            WHEN prev_ts IS NULL THEN 'forward'
            WHEN ts - prev_ts <= next_ts - ts THEN 'backward'
            ELSE 'forward' END AS direction
FROM tl WHERE event_type = 'purchase'
"""


@register("join_asof_nearest", oracle=_ASOF_NEAREST_SQL)
def q_join_asof_nearest(spark, sf_dir):
    """C7 variant: NEAREST as-of join — for each purchase, the click
    with the smallest |time difference| in EITHER direction (pandas
    merge_asof direction='nearest'), ties preferring the earlier click.

    Neither Spark nor DuckDB has a nearest primitive; it composes from
    TWO per-user window passes over one shuffled timeline — running
    last click at-or-before + running first click at-or-after — then a
    pure comparison picks the closer side. Same scale contract as
    `join_asof`: one shuffle on user_id, O(n log n) per user, NO range
    join (the O(n*m) formulation this replaces at 100 TB). A
    same-instant click sorts before the purchase, lands in the backward
    pass at distance 0, and wins in both engines.
    """
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    tagged = e.filter(
        F.col("event_type").isin("purchase", "click")
    ).withColumn("is_click", (F.col("event_type") == "click").cast("int"))
    order = [
        F.col("ts").asc(),
        F.col("is_click").desc(),
        F.col("event_id").asc(),
    ]
    wb = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    click_ts = F.when(F.col("is_click") == 1, F.col("ts"))
    tl = tagged.withColumn(
        "prev_ts", F.last(click_ts, ignorenulls=True).over(wb)
    ).withColumn("next_ts", F.first(click_ts, ignorenulls=True).over(wf))
    # interval comparison (ts - prev <= next - ts) — TIMESTAMP_NTZ has no
    # integer cast; both engines compare the same day-time intervals
    closer_back = F.expr("ts - prev_ts <= next_ts - ts")
    nearest = (
        F.when(F.col("prev_ts").isNull(), F.col("next_ts"))
        .when(F.col("next_ts").isNull(), F.col("prev_ts"))
        .when(closer_back, F.col("prev_ts"))
        .otherwise(F.col("next_ts"))
    )
    direction = (
        F.when(
            F.col("prev_ts").isNull() & F.col("next_ts").isNull(),
            F.lit("none"),
        )
        .when(F.col("next_ts").isNull(), F.lit("backward"))
        .when(F.col("prev_ts").isNull(), F.lit("forward"))
        .when(closer_back, F.lit("backward"))
        .otherwise(F.lit("forward"))
    )
    return tl.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        "ts",
        nearest.alias("nearest_click_ts"),
        direction.alias("direction"),
    )


@register(
    "sample_systematic",
    oracle="""
WITH r AS (
  SELECT event_id, event_type,
         CAST(ROW_NUMBER() OVER (ORDER BY CAST(ts AS TIMESTAMP), event_id)
              AS BIGINT) AS sample_rank
  FROM events)
SELECT sample_rank, event_id, event_type
FROM r WHERE sample_rank % 200 = 7
""",
)
def q_sample_systematic(spark, sf_dir):
    """Systematic (fixed-interval) sampling: every 200th event in exact
    time order — the even-coverage companion to `sample_hash`
    (Bernoulli): a hash sample can cluster by chance along the time
    axis; a stride cannot, which is what a drift monitor wants.
    Deterministic at any scale: same data + same total order = same
    rows on every engine.

    Thin binding over :func:`operators.sampling.systematic_sample`:
    the exact global rank comes from the two-phase bucketed rank
    (`operators.ranks.ranked` — percentile-sketch range buckets +
    per-bucket windows, NEVER a single-partition global window), and
    the stride filter pipelines behind it. The (ts, event_id) order is
    a unique total order, so ranks are reproducible.
    """
    from dataframe_differ_spark.operators.sampling import systematic_sample

    e = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "ts"
    )
    s = systematic_sample(
        e,
        ["ts", "event_id"],
        stride=200,
        offset=7,
        bucket_key=F.unix_micros(F.col("ts").cast("timestamp")),
    )
    return s.select("sample_rank", "event_id", "event_type")


@register(
    "agg_grouping_id",
    oracle=f"""
SELECT COALESCE(l_returnflag, '-') AS l_returnflag,
       COALESCE(l_linestatus, '-') AS l_linestatus,
       CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
       CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status,
       COUNT(*) AS cnt,
       {SQL_DSUM('l_extendedprice', 'sum_price')}
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
)
def q_agg_grouping_id(spark, sf_dir):
    """ROLLUP with explicit GROUPING() markers — the disambiguation
    device `agg_rollup` sidesteps with COALESCE labels: when a grouping
    column can itself be NULL (or hold the sentinel string), only the
    GROUPING() bit says whether a row is a subtotal or a data value.
    Emits the per-column bits (portable; Spark's composite
    grouping_id() bit-packs the same flags). Same plan as any rollup:
    one partial-aggregated shuffle expanding each row into its 3
    grouping sets — no extra pass per level.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            dsum(F.col("l_extendedprice"), "sum_price"),
            F.grouping("l_returnflag").cast("long").alias("g_flag"),
            F.grouping("l_linestatus").cast("long").alias("g_status"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("-")).alias("l_returnflag"),
            F.coalesce("l_linestatus", F.lit("-")).alias("l_linestatus"),
            "g_flag",
            "g_status",
            "cnt",
            "sum_price",
        )
    )


@register(
    "orders_skyline",
    oracle="""
WITH dmax AS (
  SELECT CAST(o_orderdate AS DATE) AS d, MAX(o_totalprice) AS mx
  FROM orders GROUP BY 1),
suf AS (
  SELECT a.d, MAX(b.mx) AS later_max
  FROM dmax a LEFT JOIN dmax b ON b.d > a.d
  GROUP BY a.d),
sky AS (
  SELECT o.o_orderkey, CAST(o.o_orderdate AS DATE) AS d, o.o_totalprice
  FROM orders o JOIN suf ON suf.d = CAST(o.o_orderdate AS DATE)
  WHERE suf.later_max IS NULL OR o.o_totalprice > suf.later_max),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_skyline FROM sky)
SELECT sky.o_orderkey, strftime(sky.d, '%Y-%m-%d') AS order_day,
       sky.o_totalprice, n.n_skyline
FROM sky, n
ORDER BY sky.d DESC, sky.o_totalprice DESC, sky.o_orderkey
LIMIT 100
""",
)
def q_orders_skyline(spark, sf_dir):
    """Skyline (Pareto-front) query: orders not DOMINATED on
    (recency, value) — no other order is both strictly later and
    strictly higher-priced. The classic multi-criteria operator the
    TPC-H shapes don't cover: 'show me the frontier', not a top-k on
    one weighted score. Ties on date don't dominate (strict in both
    dimensions).

    Scale shape: the naive skyline is an O(n²) self-join; this plan
    reduces it with a CALENDAR-BOUNDED date rollup — per-date max
    price (~2,400 rows at any sf), a strictly-later suffix max on that
    spine (bounded triangle join, never a global window), then ONE
    broadcast join back: an order is on the skyline iff its price
    exceeds the later-dates suffix max. Corpus-sized work is one scan +
    one map-side-combinable rollup + one broadcast probe — the same
    device at 100 TB.
    """
    o = load_table(spark, sf_dir, "orders")
    dmax = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.max("o_totalprice").alias("mx")
    )
    b = dmax.select(F.col("d").alias("d2"), F.col("mx").alias("mx2"))
    suf = (
        dmax.join(b, F.col("d2") > F.col("d"), "left")
        .groupBy("d")
        .agg(F.max("mx2").alias("later_max"))
    )
    sky = (
        o.select(
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("d"),
            "o_totalprice",
        )
        .join(F.broadcast(suf), "d")
        .filter(
            F.col("later_max").isNull()
            | (F.col("o_totalprice") > F.col("later_max"))
        )
    )
    n = sky.agg(F.count(F.lit(1)).cast("long").alias("n_skyline"))
    return (
        sky.crossJoin(F.broadcast(n))
        .select(
            "o_orderkey",
            F.date_format("d", "yyyy-MM-dd").alias("order_day"),
            "o_totalprice",
            "n_skyline",
        )
        .orderBy(
            F.col("order_day").desc(), F.col("o_totalprice").desc(), "o_orderkey"
        )
        .limit(100)
    )
