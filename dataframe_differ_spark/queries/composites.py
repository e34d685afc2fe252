"""Composite analytical queries — multi-join plans in TPC-H shapes, plus an
end-to-end training-data pipeline query.

These are the headline benchmark plans: they exercise join ordering,
dimension broadcasting, pushed-down filters, and decimal-exact aggregation
in a single Catalyst plan. (Q1's shape already ships as
`agg_pricing_summary`.) The schema is the driver corpus's narrowed TPC-H
(FIXTURES.md), so predicates use the columns that exist.
"""

from __future__ import annotations

import os

from pyspark.sql import Window
from pyspark.sql import functions as F

from dataframe_differ_spark.operators import diff_core as D
from dataframe_differ_spark.operators.numeric import split_cast_sql as _split_sql
from dataframe_differ_spark.queries import register
from dataframe_differ_spark.queries._mutation import MUTATED_ORDERS_SQL
from dataframe_differ_spark.queries.relational import SQL_DSUM, SQL_REV_DEC, dsum, rev_dec
from dataframe_differ_spark.queries.textops import _PAGERANK_ITER
from dataframe_differ_spark.tables import load_table


_SQL_REV_SUM = f"CAST(SUM({SQL_REV_DEC}) AS DOUBLE) AS revenue"


@register(
    "tpch_q3_shape",
    oracle=f"""
SELECT l_orderkey,
       {_SQL_REV_SUM},
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       o_orderpriority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate > TIMESTAMP '1998-01-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""",
)
def q_tpch_q3_shape(spark, sf_dir):
    """Q3 shape: shipping-priority — segment-filtered 3-way join, top-10.

    Plan shape to preserve at scale: the customer filter prunes before the
    join (broadcast build side), both date filters push to the parquet
    scans, lineitem⋈orders shuffles on orderkey, and the top-10 is
    TakeOrderedAndProject (no global sort). Revenue is decimal-exact so the
    ORDER BY is deterministic cross-engine.
    """
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp_ntz")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev_dec()).cast("double").alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@register(
    "tpch_q5_shape",
    oracle=f"""
SELECT n_name,
       {_SQL_REV_SUM}
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
""",
)
def q_tpch_q5_shape(spark, sf_dir):
    """Q5 shape: local-supplier volume — 6-table join, region-pruned.

    All four dimensions (customer, supplier, nation, region) broadcast;
    the fact-fact orders⋈lineitem shuffle on orderkey is the only
    exchange before the 25-group aggregate. The c_nationkey = s_nationkey
    local-supplier condition rides the supplier broadcast join.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(rev_dec()).cast("double").alias("revenue"))
    )


@register(
    "tpch_q10_shape",
    oracle=f"""
SELECT c_custkey, c_name,
       {_SQL_REV_SUM},
       ANY_VALUE(n_name) AS n_name
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY c_custkey, c_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
)
def q_tpch_q10_shape(spark, sf_dir):
    """Q10 shape: returned-item reporting — top-20 customers by lost revenue."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    n = load_table(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.sum(rev_dec()).cast("double").alias("revenue"),
            F.any_value("n_name").alias("n_name"),
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@register(
    "pipeline_clean_corpus",
    oracle="""
WITH quality AS (
  SELECT doc_id, lang, text,
         len(string_split(text, ' ')) AS n_tokens,
         CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
           / len(string_split(text, ' ')) AS ttr
  FROM documents),
  passing AS (
  SELECT * FROM quality WHERE n_tokens >= 20 AND ttr >= 0.3),
  canonical AS (
  SELECT MIN(doc_id) AS doc_id FROM passing GROUP BY md5(text))
SELECT p.lang,
       COUNT(*) AS n_docs,
       CAST(SUM(p.n_tokens) AS BIGINT) AS total_tokens,
       ROUND(AVG(p.ttr), 9) AS avg_ttr
FROM passing p JOIN canonical c ON p.doc_id = c.doc_id
GROUP BY p.lang
""",
)
def q_pipeline_clean_corpus(spark, sf_dir):
    """End-to-end training-data cleaning pipeline in ONE Catalyst plan:
    quality-filter → exact-dedup (min-id canonical per content hash) →
    per-language corpus statistics.

    This is the composition the LLM-pipeline operators exist for; at
    100 TB it is one scan + one dedup shuffle (md5 key, uniform) + one
    broadcast-back join + a 5-group aggregate. avg(ttr) is a double mean
    over a deterministic set — rounded to 9 dp for the summation-order
    hazard (few hundred values per group keeps error << 1e-9).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    quality = docs.select(
        "doc_id",
        "lang",
        "text",
        F.size(toks).alias("n_tokens"),
        (F.size(F.array_distinct(toks)).cast("double") / F.size(toks)).alias(
            "ttr"
        ),
    )
    passing = quality.filter((F.col("n_tokens") >= 20) & (F.col("ttr") >= 0.3))
    canonical = passing.groupBy(F.md5("text")).agg(
        F.min("doc_id").alias("doc_id")
    )
    return (
        passing.join(canonical.select("doc_id"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(F.avg("ttr"), 9).alias("avg_ttr"),
        )
    )


@register(
    "tpch_q6_shape",
    oracle="""
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
             * CAST(l_discount AS DECIMAL(3,2))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
)
def q_tpch_q6_shape(spark, sf_dir):
    """Q6 shape: forecasting revenue change — pure scan+filter+agg.

    Every predicate pushes to the parquet scan (row-group min/max pruning
    does the heavy lifting at 100 TB); no shuffle at all before the single
    global aggregate. The discount BETWEEN bounds compare doubles read
    verbatim from parquet — no arithmetic, so exact in both engines.
    """
    li = load_table(spark, sf_dir, "lineitem")
    f = li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return f.agg(
        F.sum(
            F.col("l_extendedprice").cast("decimal(12,2)")
            * F.col("l_discount").cast("decimal(3,2)")
        )
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@register(
    "tpch_q14_shape",
    oracle=f"""
SELECT 100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {SQL_REV_DEC}
                             ELSE CAST(0 AS DECIMAL(16,4)) END)
                     AS DOUBLE)
       / CAST(SUM({SQL_REV_DEC}) AS DOUBLE) AS promo_revenue_pct,
       COUNT(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1997-02-01'
""",
)
def q_tpch_q14_shape(spark, sf_dir):
    """Q14 shape: promotion effect — broadcast dim join + conditional agg.

    part broadcasts; both decimal sums are exact so the final double
    division is a single deterministic operation in each engine.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-02-01").cast("timestamp_ntz"))
    )
    p = load_table(spark, sf_dir, "part")
    rev = rev_dec()
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(
        F.lit(0).cast("decimal(16,4)")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            (
                (F.lit(100.0) * F.sum(promo).cast("double"))
                / F.sum(rev).cast("double")
            ).alias("promo_revenue_pct"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "tpch_q18_shape",
    oracle="""
WITH big AS (
  SELECT l_orderkey FROM lineitem
  GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 250
)
SELECT c_custkey, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       o_totalprice
FROM orders
JOIN big ON o_orderkey = big.l_orderkey
JOIN customer ON o_custkey = c_custkey
""",
)
def q_tpch_q18_shape(spark, sf_dir):
    """Q18 shape: large-volume orders — IN-subquery as aggregate + join.

    The HAVING subquery becomes a first-class aggregate joined back
    (Catalyst's rewrite of IN); quantity sums are decimal-exact so the
    >250 threshold cannot flap.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("qty"))
        .filter(F.col("qty") > 250)
        .select("l_orderkey")
    )
    return (
        o.join(big, o.o_orderkey == big.l_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_totalprice",
        )
    )


@register(
    "tpch_q4_shape",
    oracle="""
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1995-01-01'
  AND o.o_orderdate < TIMESTAMP '1996-01-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > TIMESTAMP '1995-06-30')
GROUP BY o_orderpriority
""",
)
def q_tpch_q4_shape(spark, sf_dir):
    """Q4 shape: order-priority checking — EXISTS as left-semi join.

    The date filter pushes to the orders scan; the semi join never fans
    out (one output row per qualifying order however many lines match)
    and its build side is pre-filtered on shipdate at the lineitem scan.
    Shuffle: both sides on orderkey, then a 5-group aggregate.
    """
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp_ntz"))
    )
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-06-30").cast("timestamp_ntz")
    )
    return (
        o.join(l, o.o_orderkey == l.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@register(
    "tpch_q19_shape",
    oracle=f"""
SELECT CAST(SUM({SQL_REV_DEC}) AS DOUBLE) AS revenue, COUNT(*) AS n_lines
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
       AND l_quantity BETWEEN 10 AND 35)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
       AND l_quantity BETWEEN 20 AND 50)
""",
)
def q_tpch_q19_shape(spark, sf_dir):
    """Q19 shape: discounted revenue under disjunctive compound predicates.

    The three OR-ed (brand, size, quantity) branches can't push to either
    scan as a simple conjunct, but part is a broadcast dim — so the plan
    is scan lineitem → BHJ → filter → agg, one pass, no shuffle before
    the global aggregate. Catalyst keeps the disjunction as a single
    post-join filter inside whole-stage codegen.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), p.p_partkey == li.l_partkey)
    branch = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15)
         & F.col("l_quantity").between(1, 20))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(10, 30)
           & F.col("l_quantity").between(10, 35))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(20, 50)
           & F.col("l_quantity").between(20, 50))
    )
    return j.filter(branch).agg(
        F.sum(rev_dec()).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@register(
    "funnel_events",
    oracle="""
WITH stages AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view' THEN CAST(ts AS TIMESTAMP) END) AS t_view,
         MIN(CASE WHEN event_type = 'click' THEN CAST(ts AS TIMESTAMP) END) AS t_click,
         MIN(CASE WHEN event_type = 'purchase' THEN CAST(ts AS TIMESTAMP) END) AS t_purchase
  FROM events GROUP BY user_id)
SELECT COUNT(*) AS n_users,
       CAST(count_if(t_view IS NOT NULL) AS BIGINT) AS n_view,
       CAST(count_if(t_view IS NOT NULL AND t_click > t_view) AS BIGINT) AS n_click_after_view,
       CAST(count_if(t_view IS NOT NULL AND t_click > t_view
                     AND t_purchase > t_click) AS BIGINT) AS n_full_funnel
FROM stages
""",
)
def q_funnel_events(spark, sf_dir):
    """Event-funnel analysis: view → click → purchase in temporal order.

    The product-analytics staple. One shuffle on user_id computes each
    user's first time per stage (conditional MIN — no self-joins, no
    window sort), then a single global rollup counts stage survivors.
    Self-join formulations are O(events²) per user at 100 TB; this is
    O(events) + a 1-row aggregate.
    """
    e = load_table(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    first = lambda t: F.min(F.when(F.col("event_type") == t, F.col("ts")))
    stages = e.groupBy("user_id").agg(
        first("view").alias("t_view"),
        first("click").alias("t_click"),
        first("purchase").alias("t_purchase"),
    )
    reached_click = F.col("t_view").isNotNull() & (F.col("t_click") > F.col("t_view"))
    return stages.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count_if(F.col("t_view").isNotNull()).alias("n_view"),
        F.count_if(reached_click).alias("n_click_after_view"),
        F.count_if(reached_click & (F.col("t_purchase") > F.col("t_click"))).alias(
            "n_full_funnel"
        ),
    )


@register(
    "tpch_q13_shape",
    oracle="""
WITH per_cust AS (
  SELECT o_custkey, COUNT(*) AS c_count
  FROM orders
  WHERE o_orderpriority <> '5-LOW'
  GROUP BY o_custkey)
SELECT COALESCE(p.c_count, 0) AS c_count, COUNT(*) AS custdist
FROM customer c LEFT JOIN per_cust p ON c.c_custkey = p.o_custkey
GROUP BY 1
""",
)
def q_tpch_q13_shape(spark, sf_dir):
    """Q13 shape: customer order-count distribution (incl. zero-order tail).

    Scale-smart formulation: orders is pre-aggregated to one row per
    customer BEFORE touching the customer table, so the only large
    shuffle is the o_custkey aggregate; the left join then runs
    customer-vs-|customers| (both ~1/10th of orders) and the final
    distribution groupBy has ~tens of keys. TPC-H's o_comment exclusion
    is re-expressed on the column that exists (o_orderpriority).
    """
    per_cust = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "5-LOW")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    return (
        c.join(per_cust, c.c_custkey == per_cust.o_custkey, "left")
        .select(F.coalesce("n", F.lit(0)).alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


@register(
    "tpch_q15_shape",
    oracle=f"""
WITH rev AS (
  SELECT l_suppkey,
         CAST(SUM({SQL_REV_DEC}) AS DOUBLE) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN rev ON s_suppkey = l_suppkey
WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
""",
)
def q_tpch_q15_shape(spark, sf_dir):
    """Q15 shape: top-revenue supplier for a quarter.

    Revenue per supplier is an exact-decimal aggregate (equality against
    the max is then safe cross-engine). The max is computed on the tiny
    per-supplier aggregate (|suppliers| rows) and broadcast back — the
    lineitem fact is scanned once with the quarter filter pushed down.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
    )
    rev = li.groupBy("l_suppkey").agg(
        F.sum(rev_dec()).cast("double").alias("total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    s = load_table(spark, sf_dir, "supplier")
    return (
        rev.join(F.broadcast(mx), rev.total_revenue == mx.mx)
        .join(F.broadcast(s), s.s_suppkey == rev.l_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "tpch_q17_shape",
    oracle="""
WITH j AS (
  SELECT l_quantity, l_extendedprice, p_partkey
  FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE p_brand = 'Brand#3' AND p_type = 'ECONOMY'),
t AS (
  SELECT l_extendedprice, l_quantity,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
                OVER (PARTITION BY p_partkey) AS DOUBLE)
           / COUNT(*) OVER (PARTITION BY p_partkey) * 0.2 AS thr
  FROM j)
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
         AS avg_yearly,
       COUNT(*) AS n_small
FROM t WHERE l_quantity < thr
""",
)
def q_tpch_q17_shape(spark, sf_dir):
    """Q17 shape: small-quantity-order revenue (correlated per-part avg).

    The correlated subquery is decorrelated into a window over the
    already-joined set: the brand/type filter lives on part alone, so
    every lineitem of a surviving part is present and the window avg
    equals the correlated avg. One broadcast join (filtered part dim) +
    one window shuffle on l_partkey. The threshold is exact-decimal-sum
    / count * 0.2 — IEEE-identical in both engines, so boundary rows
    can't flip.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#3") & (F.col("p_type") == "ECONOMY")
    )
    j = li.join(F.broadcast(p), p.p_partkey == li.l_partkey).select(
        "l_quantity", "l_extendedprice", "p_partkey"
    )
    w = Window.partitionBy("p_partkey")
    t = j.withColumn(
        "thr",
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).over(w).cast("double")
        / F.count(F.lit(1)).over(w)
        * F.lit(0.2),
    )
    return t.filter(F.col("l_quantity") < F.col("thr")).agg(
        (F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double")
         / F.lit(7.0)).alias("avg_yearly"),
        F.count(F.lit(1)).alias("n_small"),
    )


@register(
    "tpch_q7_shape",
    oracle=f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(EXTRACT(year FROM l_shipdate) AS INT) AS l_year,
       CAST(SUM({SQL_REV_DEC}) AS DOUBLE) AS revenue
FROM lineitem
JOIN supplier ON s_suppkey = l_suppkey
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
    OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
  AND l_shipdate >= TIMESTAMP '1995-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY 1, 2, 3
""",
)
def q_tpch_q7_shape(spark, sf_dir):
    """Q7 shape: bilateral trade volume between two nations by year.

    supplier and nation broadcast; the nation-name filter is applied to
    the broadcast sides BEFORE the join, so lineitem rows from other
    supplier-nations are dropped at the first BHJ. The only repartition
    is lineitem⋈orders on orderkey (both facts); orders⋈customer rides a
    broadcast of the (pre-filtered-nation) customer dim.
    """
    n = load_table(spark, sf_dir, "nation")
    pair = F.col("n_name").isin("NATION_3", "NATION_7")
    s = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(n.filter(pair)), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    c = (
        load_table(spark, sf_dir, "customer")
        .join(F.broadcast(n.filter(pair)), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return (
        li.join(F.broadcast(s), s.s_suppkey == li.l_suppkey)
        .join(o, o.o_orderkey == li.l_orderkey)
        .join(F.broadcast(c), c.c_custkey == o.o_custkey)
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(F.sum(rev_dec()).cast("double").alias("revenue"))
    )


@register(
    "tpch_q22_shape",
    oracle="""
WITH thr AS (
  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
           AS avg_bal
  FROM customer WHERE c_acctbal > 0.0)
SELECT n_name,
       COUNT(*) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
WHERE c_acctbal > (SELECT avg_bal FROM thr)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY n_name
""",
)
def q_tpch_q22_shape(spark, sf_dir):
    """Q22 shape: idle high-balance customers per nation.

    TPC-H's phone-prefix predicate is re-expressed on nation (the column
    that exists), and "never ordered" (empty in this corpus) becomes
    "no order since 2000-01-01" — churned high-balance accounts. The
    global average is an exact-decimal scalar computed once and joined
    via broadcast crossJoin; NOT EXISTS is a left-anti join against
    orders date-filtered at the scan and projected to its foreign key
    only (shuffle carries 8 bytes/row). Boundary safety: avg is
    exact-decimal sum / count, both IEEE-identical.
    """
    c = load_table(spark, sf_dir, "customer")
    thr = c.filter(F.col("c_acctbal") > 0.0).agg(
        (F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double")
         / F.count(F.lit(1))).alias("avg_bal")
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp_ntz"))
        .select("o_custkey")
    )
    n = load_table(spark, sf_dir, "nation")
    return (
        c.crossJoin(F.broadcast(thr))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
            .cast("double")
            .alias("totacctbal"),
        )
    )


@register(
    "cohort_retention",
    oracle="""
WITH e AS (SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
           FROM events),
     first_seen AS (SELECT user_id, MIN(day) AS cohort_day FROM e
                    GROUP BY user_id)
SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day,
       date_diff('day', cohort_day, day) // 7 AS week_offset,
       CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS active_users
FROM e JOIN first_seen USING (user_id)
GROUP BY cohort_day, 2
""",
)
def q_cohort_retention(spark, sf_dir):
    """Cohort retention: users active N weeks after their first-seen day.

    The first-seen aggregate is one row per user (~1/60th of events at
    sf0.1, far less at 100 TB where users repeat heavily), so the join
    back is events ⋈ small — Spark broadcasts it under AQE once the agg
    side's runtime size is known; both sides otherwise co-partition on
    user_id, making the join shuffle-free after the agg. The final
    groupBy is |days| × |weeks| — tiny.
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date(F.col("ts").cast("timestamp")).alias("day")
    )
    first_seen = e.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        e.join(first_seen, "user_id")
        .groupBy(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
            F.floor(F.datediff("day", "cohort_day") / 7).alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("active_users"))
    )


@register(
    "tpch_q8_shape",
    oracle=f"""
WITH base AS (
  SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
         {SQL_REV_DEC} AS rev,
         n2.n_name AS supp_nation
  FROM lineitem
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region   ON n1.n_regionkey = r_regionkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'EUROPE'
    AND o_orderdate >= TIMESTAMP '1995-01-01'
    AND o_orderdate < TIMESTAMP '1997-01-01')
SELECT o_year,
       CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN rev
                     ELSE CAST(0.00 AS DECIMAL(18,2)) END) AS DOUBLE)
         / CAST(SUM(rev) AS DOUBLE) AS mkt_share
FROM base GROUP BY o_year
""",
)
def q_tpch_q8_shape(spark, sf_dir):
    """Q8 shape: national market share within a region, by year.

    All five dimension sides (orders' customer→nation→region filter
    chain and supplier→nation) broadcast after their filters; lineitem
    shuffles once to meet orders on orderkey. The share is a ratio of
    two exact-decimal sums (numerator via CASE inside the same
    aggregate — one pass, no self-join), divided once in double: IEEE-
    identical cross-engine.
    """
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    cust = (
        load_table(spark, sf_dir, "customer")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey")
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    base = (
        li.join(o, o.o_orderkey == li.l_orderkey)
        .join(F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            rev_dec().alias("rev"),
            "supp_nation",
        )
    )
    zero = F.lit("0.00").cast("decimal(18,2)")
    return base.groupBy("o_year").agg(
        (
            F.sum(F.when(F.col("supp_nation") == "NATION_3", F.col("rev")).otherwise(zero)).cast("double")
            / F.sum("rev").cast("double")
        ).alias("mkt_share")
    )


@register(
    "events_anomaly_mad",
    oracle="""
WITH med AS (
  SELECT event_type, MEDIAN(value) AS med
  FROM events GROUP BY event_type),
dev AS (
  SELECT e.event_type, e.value, med.med,
         ABS(e.value - med.med) AS adev
  FROM events e JOIN med USING (event_type)),
mad AS (
  SELECT event_type, ANY_VALUE(med) AS med, MEDIAN(adev) AS mad
  FROM dev GROUP BY event_type)
SELECT d.event_type, ANY_VALUE(d.med) AS med, ANY_VALUE(m.mad) AS mad,
       CAST(count_if(d.adev > 3.5 * m.mad) AS BIGINT) AS n_outliers,
       COUNT(*) AS n
FROM dev d JOIN mad m ON d.event_type = m.event_type
GROUP BY d.event_type
""",
)
def q_events_anomaly_mad(spark, sf_dir):
    """Robust anomaly detection: median-absolute-deviation outliers.

    MAD is the robust alternative to stddev-based z-scores (stddev sums
    of squares are float-order-dependent; medians are order statistics —
    exactly deterministic in both engines, so the 3.5x threshold can't
    flip on ulps). Two grouped exact medians over 5 event-type groups +
    a broadcast join back; the per-group median at 100 TB would switch
    to percentile_approx, traded off in the docstring not the plan.
    """
    from dataframe_differ_spark.operators.timeseries import mad_outliers

    e = load_table(spark, sf_dir, "events").select("event_type", "value")
    return mad_outliers(e, ["event_type"], "value", thresh=3.5)


PARETO_SQL = """
WITH per_cust AS (
  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders GROUP BY o_custkey),
ranked AS (
  SELECT o_custkey, rev,
         SUM(rev) OVER (ORDER BY rev DESC, o_custkey
                        ROWS UNBOUNDED PRECEDING) AS cum_rev,
         SUM(rev) OVER () AS total_rev,
         ROW_NUMBER() OVER (ORDER BY rev DESC, o_custkey) AS rk,
         COUNT(*) OVER () AS n_cust
  FROM per_cust)
SELECT CAST(MIN(rk) AS BIGINT) AS customers_to_80pct,
       CAST(ANY_VALUE(n_cust) AS BIGINT) AS n_customers,
       CAST(MIN(rk) AS DOUBLE) / ANY_VALUE(n_cust) AS pareto_fraction
FROM ranked
WHERE CAST(cum_rev AS DOUBLE) >= 0.8 * CAST(total_rev AS DOUBLE)
"""


@register(
    "revenue_pareto",
    oracle=PARETO_SQL,
    scale_path="revenue_pareto_sketch",
)
def q_revenue_pareto(spark, sf_dir):
    """Pareto concentration: how few customers produce 80% of revenue.

    The running revenue share is a window cumsum over EXACT DECIMALS —
    associative and order-independent, so DuckDB's segment-tree window
    sum and Spark's incremental one agree bit-for-bit, and the 0.8
    threshold row is unambiguous (ties broken by custkey). The global
    window is over the per-customer aggregate (|customers| rows, not
    orders); at 100 TB the single-partition window would become a
    two-phase partial-rank merge, the aggregate below it is unchanged.
    """
    per_cust = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"))
    )
    word = Window.orderBy(F.col("rev").desc(), "o_custkey")
    wrun = word.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wall = Window.partitionBy()
    ranked = per_cust.select(
        F.sum("rev").over(wrun).alias("cum_rev"),
        F.sum("rev").over(wall).alias("total_rev"),
        F.row_number().over(word).alias("rk"),
        F.count(F.lit(1)).over(wall).alias("n_cust"),
    )
    return ranked.filter(
        F.col("cum_rev").cast("double") >= 0.8 * F.col("total_rev").cast("double")
    ).agg(
        F.min("rk").cast("long").alias("customers_to_80pct"),
        F.any_value("n_cust").alias("n_customers"),
        (F.min("rk").cast("double") / F.any_value("n_cust")).alias("pareto_fraction"),
    )


RFM_SQL = """
WITH rfm AS (
  SELECT o_custkey,
         MAX(o_orderdate) AS last_order,
         COUNT(*) AS frequency,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
  FROM orders GROUP BY o_custkey),
scored AS (
  SELECT o_custkey,
         CAST(NTILE(5) OVER (ORDER BY last_order DESC, o_custkey) AS INT)
           AS r_score,
         CAST(NTILE(5) OVER (ORDER BY frequency DESC, o_custkey) AS INT)
           AS f_score,
         CAST(NTILE(5) OVER (ORDER BY monetary DESC, o_custkey) AS INT)
           AS m_score
  FROM rfm)
SELECT r_score, f_score, m_score, COUNT(*) AS n_customers
FROM scored GROUP BY 1, 2, 3
"""


@register(
    "orders_rfm",
    oracle=RFM_SQL,
    scale_path="orders_rfm_sketch",
)
def q_orders_rfm(spark, sf_dir):
    """RFM segmentation: quintile scores for recency/frequency/monetary.

    One fact aggregate to per-customer RFM, then three NTILE windows
    over that small aggregate (each fully tie-broken by custkey so both
    engines assign identical quintiles), then the 125-cell segment
    distribution. Exact-decimal monetary keeps the quintile ORDER BY
    float-free. The three single-partition windows run over |customers|
    rows — at 100 TB swap NTILE for percent_rank over a range-
    partitioned sort; the cell distribution is unchanged.
    """
    rfm = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("monetary"),
        )
    )
    scored = rfm.select(
        F.ntile(5).over(Window.orderBy(F.col("last_order").desc(), "o_custkey")).alias("r_score"),
        F.ntile(5).over(Window.orderBy(F.col("frequency").desc(), "o_custkey")).alias("f_score"),
        F.ntile(5).over(Window.orderBy(F.col("monetary").desc(), "o_custkey")).alias("m_score"),
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).alias("n_customers")
    )


@register(
    "events_dau_wau",
    oracle="""
WITH e AS (SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
           FROM events),
     days AS (SELECT DISTINCT day FROM e),
     dau AS (SELECT day, COUNT(DISTINCT user_id) AS dau FROM e GROUP BY day),
     wau AS (SELECT d.day, COUNT(DISTINCT e.user_id) AS wau
             FROM days d JOIN e
               ON e.day <= d.day AND e.day > d.day - INTERVAL 7 DAY
             GROUP BY d.day)
SELECT strftime(d.day, '%Y-%m-%d') AS day,
       CAST(dau.dau AS BIGINT) AS dau,
       CAST(wau.wau AS BIGINT) AS wau,
       ROUND(CAST(dau.dau AS DOUBLE) / wau.wau, 9) AS stickiness
FROM days d JOIN dau ON d.day = dau.day JOIN wau ON d.day = wau.day
""",
)
def q_events_dau_wau(spark, sf_dir):
    """Active-user analytics: DAU, trailing-7-day WAU, stickiness.

    Rolling DISTINCT counts can't use a plain window (distinct isn't
    subtractable), so WAU joins each day against the (user, day)
    deduped event set restricted by a 7-day range predicate — the
    deduped set is one row per (user, active-day), orders of magnitude
    smaller than raw events, and the day spine broadcasts. At 100 TB
    the exact form becomes per-day HLL partials OR-merged over the
    trailing window (`agg_hll_merge` shows the sketch plumbing);
    exactness is traded last.
    """
    e = (
        load_table(spark, sf_dir, "events")
        .select("user_id", F.to_date(F.col("ts").cast("timestamp")).alias("day"))
        .distinct()
    )
    days = e.select("day").distinct()
    dau = e.groupBy("day").agg(F.countDistinct("user_id").alias("dau"))
    d = days.select(F.col("day").alias("d_day"))
    wau = (
        e.join(
            F.broadcast(d),
            (F.col("day") <= F.col("d_day"))
            & (F.col("day") > F.date_sub(F.col("d_day"), 7)),
        )
        .groupBy("d_day")
        .agg(F.countDistinct("user_id").alias("wau"))
    )
    return (
        dau.join(wau, dau.day == wau.d_day)
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "dau",
            "wau",
            F.round(F.col("dau").cast("double") / F.col("wau"), 9).alias(
                "stickiness"
            ),
        )
    )


@register(
    "tpch_q12_shape",
    oracle="""
SELECT l_linestatus AS ship_class,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY l_linestatus
""",
)
def q_tpch_q12_shape(spark, sf_dir):
    """TPC-H Q12 shape (shipping-mode priority counts), adapted to the
    narrowed schema: l_linestatus stands in for l_shipmode and the
    date window filters l_shipdate (no commit/receipt dates exist).

    The plan is Q12's: fact-fact equi-join with the date predicate
    pushed to the lineitem scan, then a conditional aggregate on the
    join output. At 100 TB the filter prunes before the shuffle and
    the two CASE sums ride the same map-side partial aggregate.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
    )
    o = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy(F.col("l_linestatus").alias("ship_class"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "tpch_q21_shape",
    oracle="""
WITH l AS (
  SELECT l_orderkey, l_suppkey,
         l_shipdate > o_orderdate + INTERVAL 60 DAY AS is_late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F')
SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM l l1 JOIN supplier ON s_suppkey = l1.l_suppkey
WHERE l1.is_late
  AND EXISTS (SELECT 1 FROM l l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM l l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.is_late)
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 10
""",
)
def q_tpch_q21_shape(spark, sf_dir):
    """TPC-H Q21 shape (suppliers who kept orders waiting): the
    exists / not-exists double-correlated pattern, with "late"
    proxied as l_shipdate > o_orderdate + 60 days (the narrowed
    schema has no commit/receipt dates).

    Spark-first decorrelation: both correlated subqueries become
    self-joins of the SAME filtered join output — a left-semi
    (another supplier touched the order) and a left-anti (no OTHER
    supplier was late). All three legs share the l_orderkey shuffle
    key, so AQE reuses one exchange; supplier is a broadcast dim.
    Late lineitems are a small fraction, so the semi/anti probe
    sides stay skinny at 100 TB.
    """
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    li = load_table(spark, sf_dir, "lineitem")
    l = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            "l_orderkey",
            "l_suppkey",
            (
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr("interval 60 days")
            ).alias("is_late"),
        )
    )
    l1 = l.filter(F.col("is_late")).select("l_orderkey", "l_suppkey")
    other = l.select(
        F.col("l_orderkey").alias("o_key"), F.col("l_suppkey").alias("o_supp")
    )
    other_late = l.filter(F.col("is_late")).select(
        F.col("l_orderkey").alias("o_key"), F.col("l_suppkey").alias("o_supp")
    )
    waited = (
        l1.join(
            other,
            (l1.l_orderkey == other.o_key) & (l1.l_suppkey != other.o_supp),
            "left_semi",
        )
        .join(
            other_late,
            (l1.l_orderkey == F.col("o_key"))
            & (l1.l_suppkey != F.col("o_supp")),
            "left_anti",
        )
    )
    s = load_table(spark, sf_dir, "supplier")
    return (
        waited.join(F.broadcast(s), waited.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(10)
    )


@register(
    "events_ab_test",
    oracle="""
WITH u AS (
  SELECT user_id,
         CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
                   IN ('0','1','2','3','4','5','6','7')
              THEN 'A' ELSE 'B' END AS variant,
         MAX(CASE WHEN event_type = 'purchase' AND value > 150
                  THEN 1 ELSE 0 END) AS converted
  FROM events GROUP BY user_id),
g AS (
  SELECT variant, COUNT(*) AS n_users,
         CAST(SUM(converted) AS BIGINT) AS n_conv
  FROM u GROUP BY variant),
w AS (
  SELECT MAX(CASE WHEN variant = 'A' THEN n_users END) AS n_a,
         MAX(CASE WHEN variant = 'A' THEN n_conv END) AS c_a,
         MAX(CASE WHEN variant = 'B' THEN n_users END) AS n_b,
         MAX(CASE WHEN variant = 'B' THEN n_conv END) AS c_b
  FROM g)
SELECT n_a, c_a, n_b, c_b,
       ROUND(CAST(c_a AS DOUBLE) / n_a, 9) AS rate_a,
       ROUND(CAST(c_b AS DOUBLE) / n_b, 9) AS rate_b,
       ROUND((CAST(c_a AS DOUBLE) / n_a - CAST(c_b AS DOUBLE) / n_b)
             / SQRT((CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                    * (1 - CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                    * (1.0 / n_a + 1.0 / n_b)), 9) AS z_score,
       ABS((CAST(c_a AS DOUBLE) / n_a - CAST(c_b AS DOUBLE) / n_b)
           / SQRT((CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                  * (1 - CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                  * (1.0 / n_a + 1.0 / n_b))) > 1.959963985
         AS significant
FROM w
""",
)
def q_events_ab_test(spark, sf_dir):
    """A/B experiment readout: deterministic 50/50 md5 user bucketing,
    per-variant high-value-purchase conversion rates (value > 150),
    and a two-proportion
    pooled z-test with a 95% significance flag.

    Scale: one shuffle to the per-user conversion bit (map-side
    combined), one tiny per-variant rollup, then a 2-row pivot into a
    single stats row — the z arithmetic is pure column math on one
    row. Bucketing by md5 prefix (not rng) keeps assignment stable
    across runs, engines, and re-ingestion.
    """
    e = load_table(spark, sf_dir, "events")
    u = (
        e.withColumn(
            "variant",
            F.when(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 1).isin(
                    *"01234567"
                ),
                "A",
            ).otherwise("B"),
        )
        .groupBy("user_id", "variant")
        .agg(
            F.max(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("value") > 150),
                    1,
                ).otherwise(0)
            ).alias("converted")
        )
    )
    g = u.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("converted").alias("n_conv"),
    )
    w = g.agg(
        F.max(F.when(F.col("variant") == "A", F.col("n_users"))).alias("n_a"),
        F.max(F.when(F.col("variant") == "A", F.col("n_conv"))).alias("c_a"),
        F.max(F.when(F.col("variant") == "B", F.col("n_users"))).alias("n_b"),
        F.max(F.when(F.col("variant") == "B", F.col("n_conv"))).alias("c_b"),
    )
    rate_a = F.col("c_a").cast("double") / F.col("n_a")
    rate_b = F.col("c_b").cast("double") / F.col("n_b")
    pooled = (F.col("c_a") + F.col("c_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    z = (rate_a - rate_b) / F.sqrt(
        pooled
        * (1 - pooled)
        * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
    )
    return w.select(
        "n_a",
        "c_a",
        "n_b",
        "c_b",
        F.round(rate_a, 9).alias("rate_a"),
        F.round(rate_b, 9).alias("rate_b"),
        F.round(z, 9).alias("z_score"),
        (F.abs(z) > 1.959963985).alias("significant"),
    )


@register(
    "events_attribution",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type, value, ts, event_id,
         LAG(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
           AS touch
  FROM events)
SELECT COALESCE(touch, '(none)') AS attributed_touch,
       CAST(COUNT(*) AS BIGINT) AS n_purchases,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
         AS attributed_revenue
FROM seq WHERE event_type = 'purchase'
GROUP BY 1
""",
)
def q_events_attribution(spark, sf_dir):
    """Last-touch marketing attribution: each purchase's revenue is
    credited to the user's most recent preceding non-purchase event
    type (IGNORE NULLS LAG over the per-user stream).

    One window shuffle on user_id — the same partitioning every other
    sequence operator here uses, so at 100 TB a shared repartition
    serves funnel, Markov, sessionization, and attribution in one
    exchange. Revenue sums in DECIMAL partials for cross-engine
    exactness, surfaced as a 2-dp double.
    """
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seq = load_table(spark, sf_dir, "events").withColumn(
        "touch",
        F.last(
            F.when(F.col("event_type") != "purchase", F.col("event_type")),
            ignorenulls=True,
        ).over(w),
    )
    return (
        seq.filter(F.col("event_type") == "purchase")
        .groupBy(
            F.coalesce("touch", F.lit("(none)")).alias("attributed_touch")
        )
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2
            ).alias("attributed_revenue"),
        )
    )


_PAGERANK_SQL = (
    """
WITH edges AS (
  SELECT s.s_nationkey AS src, c.c_nationkey AS dst, COUNT(*) AS w
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  GROUP BY 1, 2),
outw AS (SELECT src, CAST(SUM(w) AS BIGINT) AS ow FROM edges GROUP BY src),
nodes AS (SELECT n_nationkey AS node FROM nation),
r0 AS (SELECT node, CAST(40000 AS BIGINT) AS r FROM nodes),"""
    + ",".join(_PAGERANK_ITER.format(n=i, p=i - 1) for i in (1, 2, 3))
    + """
SELECT nt.n_name, r3.r AS rank_micros
FROM r3 JOIN nation nt ON r3.node = nt.n_nationkey
"""
)


@register("graph_pagerank_nations", oracle=_PAGERANK_SQL)
def q_graph_pagerank_nations(spark, sf_dir):
    """Weighted PageRank over the nation-level trade graph, 3 iterations.

    The iterative-algorithm pattern on a relational substrate: edges are
    supplier-nation → customer-nation flows mined from the fact tables
    (ONE fact-fact shuffle + two broadcast dim joins, then a 625-row-max
    edge list), and each power iteration is a broadcast join of the
    25-row rank vector against the edges — the fact tables are never
    touched again. All rank arithmetic is INTEGER (micro-units with
    truncating division) so three unrolled iterations are bit-identical
    cross-engine — float PageRank would diverge in summation order.
    Damping 0.85, teleport mass 0.15/25 per node; dangling-node mass
    deliberately leaks (documented convention, same in both engines).
    At 100 TB the edge extraction dominates and scales as the usual
    fact join; the iteration cost is independent of fact size.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation")

    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .groupBy(
            F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("w"))
        # Tiny (≤625 rows) but expensive lineage: materialize once so the
        # three rank iterations don't re-run the fact join.
        .localCheckpoint()
    )
    outw = edges.groupBy("src").agg(F.sum("w").alias("ow"))
    nodes = nation.select(F.col("n_nationkey").alias("node"))
    ranks = nodes.withColumn("r", F.lit(40000).cast("bigint"))
    for _ in range(3):
        contrib = (
            edges.join(F.broadcast(ranks), edges.src == ranks.node)
            .join(F.broadcast(outw), "src")
            .select("dst", F.expr("(r * w) div ow").alias("c"))
        )
        inc = contrib.groupBy("dst").agg(F.sum("c").alias("s"))
        ranks = (
            nodes.join(inc, nodes.node == inc.dst, "left")
            .select(
                "node",
                (
                    F.lit(6000).cast("bigint")
                    + F.expr("coalesce(s, 0) * 85 div 100")
                ).alias("r"),
            )
        )
    return ranks.join(
        F.broadcast(nation), ranks.node == nation.n_nationkey
    ).select("n_name", F.col("r").alias("rank_micros"))


_CUM_UNIQUES_SQL = """
WITH firsts AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day
  FROM events GROUP BY user_id),
per_day AS (
  SELECT first_day AS day, COUNT(*) AS new_users FROM firsts GROUP BY 1),
days AS (
  SELECT UNNEST(generate_series(DATE '2024-01-01', DATE '2024-01-30',
                                INTERVAL 1 DAY))::DATE AS day)
SELECT STRFTIME(d.day, '%Y-%m-%d') AS day,
       COALESCE(p.new_users, 0) AS new_users,
       CAST(SUM(COALESCE(p.new_users, 0))
              OVER (ORDER BY d.day ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS cum_users
FROM days d LEFT JOIN per_day p ON d.day = p.day
"""


@register("events_cumulative_uniques", oracle=_CUM_UNIQUES_SQL)
def q_events_cumulative_uniques(spark, sf_dir):
    """Cumulative unique-user curve (the growth chart) without any
    running COUNT(DISTINCT).

    A running distinct count over a window is quadratic state; the scale
    form is first-touch attribution: min(date) per user (one shuffle,
    map-side combinable), count new users per day, then a running SUM
    over the 30-row day spine. The distinct-tracking work is exactly one
    aggregate over user_id regardless of how many days the curve spans.
    """
    e = load_table(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("first_day"))
    per_day = firsts.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).alias("new_users")
    )
    days = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("2024-01-01").cast("date"),
                F.lit("2024-01-30").cast("date"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("day")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        days.join(per_day, "day", "left")
        .withColumn("new_users", F.coalesce("new_users", F.lit(0)))
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "new_users",
            F.sum("new_users").over(w).alias("cum_users"),
        )
    )


_BASKET_SQL = """
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS support
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2)
SELECT part_a, part_b, support
FROM pairs
ORDER BY support DESC, part_a, part_b
LIMIT 25
"""


@register("orders_basket_affinity", oracle=_BASKET_SQL)
def q_orders_basket_affinity(spark, sf_dir):
    """Market-basket affinity: top co-purchased part pairs.

    Frequent-itemset support counting with the self-join scoped to the
    BASKET (order) — the pair space is Σ|basket|² with |basket| ≤ 7
    lineitems here, so candidate pairs grow linearly with orders, never
    quadratically with parts. One shuffle on l_orderkey builds the pairs,
    one map-side-combinable count on the pair key, TakeOrderedAndProject
    for the top-k. The same plan at 100 TB: per-basket blow-up is
    bounded by basket size (retail ~dozens), and the pair-count
    aggregate is where the data collapses.
    """
    items = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = items.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("part_a"))
    b = items.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("part_b"))
    return (
        a.join(b, "k")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("support"))
        .orderBy(F.col("support").desc(), "part_a", "part_b")
        .limit(25)
    )


_MIGRATE_VALIDATE_SQL = f"""
WITH right_t AS ({{mut}}),
expect AS (
  SELECT COUNT(*) AS total,
         CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
           + (COUNT(*) - COUNT(DISTINCT o_orderkey)) AS BIGINT)
           AS key_violations
  FROM right_t),
l AS (SELECT o_orderstatus, COUNT(*) AS n FROM orders GROUP BY 1),
r AS (SELECT o_orderstatus, COUNT(*) AS n FROM right_t GROUP BY 1),
recon AS (
  SELECT CAST(SUM(ABS(COALESCE(r.n, 0) - COALESCE(l.n, 0))) AS BIGINT)
           AS abs_group_delta
  FROM l FULL OUTER JOIN r ON l.o_orderstatus = r.o_orderstatus),
d AS (
  SELECT CASE WHEN o.o_orderkey IS NULL THEN 'I'
              WHEN m.o_orderkey IS NULL THEN 'D'
              WHEN o.o_totalprice IS DISTINCT FROM m.o_totalprice
                   OR o.o_custkey IS DISTINCT FROM m.o_custkey
                   OR o.o_orderstatus IS DISTINCT FROM m.o_orderstatus
                   OR o.o_orderdate IS DISTINCT FROM m.o_orderdate
                   OR o.o_orderpriority IS DISTINCT FROM m.o_orderpriority
              THEN 'C' ELSE 'N' END AS st
  FROM orders o FULL OUTER JOIN right_t m ON o.o_orderkey = m.o_orderkey),
diffc AS (
  SELECT CAST(SUM(CASE WHEN st = 'C' THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
         CAST(SUM(CASE WHEN st = 'I' THEN 1 ELSE 0 END) AS BIGINT) AS n_inserted,
         CAST(SUM(CASE WHEN st = 'D' THEN 1 ELSE 0 END) AS BIGINT) AS n_deleted,
         CAST(SUM(CASE WHEN st = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged
  FROM d)
SELECT e.total AS right_total, e.key_violations,
       rc.abs_group_delta,
       dc.n_changed, dc.n_inserted, dc.n_deleted, dc.n_unchanged,
       e.key_violations = 0 AND dc.n_changed + dc.n_inserted + dc.n_deleted = 0
         AS migration_clean
FROM expect e CROSS JOIN recon rc CROSS JOIN diffc dc
"""


@register(
    "pipeline_migration_validate",
    oracle=_MIGRATE_VALIDATE_SQL.format(mut=MUTATED_ORDERS_SQL),
)
def q_pipeline_migration_validate(spark, sf_dir):
    """End-to-end migration validation verdict (the reference's whole
    reason to exist, as one composite).

    Chains the three screens in escalating cost order — (1) key-integrity
    expectations on the migrated side, (2) per-group row-count
    reconciliation, (3) the full keyed row diff — into a single one-row
    verdict a CI gate can assert on. Phases 1+2 are scan-cheap and would
    short-circuit phase 3 in an imperative harness; expressed as one
    DataFrame the optimizer shares the scans instead. The verdict row
    is intentionally tiny: at 100 TB the *report* must collapse before
    it reaches the driver.
    """
    from dataframe_differ_spark.queries._mutation import mutated_orders as _mut

    orders = load_table(spark, sf_dir, "orders")
    right = _mut(orders)
    expect = right.agg(
        F.count(F.lit(1)).alias("right_total"),
        (
            F.sum(F.col("o_orderkey").isNull().cast("bigint"))
            + (F.count(F.lit(1)) - F.countDistinct("o_orderkey"))
        ).alias("key_violations"),
    )
    l = orders.groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("ln"))
    r = right.groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("rn"))
    recon = (
        l.join(r, "o_orderstatus", "full_outer")
        .select(
            F.abs(
                F.coalesce("rn", F.lit(0)) - F.coalesce("ln", F.lit(0))
            ).alias("delta")
        )
        .agg(F.sum("delta").alias("abs_group_delta"))
    )
    d = D.diff(orders, right, ["o_orderkey"])
    diffc = d.agg(
        F.sum((F.col("diff_status") == "C").cast("bigint")).alias("n_changed"),
        F.sum((F.col("diff_status") == "I").cast("bigint")).alias("n_inserted"),
        F.sum((F.col("diff_status") == "D").cast("bigint")).alias("n_deleted"),
        F.sum((F.col("diff_status") == "N").cast("bigint")).alias("n_unchanged"),
    )
    return (
        expect.crossJoin(recon)
        .crossJoin(diffc)
        .withColumn(
            "migration_clean",
            (F.col("key_violations") == 0)
            & (F.col("n_changed") + F.col("n_inserted") + F.col("n_deleted") == 0),
        )
    )


# ---------------------------------------------------------------------------
# Round 4: the five TPC-H shapes the suite still lacked (Q2/Q9/Q11/Q16/Q20).
# The testdata has no partsupp table, so each preserves the canonical JOIN
# AND SUBQUERY SHAPE of its query with lineitem as the part-supplier bridge
# — the same adaptation discipline the existing *_shape queries use.
# ---------------------------------------------------------------------------


@register(
    "tpch_q2_shape",
    oracle="""
WITH ucost AS (
  SELECT l_partkey, l_suppkey,
         MIN(l_extendedprice / l_quantity) AS unit_cost
  FROM lineitem GROUP BY l_partkey, l_suppkey),
reg AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'),
cand AS (
  SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal, n_name, unit_cost,
         MIN(unit_cost) OVER (PARTITION BY p_partkey) AS best
  FROM ucost
  JOIN reg ON reg.s_suppkey = ucost.l_suppkey
  JOIN part ON p_partkey = ucost.l_partkey
  WHERE p_type = 'ECONOMY' AND p_size <= 10)
SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
       ROUND(unit_cost, 9) AS unit_cost
FROM cand WHERE unit_cost = best
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
""",
)
def q_tpch_q2_shape(spark, sf_dir):
    """Q2 shape: minimum-cost supplier per part within a region.

    The canonical correlated-MIN subquery, decorrelated into a window
    over the region-filtered candidate set (every regional supplier of a
    surviving part is present, so the window MIN equals the correlated
    MIN — the q17 device). Unit cost is MIN(extendedprice/quantity) from
    lineitem (the partsupp stand-in): a deterministic double both engines
    compute identically, so the `unit_cost = best` equality can't flip.
    Supplier/nation/region dims broadcast; the only big shuffle is the
    (part, supplier) aggregate; top-100 is TakeOrdered, never a full sort.
    """
    li = load_table(spark, sf_dir, "lineitem")
    ucost = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost")
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    reg = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_type") == "ECONOMY") & (F.col("p_size") <= 10)
    )
    cand = (
        ucost.join(F.broadcast(reg), reg.s_suppkey == ucost.l_suppkey)
        .join(F.broadcast(p), p.p_partkey == ucost.l_partkey)
        .withColumn(
            "best", F.min("unit_cost").over(Window.partitionBy("p_partkey"))
        )
    )
    return (
        cand.filter(F.col("unit_cost") == F.col("best"))
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_name",
            F.round("unit_cost", 9).alias("unit_cost"),
        )
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@register(
    "tpch_q9_shape",
    oracle=f"""
SELECT n_name AS nation,
       CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
       CAST(SUM({SQL_REV_DEC}
                - CAST(p_retailprice AS DECIMAL(12,2))
                  * CAST(l_quantity AS DECIMAL(12,2))
                  * CAST(0.6 AS DECIMAL(2,1))) AS DOUBLE) AS sum_profit
FROM lineitem
JOIN part     ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN orders   ON o_orderkey = l_orderkey
WHERE p_name LIKE '%widget%'
GROUP BY 1, 2
""",
)
def q_tpch_q9_shape(spark, sf_dir):
    """Q9 shape: product-line profit by supplier nation and order year.

    The canonical 5-way star join with a computed measure. Profit =
    discounted revenue minus a cost proxy (60% of retail price × qty —
    the partsupp supplycost stand-in), ALL in exact decimals so the
    grouped sums are partition-order-independent and bit-identical
    cross-engine. part/supplier/nation broadcast; lineitem⋈orders is the
    one big join, shuffled on the order key; the aggregate partials
    combine map-side.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders")
    amount = rev_dec() - (
        F.col("p_retailprice").cast("decimal(12,2)")
        * F.col("l_quantity").cast("decimal(12,2)")
        * F.lit(0.6).cast("decimal(2,1)")
    )
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(F.sum(amount).cast("double").alias("sum_profit"))
    )


@register(
    "tpch_q11_shape",
    oracle=f"""
WITH pv AS (
  SELECT l_partkey AS p_partkey,
         CAST(SUM({SQL_REV_DEC}) AS DOUBLE) AS part_value
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_3'
  GROUP BY l_partkey),
tot AS (SELECT MAX(part_value) AS max_value FROM pv)
SELECT p_partkey, ROUND(part_value, 6) AS part_value
FROM pv CROSS JOIN tot
WHERE part_value > 0.5 * max_value
""",
)
def q_tpch_q11_shape(spark, sf_dir):
    """Q11 shape: parts holding an outsized share of one nation's value.

    The canonical scalar-subquery HAVING: per-part value for a single
    supplier nation, kept only when above a threshold derived from a
    GLOBAL aggregate (here half the most valuable part — scale-invariant
    where Q11's fixed fraction empties out as the part count grows).
    Sums are exact decimals cast to double; the 1-row scalar broadcasts
    back over the per-part aggregate (no second scan of lineitem — it
    folds over the already-aggregated part values). The threshold
    compare runs on identical doubles in both engines.
    """
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    pv = (
        li.join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("l_partkey").alias("p_partkey"))
        .agg(F.sum(rev_dec()).cast("double").alias("part_value"))
    )
    tot = pv.agg(F.max("part_value").alias("max_value"))
    return (
        pv.join(F.broadcast(tot), how="cross")
        .filter(F.col("part_value") > 0.5 * F.col("max_value"))
        .select("p_partkey", F.round("part_value", 6).alias("part_value"))
    )


@register(
    "tpch_q16_shape",
    oracle="""
WITH ok_supp AS (SELECT s_suppkey FROM supplier WHERE s_acctbal >= 0),
ps AS (
  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
  WHERE l_suppkey IN (SELECT s_suppkey FROM ok_supp))
SELECT p_brand, p_type, p_size,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM ps JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#1' AND p_size IN (1, 5, 10, 15, 20, 25)
GROUP BY p_brand, p_type, p_size
""",
)
def q_tpch_q16_shape(spark, sf_dir):
    """Q16 shape: supplier diversity per part attribute combination.

    The canonical NOT-IN-excluded COUNT(DISTINCT supplier): suppliers
    with negative balance stand in for the complaints exclusion, applied
    as a SEMI join against the positive-balance side (an anti join on
    the excluded set is equivalent; semi keeps the broadcast small). The
    (part, supplier) bridge comes from distinct lineitem pairs — one
    dedup shuffle — and the distinct-count expand runs on the already
    attribute-filtered join.
    """
    li = load_table(spark, sf_dir, "lineitem")
    ok = load_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") >= 0)
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25)
    )
    ps = (
        li.join(
            F.broadcast(ok.select("s_suppkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_semi",
        )
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    return (
        ps.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "tpch_q20_shape",
    oracle="""
WITH shipped AS (
  SELECT l_suppkey, l_partkey,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
  FROM lineitem
  JOIN part ON p_partkey = l_partkey
  WHERE p_name LIKE 'small%'
    AND l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1997-01-01'
  GROUP BY l_suppkey, l_partkey),
thr AS (
  SELECT l_suppkey, l_partkey, qty,
         0.5 * SUM(qty) OVER (PARTITION BY l_partkey) AS half_part_total
  FROM shipped),
big AS (SELECT DISTINCT l_suppkey FROM thr WHERE qty > half_part_total)
SELECT s_name, s_acctbal
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND s_suppkey IN (SELECT l_suppkey FROM big)
""",
)
def q_tpch_q20_shape(spark, sf_dir):
    """Q20 shape: suppliers dominating a part's shipments (semi-join with
    a correlated availability threshold).

    The canonical nested semi-join: per-(supplier, part) shipped quantity
    in a window year, kept when above half the part's total (the
    partsupp availqty stand-in — a per-part window over the aggregate,
    partitioned, never global), reduced to distinct suppliers and
    SEMI-joined into the nation-filtered supplier dim. Quantity sums are
    exact decimals; the 0.5× threshold compares identical doubles.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("small%"))
    shipped = (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
        )
        .join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("qty")
        )
    )
    thr = shipped.withColumn(
        "half_part_total",
        0.5 * F.sum("qty").over(Window.partitionBy("l_partkey")),
    )
    big = (
        thr.filter(F.col("qty") > F.col("half_part_total"))
        .select("l_suppkey")
        .distinct()
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .join(F.broadcast(big), F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_name", "s_acctbal")
    )


# Shared co-purchase graph definition (used by graph_triangle_count here
# and graph_bfs_hops in statsops.py): per-order basket sampling to the 3
# md5-smallest distinct parts, then undirected (u < v) edges among them.
# ``mat`` injects DuckDB's MATERIALIZED hint for recursive-CTE callers
# (this string never runs on Spark).
def copurchase_edges_ctes(mat: str = "") -> str:
    return f"""lp AS {mat} (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
picked AS {mat} (
  SELECT l_orderkey, l_partkey
  FROM (SELECT l_orderkey, l_partkey,
               ROW_NUMBER() OVER (PARTITION BY l_orderkey
                 ORDER BY md5(CAST(l_orderkey AS VARCHAR) || ':' ||
                              CAST(l_partkey AS VARCHAR))) AS rn
        FROM lp) WHERE rn <= 3),
edges AS {mat} (
  SELECT DISTINCT LEAST(a.l_partkey, b.l_partkey) AS u,
                  GREATEST(a.l_partkey, b.l_partkey) AS v
  FROM picked a JOIN picked b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)"""


def copurchase_edges(spark, sf_dir):
    """The co-purchase edge list, built once per (session, sf_dir)
    through `session_cached`: the graph queries (triangles, BFS,
    PageRank, link prediction, ...) all consume the same construction,
    so the ~O(orders) edge frame is materialized once and its
    checkpointed blocks are shared."""
    from dataframe_differ_spark.operators.session_cache import session_cached

    return session_cached(
        spark,
        ("copurchase_edges", os.path.abspath(sf_dir)),
        lambda: _copurchase_edges_build(spark, sf_dir),
    )[0]


def _basket_picks(spark, sf_dir):
    """(l_orderkey, m): each order's first 3 distinct parts by
    md5(orderkey:partkey), picked in one hash aggregation."""
    # Round 11 (guide §2.4): the former ``.distinct()`` was a second
    # full shuffle of the lineitem projection keyed almost identically to
    # the groupBy that follows — ``collect_set`` dedups the same pairs
    # inside the ONE aggregation (identical result: duplicate (h, p)
    # structs collapse in the set exactly as the pre-distinct collapsed
    # them; group size stays basket-bounded).
    lp = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    return lp.groupBy("l_orderkey").agg(
        F.expr(
            "slice(transform(array_sort(collect_set(struct("
            "md5(concat_ws(':', CAST(l_orderkey AS STRING), "
            "CAST(l_partkey AS STRING))) AS h, l_partkey AS p))), "
            "x -> x.p), 1, 3)"
        ).alias("m")
    )


def _copurchase_edges_build(spark, sf_dir):
    """Spark twin of :func:`copurchase_edges_ctes`: distinct (u < v) edges.

    The 3-parts-per-basket pick AND the in-basket pair expansion run in
    ONE hash aggregation on l_orderkey plus a bounded HOF (C(3,2) = 3
    pairs per order), so edge volume is O(orders) at any scale.
    """
    picked = _basket_picks(spark, sf_dir)
    return (
        picked.select(
            F.explode(
                F.expr(
                    "flatten(transform(m, (x, i) -> "
                    "transform(slice(m, i + 2, size(m) - i - 1), "
                    "y -> struct(least(x, y) AS u, greatest(x, y) AS v))))"
                )
            ).alias("e")
        )
        .select("e.u", "e.v")
        .distinct()
    )


def _pernode_triangles_sql(ori: str, cap_ctes: str) -> str:
    """Co-purchase degrees, degree-oriented edges named ``ori`` (then the
    caller's ``cap_ctes``, which must leave an ``ori`` CTE), triangles
    and per-node triangle counts; ends after the pernode CTE."""
    return f"""
WITH {copurchase_edges_ctes()},
deg AS (
  SELECT n, CAST(COUNT(*) AS BIGINT) AS d
  FROM (SELECT u AS n FROM edges UNION ALL SELECT v AS n FROM edges)
  GROUP BY n),
{ori} AS (
  SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS a,
         CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS b
  FROM edges e JOIN deg du ON du.n = e.u JOIN deg dv ON dv.n = e.v),
{cap_ctes}tri AS (
  SELECT w1.a AS x, w1.b AS y, w2.b AS z
  FROM ori w1 JOIN ori w2 ON w1.b = w2.a
  JOIN ori w3 ON w3.a = w1.a AND w3.b = w2.b),
pernode AS (
  SELECT n, CAST(COUNT(*) AS BIGINT) AS n_triangles
  FROM (SELECT x AS n FROM tri UNION ALL SELECT y AS n FROM tri
        UNION ALL SELECT z AS n FROM tri)
  GROUP BY n)"""


_TRIANGLE_SQL = _pernode_triangles_sql("ori", "") + """
SELECT pernode.n AS part, pernode.n_triangles, deg.d AS degree
FROM pernode JOIN deg ON deg.n = pernode.n
ORDER BY n_triangles DESC, part LIMIT 50
"""


# k-core peeling, unrolled to a fixed round count so the DuckDB oracle
# replays it exactly (round 8). Peeling converges on this corpus well
# inside 8 rounds — pytest asserts rounds=8 == rounds=10.
_KCORE_K = 3
_KCORE_ROUNDS = 8


def _kcore_sql(k: int, rounds: int) -> str:
    # every e{r} is referenced 3x by round r+1 (the join + the degree
    # CTE) — without MATERIALIZED, DuckDB inlines the chain into 3^rounds
    # scans of lineitem ("Too many open files" long before any answer)
    ctes = [
        copurchase_edges_ctes(mat="MATERIALIZED"),
        "e0 AS MATERIALIZED (SELECT u, v FROM edges)",
    ]
    for r in range(rounds):
        ctes.append(
            f"""d{r} AS MATERIALIZED (
  SELECT n, CAST(COUNT(*) AS BIGINT) AS d
  FROM (SELECT u AS n FROM e{r} UNION ALL SELECT v AS n FROM e{r})
  GROUP BY n)"""
        )
        ctes.append(f"k{r} AS MATERIALIZED (SELECT n FROM d{r} WHERE d >= {k})")
        ctes.append(
            f"""e{r + 1} AS MATERIALIZED (
  SELECT e{r}.u, e{r}.v FROM e{r}
  JOIN k{r} a ON a.n = e{r}.u JOIN k{r} b ON b.n = e{r}.v)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT n AS part, CAST(COUNT(*) AS BIGINT) AS core_degree
FROM (SELECT u AS n FROM e{rounds} UNION ALL SELECT v AS n FROM e{rounds})
GROUP BY n
ORDER BY core_degree DESC, part LIMIT 50"""
    )


@register("graph_kcore", oracle=_kcore_sql(_KCORE_K, _KCORE_ROUNDS))
def q_graph_kcore(spark, sf_dir):
    """k-core decomposition (k=3) of the co-purchase graph — the
    densest-region extractor: peel vertices of degree < 3 (and their
    edges) round after round; what survives is the maximal subgraph
    where every part co-purchases with ≥ 3 core parts. Output: top-50
    surviving parts by in-core degree — the seed set a recommender or
    fraud pipeline starts from after pruning the graph's tendrils.

    8 unconditional peel rounds, replayed EXACTLY by the unrolled
    DuckDB oracle (peeling converges here well inside 8 — asserted
    rounds=8 == rounds=10 in pytest; production loops with an
    emptiness check like `connected_components`). Plan: each round is
    one map-side-combinable degree aggregate + two vertex-keyed semi
    joins, lineage cut per round — O(rounds) uniform-key shuffles on a
    strictly shrinking edge set; no window, no collect. All-integer.

    Thin binding over the round-8 parametric :func:`operators.graph.kcore`.
    """
    from dataframe_differ_spark.operators.graph import kcore

    edges = copurchase_edges(spark, sf_dir)
    kc = kcore(edges, src="u", dst="v", k=_KCORE_K, rounds=_KCORE_ROUNDS)
    return (
        kc.select(F.col("node").alias("part"), "core_degree")
        .orderBy(F.col("core_degree").desc(), "part")
        .limit(50)
    )


_LPA_ROUNDS = 4


def _lpa_sql(rounds: int) -> str:
    # MATERIALIZED throughout: lab{r} is referenced by the next round's
    # count CTE and the chain would otherwise inline exponentially
    ctes = [
        copurchase_edges_ctes(mat="MATERIALIZED"),
        """sym AS MATERIALIZED (
  SELECT u AS a, v AS b FROM edges
  UNION ALL SELECT v AS a, u AS b FROM edges)""",
        "lab0 AS MATERIALIZED (SELECT DISTINCT a AS node, a AS label FROM sym)",
    ]
    for r in range(rounds):
        ctes.append(
            f"""c{r} AS MATERIALIZED (
  SELECT s.a AS node, l.label, CAST(COUNT(*) AS BIGINT) AS c
  FROM sym s JOIN lab{r} l ON l.node = s.b
  GROUP BY s.a, l.label)"""
        )
        ctes.append(
            f"""lab{r + 1} AS MATERIALIZED (
  SELECT node, label FROM (
    SELECT node, label,
           ROW_NUMBER() OVER (PARTITION BY node
                              ORDER BY c DESC, label) AS rn
    FROM c{r}) WHERE rn = 1)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT label AS community, CAST(COUNT(*) AS BIGINT) AS n_members
FROM lab{rounds}
GROUP BY label
ORDER BY n_members DESC, community LIMIT 20"""
    )


@register("graph_label_propagation", oracle=_lpa_sql(_LPA_ROUNDS))
def q_graph_label_propagation(spark, sf_dir):
    """Community detection by deterministic label propagation (Raghavan
    et al. 2007) on the co-purchase graph: every part starts as its own
    community; each of 4 synchronous rounds, a part adopts the most
    frequent label among its co-purchase neighbors (ties → smallest
    label — the standard derandomization that makes LPA replayable).
    Output: the 20 largest communities with their sizes — the
    near-linear-time community pass a recommender runs before anything
    expensive (Louvain, embeddings) to block the graph.

    The DuckDB oracle unrolls the same 4 rounds with the identical
    min-label tiebreak, so community assignments are hash-exact.
    Plan: each round = one edge-keyed join + one (node, label) count +
    one per-node argmax via min over a (−count, label) struct — NO
    window on the Spark side; O(rounds) uniform-key shuffles with
    lineage cut per round (the Pregel shape; fixed rounds because sync
    LPA may oscillate, so a fixpoint loop is not a contract).

    Thin binding over the round-8 parametric
    :func:`operators.graph.label_propagation`.
    """
    from dataframe_differ_spark.operators.graph import label_propagation

    edges = copurchase_edges(spark, sf_dir)
    labels = label_propagation(edges, src="u", dst="v", rounds=_LPA_ROUNDS)
    return (
        labels.groupBy(F.col("label").alias("community"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_members"))
        .orderBy(F.col("n_members").desc(), "community")
        .limit(20)
    )


# Cap for the scale form of the triangle count: compact-forward
# orientation bounds out-degree by ~sqrt(|E|), but a 100 TB hot vertex
# still pays C(out-deg, 2) as a wedge center — so the capped sibling
# samples each vertex's ORIENTED out-neighborhood down to its top-64
# out-neighbors by md5(a:b) before the wedge join (the
# link_prediction_capped / fuzzy_capped contract). 64 ≥ every oriented
# out-degree here (max 31 at sf0.01, 27 at sf0.001 — measured), so capped == exact on
# the corpus; the cap binds only on the synthetic hot vertices the
# pytest plants.
_TRI_CAP = 64

_TRIANGLE_CAPPED_SQL = _pernode_triangles_sql(
    "ori0",
    f"""ori AS (
  SELECT a, b FROM (
    SELECT a, b,
           ROW_NUMBER() OVER (PARTITION BY a
             ORDER BY md5(CAST(a AS VARCHAR) || ':' ||
                          CAST(b AS VARCHAR)), b) AS rn
    FROM ori0) WHERE rn <= {_TRI_CAP}),
""",
) + """
SELECT pernode.n AS part, pernode.n_triangles, deg.d AS degree
FROM pernode JOIN deg ON deg.n = pernode.n
ORDER BY n_triangles DESC, part LIMIT 50
"""


@register("graph_triangle_count_capped", oracle=_TRIANGLE_CAPPED_SQL)
def q_graph_triangle_count_capped(spark, sf_dir):
    """Out-neighborhood-capped triangle count — the declared 100 TB form
    of `graph_triangle_count` (round 8, VERDICT r7 item #4).

    Same co-purchase graph and compact-forward orientation, but every
    vertex's oriented out-neighborhood is first sampled to its top-64
    out-neighbors by md5(a:b) (deterministic, engine-portable — the
    oracle replays the election exactly), dropping wedge cost from
    C(out-deg, 2) on the hottest center to O(V·64²). A triangle counts
    iff all three oriented edges survive; counts are exact wherever
    oriented out-degree ≤ 64 — which is EVERYWHERE on this corpus (max
    31 at sf0.01, measured), so this query's output equals the exact form's
    (asserted pair-for-pair in pytest, along with the wedge bound on a
    synthetic 200-leaf hot vertex). The reported degree stays the TRUE
    degree. The cap is the two-phase `partitioned_topk` — no
    single-partition window on a hot key.

    Thin binding over :func:`operators.graph.triangle_count` with
    ``cap=64``.
    """
    from dataframe_differ_spark.operators.graph import triangle_count

    edges = copurchase_edges(spark, sf_dir)
    tc = triangle_count(edges, src="u", dst="v", cap=_TRI_CAP)
    return (
        tc.select(F.col("node").alias("part"), "n_triangles", "degree")
        .orderBy(F.col("n_triangles").desc(), "part")
        .limit(50)
    )


@register(
    "graph_triangle_count",
    oracle=_TRIANGLE_SQL,
    scale_path="graph_triangle_count_capped",
)
def q_graph_triangle_count(spark, sf_dir):
    """Triangle counting on a co-purchase graph (degree-ordered orientation).

    Graph construction is the scale-aware half: the part-part co-purchase
    graph is sparsified per basket — each order contributes edges among
    only 3 deterministically-sampled (md5-ordered) distinct parts — so
    edge volume is O(orders), never O(sum basket^2); this is the standard
    basket-sampling used for item-item graphs at scale. Counting is the
    compact-forward algorithm: orient every edge from its (degree, id)-
    smaller endpoint, then triangles = oriented wedge join
    (a->b)(b->c) closed by (a->c). Orientation bounds out-degree by
    ~sqrt(|E|), keeping the wedge join near-linear in |E|^1.5 instead of
    sum(d^2) — the textbook distributed triangle recipe (three
    self-equi-joins, all shuffle-partitioned on uniform vertex keys).

    Output: top-50 parts by triangle participation with their degrees —
    all exact integer math, full oracle.

    Thin binding over the parametric
    :func:`operators.graph.triangle_count` (round-6 extraction — the
    compact-forward algorithm described above lives there).
    """
    from dataframe_differ_spark.operators.graph import triangle_count

    edges = copurchase_edges(spark, sf_dir)
    tc = triangle_count(edges, src="u", dst="v")
    return (
        tc.select(F.col("node").alias("part"), "n_triangles", "degree")
        .orderBy(F.col("n_triangles").desc(), "part")
        .limit(50)
    )


_PATTERN_SEQ_SQL = """
WITH seq AS (
  SELECT user_id,
         string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
           AS s,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY user_id)
SELECT user_id, n_events,
       CAST(len(regexp_extract_all(s, 'v[^p]*p')) AS INTEGER) AS n_funnels,
       CAST(len(regexp_extract_all(s, 'p')) AS INTEGER) AS n_purchases,
       CAST(len(regexp_extract_all(s, 'e')) AS INTEGER) AS n_errors,
       contains(s, 'vp') AS has_direct_conversion
FROM seq
"""


@register("events_pattern_sequence", oracle=_PATTERN_SEQ_SQL)
def q_events_pattern_sequence(spark, sf_dir):
    """MATCH_RECOGNIZE-style sequence patterns over per-user event strings.

    Row-pattern matching without the (unsupported) MATCH_RECOGNIZE
    clause: each user's chronological event stream collapses to a
    compact symbol string (first letter of the type — distinct per type
    here; a real deployment maps types to symbols explicitly), and
    funnel patterns become regexes — 'v[^p]*p' counts non-overlapping
    view->...->purchase journeys with no intermediate purchase, the
    leftmost-match semantics both engines' regex engines share. One
    shuffle on user_id; the per-user string is bounded by the user's
    event count and at 100 TB this is the standard sessionize-then-
    pattern shape (the regex scan is partition-local, codegen'd).
    """
    e = load_table(spark, sf_dir, "events")
    seq = e.groupBy("user_id").agg(
        F.expr(
            "concat_ws('', transform(array_sort(collect_list(struct("
            "ts, event_id, substring(event_type, 1, 1) AS c))), x -> x.c))"
        ).alias("s"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return seq.select(
        "user_id",
        "n_events",
        F.size(F.expr("regexp_extract_all(s, 'v[^p]*p', 0)")).alias("n_funnels"),
        F.size(F.expr("regexp_extract_all(s, 'p', 0)")).alias("n_purchases"),
        F.size(F.expr("regexp_extract_all(s, 'e', 0)")).alias("n_errors"),
        F.col("s").contains("vp").alias("has_direct_conversion"),
    )


# CUSUM changepoint detection (Page 1954). DuckDB oracle: the recursion
# steps through day indexes carrying the one-sided sums — UNION ALL + a
# strictly-increasing index bounds it (cf. sql_recursive_components).
# The feeder CTEs are MATERIALIZED (DuckDB-only keyword; this string
# never runs on Spark) because the recursive part joins them every step
# — without the hint DuckDB re-evaluates the events scan per step
# (measured 7x slower at sf0.01, worse at sf0.1).
_CUSUM_BODY = """
WITH RECURSIVE
daily AS MATERIALIZED (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(COUNT(*) AS BIGINT) AS x
  FROM {events} GROUP BY event_type, CAST(ts AS DATE)),
idx AS MATERIALIZED (
  SELECT event_type, d, x,
         CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d)
              AS BIGINT) AS i
  FROM daily),
stats AS MATERIALIZED (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS s1,
         CAST(SUM(x * x) AS BIGINT) AS s2
  FROM idx GROUP BY event_type),
params AS MATERIALIZED (
  SELECT event_type,
         CAST(s1 AS DOUBLE) / n AS mu,
         sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n) / n)
           AS sigma
  FROM stats),
cu(event_type, i, d, x, s_hi, s_lo) AS (
  SELECT idx.event_type, idx.i, idx.d, idx.x,
         GREATEST(0.0, idx.x - p.mu - 0.5 * p.sigma),
         LEAST(0.0, idx.x - p.mu + 0.5 * p.sigma)
  FROM idx JOIN params p ON idx.event_type = p.event_type
  WHERE idx.i = 1
  UNION ALL
  SELECT idx.event_type, idx.i, idx.d, idx.x,
         GREATEST(0.0, cu.s_hi + idx.x - p.mu - 0.5 * p.sigma),
         LEAST(0.0, cu.s_lo + idx.x - p.mu + 0.5 * p.sigma)
  FROM cu
  JOIN idx ON idx.event_type = cu.event_type AND idx.i = cu.i + 1
  JOIN params p ON p.event_type = idx.event_type)
SELECT cu.event_type, CAST(cu.d AS STRING) AS day, cu.x AS n_events,
       ROUND(cu.s_hi, 6) AS cusum_hi, ROUND(cu.s_lo, 6) AS cusum_lo,
       (cu.s_hi > 4.0 * p.sigma OR cu.s_lo < -4.0 * p.sigma) AS alarm
FROM cu JOIN params p ON cu.event_type = p.event_type
"""


@register("events_changepoint_cusum", oracle=_CUSUM_BODY.format(events="events"))
def q_events_changepoint_cusum(spark, sf_dir):
    """CUSUM changepoint detection on daily event volume (Page 1954).

    The classic sequential drift detector: one-sided cumulative sums
    S_hi = max(0, S_hi + x - mu - k), S_lo = min(0, S_lo + x - mu + k)
    with k = sigma/2, alarming past 4*sigma — catches sustained small
    shifts that per-day MAD outlier checks (events_anomaly_mad) miss.
    mu/sigma come from exact integer moment sums (the
    agg_variance_exact device), and the inherently-sequential recursion
    runs as a recursive CTE over the per-type day index — 5 types
    advance in parallel, depth = days. The IDENTICAL statement runs on
    DuckDB: every step is the same IEEE add/compare chain on identical
    inputs, so the sums match bit-for-bit before the cosmetic 6-dp
    round. At 100 TB the daily rollup is the only corpus-sized work;
    the recursion runs on the KB-sized day spine.
    """
    # Spark recursive CTEs RE-EVALUATE the non-recursive CTEs on every
    # step (measured 20 s at sf0.1: ~31 re-scans of events). Materialize
    # the KB-sized day spine once and recurse over THAT — the oracle
    # keeps the single-statement form (DuckDB materializes CTEs). The
    # fold itself is the parametric :func:`operators.timeseries.cusum`
    # (round-6 extraction): one codegen'd sequential fold per event_type
    # whose left-associated IEEE chain the oracle's recursive CTE
    # replays bit-for-bit.
    from dataframe_differ_spark.operators.timeseries import cusum

    e = load_table(spark, sf_dir, "events")
    daily = (
        e.groupBy("event_type", F.col("ts").cast("date").alias("d"))
        .agg(F.count(F.lit(1)).alias("x"))
        .localCheckpoint(eager=False)
    )
    cs = cusum(daily, ["event_type"], "d", "x", k_sigma=0.5, alarm_sigma=4.0)
    return cs.select(
        "event_type",
        F.col("d").cast("string").alias("day"),
        F.col("x").alias("n_events"),
        F.round("cusum_hi", 6).alias("cusum_hi"),
        F.round("cusum_lo", 6).alias("cusum_lo"),
        "alarm",
    )


def _lag_pearson_sql(alias: str) -> str:
    """Per-lag Pearson r over the ``pairs`` CTE (lag, x0, x1) from exact
    HUGEINT moments, output as (lag, n_pairs, ``alias``)."""
    return f"""mom AS (
  -- round 7: HUGEINT moments + the shared split-cast device
  -- (operators/numeric.py) — BIGINT Sxx wrapped past ~1e8-count days.
  SELECT lag, CAST(COUNT(*) AS HUGEINT) AS n,
         SUM(CAST(x0 AS HUGEINT)) AS sx, SUM(CAST(x1 AS HUGEINT)) AS sy,
         SUM(CAST(x0 AS HUGEINT) * x1) AS sxy,
         SUM(CAST(x0 AS HUGEINT) * x0) AS sxx,
         SUM(CAST(x1 AS HUGEINT) * x1) AS syy
  FROM pairs GROUP BY lag)
SELECT lag, CAST(n AS BIGINT) AS n_pairs,
       ROUND({_split_sql('n * sxy - sx * sy')}
             / (sqrt({_split_sql('n * sxx - sx * sx')})
                * sqrt({_split_sql('n * syy - sy * sy')})), 9) AS {alias}
FROM mom
"""


_AUTOCORR_SQL = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY CAST(ts AS DATE)),
lags AS (SELECT CAST(range AS INTEGER) AS lag FROM range(1, 8)),
pairs AS (
  SELECT l.lag, a.x AS x0, b.x AS x1
  FROM daily a JOIN lags l ON TRUE
  JOIN daily b ON b.d = a.d + l.lag),
""" + _lag_pearson_sql("autocorr")


@register("events_autocorr", oracle=_AUTOCORR_SQL)
def q_events_autocorr(spark, sf_dir):
    """Lag-1..7 autocorrelation of the daily event-volume series.

    The seasonality detector that belongs next to `events_changepoint_cusum`
    in a pipeline-health dashboard: Pearson r between the day series and
    its lag-k shift reveals weekly periodicity (peak at lag 7). Two
    scale-minded choices: (1) the lagged pairing is a self-JOIN on
    `date + lag` over the 30-row daily rollup — no global window, no
    ordering assumption, works even with gap days; (2) Pearson comes from
    exact integer moment sums (counts and their products stay BIGINT —
    the agg_variance_exact device), so the only float ops are the final
    sub/mul/sqrt/div chain, identical in both engines. At 100 TB only the
    daily rollup touches the corpus; the lag join runs on a KB spine.
    """
    from dataframe_differ_spark.operators.timeseries import autocorr

    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.count(F.lit(1)).alias("x")
    )
    # Integer day offsets from the series start: d ↔ i is a bijection
    # with gaps preserved, so the operator's (i + lag = j) equi-join
    # pairs exactly the rows the date join (d + lag = d1) would.
    m = daily.agg(F.min("d").alias("d0"))
    pts = daily.crossJoin(F.broadcast(m)).select(
        F.datediff("d", "d0").cast("long").alias("i"), "x"
    )
    ac = autocorr(pts, "i", "x", max_lag=7)
    return ac.select(
        "lag", "n_pairs", F.round("autocorr", 9).alias("autocorr")
    )


_SEASONALITY_SQL = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY CAST(ts AS DATE)),
dow AS (
  SELECT isodow(d) AS dow, CAST(COUNT(*) AS BIGINT) AS nd,
         CAST(SUM(x) AS BIGINT) AS sd
  FROM daily GROUP BY isodow(d)),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS nt, CAST(SUM(x) AS BIGINT) AS st
  FROM daily)
SELECT CAST(daily.d AS STRING) AS day,
       CAST(dow.dow AS INTEGER) AS dow,
       daily.x AS n_events,
       ROUND((CAST(sd AS DOUBLE) / nd) / (CAST(st AS DOUBLE) / nt), 9)
         AS seasonal_idx,
       ROUND(daily.x / ((CAST(sd AS DOUBLE) / nd) / (CAST(st AS DOUBLE) / nt)),
             9) AS deseasonalized
FROM daily
JOIN dow ON dow.dow = isodow(daily.d)
CROSS JOIN tot
"""


@register("events_seasonality_dow", oracle=_SEASONALITY_SQL)
def q_events_seasonality_dow(spark, sf_dir):
    """Day-of-week seasonal decomposition of daily event volume.

    The ratio-to-overall-mean seasonal index (the first stage of any
    X-11-style decomposition): per-ISO-weekday mean volume over the
    overall mean gives a 7-value seasonal profile, and dividing each day
    by its weekday's index yields the deseasonalized series that trend /
    changepoint detectors (events_changepoint_cusum) should really run
    on. Engine-parity care: Spark `weekday` (0=Mon) maps to DuckDB
    `isodow` (1=Mon) via +1 — Spark's `dayofweek` (1=Sun) does NOT match
    DuckDB's `dayofweek` (0=Sun). All means are single divisions of
    exact BIGINT sums, so the index and the deseasonalized values agree
    bit-for-bit before the cosmetic 9-dp round. One corpus-sized rollup;
    both joins are broadcasts of ≤7-row frames.
    """
    from dataframe_differ_spark.operators.timeseries import seasonality

    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.count(F.lit(1)).alias("x")
    )
    daily = daily.withColumn("dow", (F.weekday("d") + F.lit(1)).cast("int"))
    s = seasonality(daily, "dow", "x")
    return s.select(
        F.col("d").cast("string").alias("day"),
        "dow",
        F.col("x").alias("n_events"),
        F.round("seasonal_idx", 9).alias("seasonal_idx"),
        F.round("deseasonalized", 9).alias("deseasonalized"),
    )


_THEILSEN_SQL = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY CAST(ts AS DATE)),
m AS (SELECT MIN(d) AS d0 FROM daily),
pts AS (
  SELECT CAST(datediff('day', m.d0, daily.d) AS BIGINT) AS i, x
  FROM daily CROSS JOIN m),
slopes AS (
  SELECT CAST(b.x - a.x AS DOUBLE) / (b.i - a.i) AS s
  FROM pts a JOIN pts b ON b.i > a.i),
fit AS (
  SELECT MEDIAN(s) AS slope, CAST(COUNT(*) AS BIGINT) AS n_pairs
  FROM slopes),
res AS (
  SELECT MEDIAN(pts.x - fit.slope * pts.i) AS intercept,
         CAST(COUNT(*) AS BIGINT) AS n_days,
         ANY_VALUE(fit.slope) AS slope,
         ANY_VALUE(fit.n_pairs) AS n_pairs
  FROM pts CROSS JOIN fit)
SELECT ROUND(slope, 9) AS slope, ROUND(intercept, 9) AS intercept,
       n_days, n_pairs
FROM res
"""


@register("trend_theilsen_daily", oracle=_THEILSEN_SQL)
def q_trend_theilsen_daily(spark, sf_dir):
    """Theil–Sen robust trend estimate of daily event volume.

    The median-of-pairwise-slopes estimator (Theil 1950, Sen 1968):
    unlike OLS, a ~29% contamination of outlier days cannot move it.
    The all-pairs join is over the DAILY aggregate — a fixed ~30-row
    spine (~435 pairs), sf-invariant, so the quadratic stage is bounded
    by calendar span, not data volume; the corpus is touched once by the
    rollup. Every slope is (BIGINT - BIGINT) / (BIGINT - BIGINT) — one
    double division, bit-identical cross-engine; MEDIAN on doubles is an
    order statistic (both engines average the two middles for even n).
    Intercept = median residual at the median slope (the standard
    Theil–Sen intercept).
    """
    from dataframe_differ_spark.operators.timeseries import theil_sen

    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.count(F.lit(1)).alias("x")
    )
    m = daily.agg(F.min("d").alias("d0"))
    pts = daily.crossJoin(F.broadcast(m)).select(
        F.datediff("d", "d0").cast("long").alias("i"), "x"
    )
    fit = theil_sen(pts, "i", "x")
    return fit.select(
        F.round("slope", 9).alias("slope"),
        F.round("intercept", 9).alias("intercept"),
        F.col("n_points").alias("n_days"),
        "n_pairs",
    )


_KM_SQL = """
WITH pu AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS f, MAX(CAST(ts AS DATE)) AS l
  FROM events GROUP BY user_id),
mx AS (SELECT MAX(CAST(ts AS DATE)) AS m FROM events),
u AS (
  SELECT CAST(datediff('day', f, l) AS BIGINT) AS t,
         CASE WHEN datediff('day', l, m) >= 3 THEN 1 ELSE 0 END AS ev
  FROM pu CROSS JOIN mx),
spine AS (
  SELECT t, CAST(SUM(ev) AS BIGINT) AS d,
         CAST(COUNT(*) - SUM(ev) AS BIGINT) AS c
  FROM u GROUP BY t),
arrs AS (
  SELECT list(t ORDER BY t) AS ts,
         list(d ORDER BY t) AS ds,
         list(c ORDER BY t) AS cs,
         list(d + c ORDER BY t) AS rs
  FROM spine),
calc AS (
  SELECT ts, ds, cs,
         list_transform(range(1, len(ts) + 1),
           i -> list_sum(rs) - COALESCE(list_sum(list_slice(rs, 1, i - 1)), 0))
           AS risk
  FROM arrs),
fac AS (
  SELECT ts, ds, cs, risk,
         list_transform(range(1, len(ts) + 1),
           i -> CAST(risk[i] - ds[i] AS DOUBLE) / risk[i]) AS factors
  FROM calc),
surv AS (
  SELECT ts, ds, cs, risk,
         list_transform(range(1, len(ts) + 1),
           i -> list_reduce(list_prepend(1.0, list_slice(factors, 1, i)),
                            (a, x) -> a * x)) AS sv
  FROM fac),
idx AS (
  SELECT UNNEST(range(1, len(ts) + 1)) AS i, ts, ds, cs, risk, sv FROM surv)
SELECT CAST(ts[i] AS BIGINT) AS t_days,
       CAST(risk[i] AS BIGINT) AS n_at_risk,
       ds[i] AS n_churned,
       cs[i] AS n_censored,
       ROUND(sv[i], 9) AS survival
FROM idx
"""


@register("km_survival_users", oracle=_KM_SQL)
def q_km_survival_users(spark, sf_dir):
    """Kaplan-Meier survival of user lifetimes with right-censoring.

    The churn curve (Kaplan & Meier 1958): lifetime = days between a
    user's first and last event; users still active in the final 3 days
    of the corpus are right-CENSORED (they leave the at-risk set without
    a churn event). S(t) = prod over days <= t of (1 - d_i / n_i). The
    scale shape: one corpus-sized groupBy(user) then everything runs on
    the lifetime spine (bounded by calendar span, ~31 rows at any sf) —
    at-risk counts come from integer prefix sums over the collected
    spine arrays, never a window over data. Parity devices: at-risk /
    death counts are exact BIGINTs; each hazard factor is one exact
    division; the survival product is a SEQUENTIAL left fold
    (aggregate ≡ list_reduce(list_prepend(...)) — bit-identical,
    cf. BASELINE.md parity lessons) rather than an order-free product.
    """
    e = load_table(spark, sf_dir, "events")
    pu = e.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("f"),
        F.max(F.col("ts").cast("date")).alias("l"),
    )
    mx = e.agg(F.max(F.col("ts").cast("date")).alias("m"))
    u = pu.crossJoin(F.broadcast(mx)).select(
        F.datediff("l", "f").cast("long").alias("t"),
        F.when(F.datediff("m", "l") >= 3, 1).otherwise(0).alias("ev"),
    )
    spine = u.groupBy("t").agg(
        F.sum("ev").alias("d"),
        (F.count(F.lit(1)) - F.sum("ev")).alias("c"),
    )
    arrs = spine.agg(
        F.expr("array_sort(collect_list(struct(t, d, c, d + c AS r)))").alias("a")
    )
    calc = arrs.select(
        "a",
        F.expr(
            "transform(a, (x, i) -> aggregate(a, 0L, (acc, y) -> acc + y.r)"
            " - aggregate(slice(a, 1, i), 0L, (acc, y) -> acc + y.r))"
        ).alias("risk"),
    )
    fac = calc.select(
        "a",
        "risk",
        F.expr(
            "transform(a, (x, i) ->"
            " cast(element_at(risk, i + 1) - x.d as double)"
            " / element_at(risk, i + 1))"
        ).alias("factors"),
    )
    surv = fac.select(
        "a",
        "risk",
        F.expr(
            "transform(a, (x, i) ->"
            " aggregate(slice(factors, 1, i + 1), cast(1.0 as double),"
            " (acc, v) -> acc * v))"
        ).alias("sv"),
    )
    row = surv.select(
        F.posexplode(
            F.expr(
                "transform(a, (x, i) -> struct(x.t AS t, element_at(risk, i + 1)"
                " AS nr, x.d AS d, x.c AS c, element_at(sv, i + 1) AS s))"
            )
        ).alias("pos", "v")
    )
    return row.select(
        F.col("v.t").alias("t_days"),
        F.col("v.nr").alias("n_at_risk"),
        F.col("v.d").alias("n_churned"),
        F.col("v.c").alias("n_censored"),
        F.round(F.col("v.s"), 9).alias("survival"),
    )


_BASKET_LIFT_SQL = f"""
WITH {copurchase_edges_ctes()},
pp AS (
  SELECT a.l_orderkey,
         LEAST(a.l_partkey, b.l_partkey) AS u,
         GREATEST(a.l_partkey, b.l_partkey) AS v
  FROM picked a JOIN picked b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
pc AS (SELECT u, v, CAST(COUNT(*) AS BIGINT) AS support_pair
       FROM pp GROUP BY u, v),
ic AS (SELECT l_partkey AS p, CAST(COUNT(*) AS BIGINT) AS supp
       FROM picked GROUP BY l_partkey),
nb AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n FROM picked)
SELECT pc.u AS part_a, pc.v AS part_b, pc.support_pair,
       iu.supp AS supp_a, iv.supp AS supp_b,
       ROUND(CAST(pc.support_pair AS DOUBLE) / CAST(iu.supp AS DOUBLE), 9)
         AS confidence,
       ROUND(CAST(nb.n * pc.support_pair AS DOUBLE)
             / CAST(iu.supp * iv.supp AS DOUBLE), 9) AS lift
FROM pc
JOIN ic iu ON iu.p = pc.u
JOIN ic iv ON iv.p = pc.v
CROSS JOIN nb
ORDER BY lift DESC, pc.u, pc.v LIMIT 20
"""


@register("orders_market_basket_lift", oracle=_BASKET_LIFT_SQL)
def q_orders_market_basket_lift(spark, sf_dir):
    """Market-basket association rules: support / confidence / lift for
    co-purchased part pairs — the "customers who bought A also bought B"
    analytics next to `graph_link_prediction`'s neighborhood scoring.

    Baskets are the same md5-deterministic 3-parts-per-order pick the
    co-purchase graph uses (bounded C(3,2)=3 pairs per order → pair volume
    is O(orders) at any scale, never the unbounded per-basket quadratic),
    but WITHOUT the distinct-edge collapse: supports count per-order
    occurrences. lift = N·supp(a,b) / (supp(a)·supp(b)) — all-integer
    numerators/denominators (exact at any sf below 2^53), single double
    division, rounded 9. Plan: one lineitem distinct, one basket groupBy,
    one in-basket HOF pair expansion, two broadcast item-support joins,
    top-20 via TakeOrdered.
    """
    picked = _basket_picks(spark, sf_dir).localCheckpoint(eager=False)
    pairs = picked.select(
        F.explode(
            F.expr(
                "flatten(transform(m, (x, i) -> "
                "transform(slice(m, i + 2, size(m) - i - 1), "
                "y -> struct(least(x, y) AS u, greatest(x, y) AS v))))"
            )
        ).alias("e")
    ).select("e.u", "e.v")
    pc = pairs.groupBy("u", "v").agg(
        F.count(F.lit(1)).alias("support_pair")
    )
    ic = picked.select(F.explode("m").alias("p")).groupBy("p").agg(
        F.count(F.lit(1)).alias("supp")
    )
    nb = picked.agg(F.count(F.lit(1)).alias("n"))
    scored = (
        pc.join(
            F.broadcast(ic.select(F.col("p").alias("u"), F.col("supp").alias("supp_a"))),
            "u",
        )
        .join(
            F.broadcast(ic.select(F.col("p").alias("v"), F.col("supp").alias("supp_b"))),
            "v",
        )
        .crossJoin(F.broadcast(nb))
        .select(
            F.col("u").alias("part_a"),
            F.col("v").alias("part_b"),
            "support_pair",
            "supp_a",
            "supp_b",
            F.round(
                F.col("support_pair").cast("double") / F.col("supp_a").cast("double"),
                9,
            ).alias("confidence"),
            F.round(
                (F.col("n") * F.col("support_pair")).cast("double")
                / (F.col("supp_a") * F.col("supp_b")).cast("double"),
                9,
            ).alias("lift"),
        )
    )
    return scored.orderBy(F.desc("lift"), "part_a", "part_b").limit(20)


_RETENTION_SQL = """
WITH firstw AS (
  SELECT user_id,
         CAST(date_trunc('week', MIN(CAST(ts AS TIMESTAMP))) AS DATE)
           AS cohort_week
  FROM events GROUP BY user_id),
activity AS (
  SELECT DISTINCT user_id,
         CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS act_week
  FROM events),
sizes AS (
  SELECT cohort_week, CAST(COUNT(*) AS BIGINT) AS cohort_size
  FROM firstw GROUP BY cohort_week),
cells AS (
  SELECT f.cohort_week,
         CAST((a.act_week - f.cohort_week) / 7 AS BIGINT) AS week_offset,
         CAST(COUNT(*) AS BIGINT) AS n_active
  FROM activity a JOIN firstw f ON a.user_id = f.user_id
  GROUP BY 1, 2)
SELECT strftime(c.cohort_week, '%Y-%m-%d') AS cohort_week,
       c.week_offset, c.n_active, s.cohort_size,
       ROUND(CAST(c.n_active AS DOUBLE) / s.cohort_size, 9) AS retention
FROM cells c JOIN sizes s ON c.cohort_week = s.cohort_week
"""


@register("events_retention_matrix", oracle=_RETENTION_SQL)
def q_events_retention_matrix(spark, sf_dir):
    """Weekly cohort retention triangle: users bucketed by first-activity
    week, each cell = fraction of the cohort active w weeks later — the
    canonical product-analytics matrix next to `orders_cohort_ltv`
    (revenue by cohort age) and the funnel/DAU-WAU queries.

    Plan: one user-keyed min-aggregate (cohort assignment), one distinct
    over (user, week) — both map-side combinable on uniform keys — then a
    user-keyed equi-join and a (cohort, offset) rollup; cohort sizes
    broadcast back onto the cells. All integers until the final ratio.
    Week truncation is Monday-start in both engines (Spark date_trunc
    'week' ≡ DuckDB date_trunc 'week'); offsets are exact day-diffs / 7.
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date(F.date_trunc("week", F.col("ts"))).alias("w")
    )
    firstw = e.groupBy("user_id").agg(F.min("w").alias("cohort_week"))
    activity = e.distinct().withColumnRenamed("w", "act_week")
    sizes = firstw.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    cells = (
        activity.join(firstw, "user_id")
        .groupBy(
            "cohort_week",
            (F.datediff("act_week", "cohort_week") / 7)
            .cast("long")
            .alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
    return cells.join(F.broadcast(sizes), "cohort_week").select(
        F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
        "week_offset",
        "n_active",
        "cohort_size",
        F.round(
            F.col("n_active").cast("double") / F.col("cohort_size"), 9
        ).alias("retention"),
    )


# ---------------------------------------------------------------------------
# Lorenz curve deciles of customer revenue (round 6)
# ---------------------------------------------------------------------------

_LORENZ_SQL = """
WITH per_cust AS (
  SELECT o_custkey,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY o_custkey),
rk AS (
  SELECT cents,
         CAST(ntile(10) OVER (ORDER BY cents, o_custkey) AS INTEGER)
           AS decile
  FROM per_cust),
d AS (
  SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_customers,
         CAST(SUM(cents) AS BIGINT) AS decile_cents
  FROM rk GROUP BY decile),
tot AS (SELECT CAST(SUM(decile_cents) AS BIGINT) AS total FROM d),
cum AS (
  SELECT a.decile, a.n_customers, a.decile_cents,
         CAST((SELECT SUM(b.decile_cents) FROM d b
               WHERE b.decile <= a.decile) AS BIGINT) AS cum_cents
  FROM d a)
SELECT decile, n_customers, decile_cents,
       ROUND(CAST(decile_cents AS DOUBLE) / total, 9) AS revenue_share,
       ROUND(CAST(cum_cents AS DOUBLE) / total, 9) AS cum_share
FROM cum CROSS JOIN tot
"""


def customer_cents(spark, sf_dir):
    """(o_custkey, cents): each customer's order revenue in exact integer
    cents (per-order rounding, BIGINT sum)."""
    return (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("c"),
        )
        .groupBy("o_custkey")
        .agg(F.sum("c").alias("cents"))
    )


@register("orders_lorenz_deciles", oracle=_LORENZ_SQL)
def q_orders_lorenz_deciles(spark, sf_dir):
    """Lorenz curve by revenue decile — the distribution behind the
    single-number `orders_gini_revenue` and `revenue_pareto` summaries:
    customers ranked ascending by spend, the share of total revenue each
    decile holds, and the running (Lorenz) share the Gini integrates.

    The rank is the two-phase bucketed global rank + exact NTILE formula
    (operators/ranks — never a corpus-wide window; DuckDB's ntile window
    IS the oracle side, the agg_histogram_equidepth_sketch precedent).
    Revenue stays in exact integer cents through every sum; the two
    share divisions are the only float ops, on identical BIGINT operands
    in both engines. One scan + one customer rollup + the bucketed rank
    pass; the decile frames are 10 rows.
    """
    from dataframe_differ_spark.operators.ranks import ntile_from_rank, ranked

    per_cust = customer_cents(spark, sf_dir)
    r = ranked(
        per_cust,
        F.col("cents"),
        ["cents", "o_custkey"],
        rank_col="rk",
        n_col="nn",
    )
    deciled = r.select(
        "cents",
        ntile_from_rank(F.col("rk"), F.col("nn"), 10).cast("int").alias(
            "decile"
        ),
    )
    d = deciled.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("cents").alias("decile_cents"),
    )
    tot = d.agg(F.sum("decile_cents").alias("total"))
    lo = d.select(F.col("decile").alias("d2"), F.col("decile_cents").alias("c2"))
    cum = (
        d.join(F.broadcast(lo), F.col("d2") <= F.col("decile"))
        .groupBy("decile", "n_customers", "decile_cents")
        .agg(F.sum("c2").alias("cum_cents"))
    )
    return cum.crossJoin(F.broadcast(tot)).select(
        "decile",
        "n_customers",
        "decile_cents",
        F.round(
            F.col("decile_cents").cast("double") / F.col("total"), 9
        ).alias("revenue_share"),
        F.round(F.col("cum_cents").cast("double") / F.col("total"), 9).alias(
            "cum_share"
        ),
    )


# ---------------------------------------------------------------------------
# Lagged cross-correlation: clicks lead purchases? (round 6)
# ---------------------------------------------------------------------------

_CROSSCORR_SQL = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d,
         CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS BIGINT) AS ca,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS cb
  FROM events GROUP BY CAST(ts AS DATE)),
m AS (SELECT MIN(d) AS d0 FROM daily),
pts AS (
  SELECT CAST(datediff('day', m.d0, daily.d) AS BIGINT) AS i, ca, cb
  FROM daily CROSS JOIN m),
lags AS (SELECT CAST(range AS INTEGER) AS lag FROM range(-7, 8)),
pairs AS (
  SELECT l.lag, a.ca AS x0, b.cb AS x1
  FROM pts a JOIN lags l ON TRUE
  JOIN pts b ON b.i = a.i + l.lag),
""" + _lag_pearson_sql("crosscorr")


@register("events_crosscorr_types", oracle=_CROSSCORR_SQL)
def q_events_crosscorr_types(spark, sf_dir):
    """Lagged cross-correlation between the click and purchase daily
    series: does click volume LEAD purchase volume (positive lags) or
    trail it? The pipeline-causality companion to `events_autocorr` —
    the lag with the peak correlation is the conversion delay a
    marketing dashboard reports.

    One daily rollup computes BOTH series as conditional sums; pairing is
    the operator's index+lag equi-join over the KB day spine with the
    15-row lag frame broadcast; all moments exact BIGINTs, one float
    chain per lag (the `events_autocorr` devices, applied across two
    series).

    Thin binding over the parametric
    :func:`operators.timeseries.crosscorr` (round-6 extraction).
    """
    from dataframe_differ_spark.operators.timeseries import crosscorr

    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias(
            "ca"
        ),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("cb"),
    )
    m = daily.agg(F.min("d").alias("d0"))
    pts = daily.crossJoin(F.broadcast(m)).select(
        F.datediff("d", "d0").cast("long").alias("i"), "ca", "cb"
    ).localCheckpoint(eager=False)
    cc = crosscorr(
        pts.select("i", F.col("ca").alias("x")),
        pts.select("i", F.col("cb").alias("x")),
        "i",
        "x",
        max_lag=7,
    )
    return cc.select(
        "lag", "n_pairs", F.round("crosscorr", 9).alias("crosscorr")
    )


# ---------------------------------------------------------------------------
# ABC inventory-style classification of customers by revenue (round 6)
# ---------------------------------------------------------------------------

_ABC_SQL = """
WITH per_cust AS (
  SELECT o_custkey,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY o_custkey),
rk AS (
  SELECT o_custkey, cents,
         CAST(SUM(cents) OVER (ORDER BY cents DESC, o_custkey
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
         CAST(SUM(cents) OVER () AS BIGINT) AS tot
  FROM per_cust),
cls AS (
  SELECT CASE WHEN 100 * CAST(cum AS DECIMAL(38,0))
                   <= 80 * CAST(tot AS DECIMAL(38,0)) THEN 'A'
              WHEN 100 * CAST(cum AS DECIMAL(38,0))
                   <= 95 * CAST(tot AS DECIMAL(38,0)) THEN 'B'
              ELSE 'C' END AS abc_class,
         cents, tot
  FROM rk)
SELECT abc_class,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(cents) AS BIGINT) AS class_cents,
       ROUND(CAST(SUM(cents) AS DOUBLE) / ANY_VALUE(tot), 9)
         AS revenue_share
FROM cls GROUP BY abc_class
"""


@register("orders_abc_classification", oracle=_ABC_SQL)
def q_orders_abc_classification(spark, sf_dir):
    """ABC classification of customers by revenue: A = customers inside
    the top 80% of cumulative revenue (ranked by spend descending),
    B = the next 15% band, C = the tail 5% — the inventory-management
    Pareto cut applied to accounts, and the actionable grouping behind
    `revenue_pareto` / `orders_lorenz_deciles`.

    The cumulative share comes from the two-phase bucketed rank's
    RUNNING SUM (operators/ranks `running_sum=` — per-bucket window
    partial sums + a broadcast bucket-offset triangle join; the oracle's
    corpus-wide cumsum window IS the thing the plan avoids). Class
    boundaries compare 100·cum ≤ 80·total in exact DECIMAL — no float
    enters until the final reported share, so a boundary customer can
    never flip class on an ulp. One scan + one customer rollup + the
    bucketed rank pass.
    """
    from dataframe_differ_spark.operators.ranks import ranked

    per_cust = customer_cents(spark, sf_dir)
    r = ranked(
        per_cust,
        F.col("cents"),
        [F.col("cents").desc(), "o_custkey"],
        ascending=False,
        running_sum=F.col("cents"),
        running_col="cum",
        running_total_col="tot",
    )
    dec = "decimal(38,0)"
    cls = r.select(
        "cents",
        "tot",
        F.when(
            100 * F.col("cum").cast(dec) <= 80 * F.col("tot").cast(dec), "A"
        )
        .when(
            100 * F.col("cum").cast(dec) <= 95 * F.col("tot").cast(dec), "B"
        )
        .otherwise("C")
        .alias("abc_class"),
    )
    return cls.groupBy("abc_class").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("cents").alias("class_cents"),
        F.round(
            F.sum("cents").cast("double") / F.any_value("tot"), 9
        ).alias("revenue_share"),
    )


# ---------------------------------------------------------------------------
# Theil T inequality index with between/within-nation decomposition (round 6)
# ---------------------------------------------------------------------------

_THEIL_SQL = """
WITH per_cust AS (
  SELECT o_custkey,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY o_custkey),
cn AS (
  SELECT p.o_custkey, p.cents, n.n_name
  FROM per_cust p
  JOIN customer c ON c.c_custkey = p.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey),
gtot AS (
  SELECT CAST(SUM(cents) AS BIGINT) AS xt, CAST(COUNT(*) AS BIGINT) AS nt
  FROM cn),
grp AS (
  SELECT n_name, CAST(SUM(cents) AS BIGINT) AS xg,
         CAST(COUNT(*) AS BIGINT) AS ng
  FROM cn GROUP BY n_name),
tot AS (
  SELECT CAST(SUM(CAST(ROUND(
           (CAST(cents AS DOUBLE) / xt)
           * ln(CAST(cents AS DOUBLE) * nt / xt), 12) AS DECIMAL(38,12)))
         AS DOUBLE) AS theil_total
  FROM cn CROSS JOIN gtot),
within_g AS (
  SELECT cn.n_name,
         CAST(SUM(CAST(ROUND(
           (CAST(cn.cents AS DOUBLE) / grp.xg)
           * ln(CAST(cn.cents AS DOUBLE) * grp.ng / grp.xg), 12)
           AS DECIMAL(38,12))) AS DOUBLE) AS theil_within
  FROM cn JOIN grp ON grp.n_name = cn.n_name
  GROUP BY cn.n_name),
between_g AS (
  SELECT CAST(SUM(CAST(ROUND(
           (CAST(xg AS DOUBLE) / xt)
           * ln((CAST(xg AS DOUBLE) / xt) * (CAST(nt AS DOUBLE) / ng)), 12)
           AS DECIMAL(38,12))) AS DOUBLE) AS theil_between
  FROM grp CROSS JOIN gtot)
SELECT grp.n_name AS nation, grp.ng AS n_customers,
       ROUND(CAST(grp.xg AS DOUBLE) / gtot.xt, 9) AS revenue_share,
       ROUND(within_g.theil_within, 9) AS theil_within,
       ROUND(between_g.theil_between, 9) AS theil_between,
       ROUND(tot.theil_total, 9) AS theil_total
FROM grp
JOIN within_g ON within_g.n_name = grp.n_name
CROSS JOIN between_g CROSS JOIN tot CROSS JOIN gtot
"""


@register("orders_theil_inequality", oracle=_THEIL_SQL)
def q_orders_theil_inequality(spark, sf_dir):
    """Theil T inequality of customer revenue, DECOMPOSED by nation —
    the property Gini famously lacks: T_total = T_between +
    Σ_g (share_g · T_within_g), so a data team can say how much revenue
    concentration lives BETWEEN markets vs within them.

    T = Σ (x_i/X)·ln(x_i/μ). The corpus-sized `ln` terms use the
    rounded-ln DECIMAL device (each contribution rounded to 12 dp,
    summed as DECIMAL(38,12) — order-free, so both engines agree despite
    libm): one scan computes per-customer contributions against the
    broadcast 1-row global (and per-nation broadcast stats for the
    within terms); the between-term folds over 25 nation rows. Output:
    one row per nation carrying its within-index and the shared
    between/total indices.
    """
    per_cust = customer_cents(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey"
    )
    nat = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"), "n_name"
    )
    cn = per_cust.join(cust, "o_custkey").join(F.broadcast(nat), "c_nationkey")
    glob = cn.agg(
        F.sum("cents").alias("xt"), F.count(F.lit(1)).alias("nt")
    )
    grp = cn.groupBy("n_name").agg(
        F.sum("cents").alias("xg"), F.count(F.lit(1)).alias("ng")
    )
    dec12 = "decimal(38,12)"
    xd = F.col("cents").cast("double")
    t_total = (
        cn.crossJoin(F.broadcast(glob))
        .select(
            F.round(
                (xd / F.col("xt")) * F.log(xd * F.col("nt") / F.col("xt")), 12
            )
            .cast(dec12)
            .alias("t")
        )
        .agg(F.sum("t").cast("double").alias("theil_total"))
    )
    within = (
        cn.join(F.broadcast(grp), "n_name")
        .select(
            "n_name",
            F.round(
                (xd / F.col("xg")) * F.log(xd * F.col("ng") / F.col("xg")), 12
            )
            .cast(dec12)
            .alias("t"),
        )
        .groupBy("n_name")
        .agg(F.sum("t").cast("double").alias("theil_within"))
    )
    xgd = F.col("xg").cast("double")
    between = (
        grp.crossJoin(F.broadcast(glob))
        .select(
            F.round(
                (xgd / F.col("xt"))
                * F.log(
                    (xgd / F.col("xt"))
                    * (F.col("nt").cast("double") / F.col("ng"))
                ),
                12,
            )
            .cast(dec12)
            .alias("t")
        )
        .agg(F.sum("t").cast("double").alias("theil_between"))
    )
    return (
        grp.join(within, "n_name")
        .crossJoin(F.broadcast(between))
        .crossJoin(F.broadcast(t_total))
        .crossJoin(F.broadcast(glob))
        .select(
            F.col("n_name").alias("nation"),
            F.col("ng").alias("n_customers"),
            F.round(F.col("xg").cast("double") / F.col("xt"), 9).alias(
                "revenue_share"
            ),
            F.round("theil_within", 9).alias("theil_within"),
            F.round("theil_between", 9).alias("theil_between"),
            F.round("theil_total", 9).alias("theil_total"),
        )
    )


# ---------------------------------------------------------------------------
# Degree assortativity of the co-purchase graph (round 7)
# ---------------------------------------------------------------------------

_ASSORT_SQL = f"""
WITH {copurchase_edges_ctes()},
deg AS (
  SELECT n, CAST(COUNT(*) AS BIGINT) AS d
  FROM (SELECT u AS n FROM edges UNION ALL SELECT v AS n FROM edges)
  GROUP BY n),
bothdir AS (
  SELECT u AS s, v AS t FROM edges
  UNION ALL SELECT v AS s, u AS t FROM edges),
j AS (
  SELECT dx.d AS x, dy.d AS y
  FROM bothdir JOIN deg dx ON dx.n = bothdir.s
  JOIN deg dy ON dy.n = bothdir.t),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m2,
         {_split_sql('SUM(CAST(x AS HUGEINT))')} AS sx,
         {_split_sql('SUM(CAST(x AS HUGEINT) * y)')} AS sxy,
         {_split_sql('SUM(CAST(x AS HUGEINT) * x)')} AS sxx
  FROM j),
nodes AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM deg)
SELECT nodes.nn AS n_nodes,
       CAST(agg.m2 // 2 AS BIGINT) AS n_edges,
       ROUND((CAST(agg.m2 AS DOUBLE) * sxy - sx * sx)
             / (CAST(agg.m2 AS DOUBLE) * sxx - sx * sx), 9)
         AS assortativity
FROM agg CROSS JOIN nodes
"""


@register("graph_assortativity", oracle=_ASSORT_SQL)
def q_graph_assortativity(spark, sf_dir):
    """Degree assortativity (Newman 2002) of the co-purchase graph — do
    popular parts co-occur with popular parts? The one-number structure
    summary next to `graph_triangle_count`'s clustering, on the SAME
    shared edge fixture (built once per session, localCheckpointed).

    Exactness: Pearson r of endpoint degrees over the symmetrized edge
    list, from exact BIGINT degrees and three DECIMAL/HUGEINT moment
    sums converted through the shared split-cast device; symmetry makes
    the x and y marginals equal, so both engines compute the identical
    three-sum formula. Plan: one degree rollup + two vertex-keyed joins
    + a 1-row aggregate — scan-bound in |E|.

    Thin binding over the parametric
    :func:`operators.graph.degree_assortativity` (round-7 addition).
    """
    from dataframe_differ_spark.operators.graph import degree_assortativity

    edges = copurchase_edges(spark, sf_dir)
    return degree_assortativity(edges, src="u", dst="v")


# ---------------------------------------------------------------------------
# Holt-Winters additive seasonal smoothing of daily volumes (round 7)
# ---------------------------------------------------------------------------

# Daily event counts per type, numbered by day: the opening CTEs of the
# recursive Holt-Winters and Kalman oracles.
_DAILY_TYPE_SERIES_SQL_CTES = """
WITH RECURSIVE
daily AS MATERIALIZED (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(COUNT(*) AS DOUBLE) AS x
  FROM events GROUP BY event_type, CAST(ts AS DATE)),
idx AS MATERIALIZED (
  SELECT event_type, d, x,
         CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d)
              AS BIGINT) AS i
  FROM daily),
"""


def _hw_sql() -> str:
    m = 7
    s1 = f"(list_reduce(list_prepend(0.0, xs[1:{m}]), (a, v) -> a + v) / {m}.0)"
    s2 = (
        f"(list_reduce(list_prepend(0.0, xs[{m + 1}:{2 * m}]),"
        f" (a, v) -> a + v) / {m}.0)"
    )
    sm = f"cu.seas[-{m}]"
    lp = f"(0.25 * (idx.x - {sm}) + 0.75 * (cu.l + cu.b))"
    bp = f"(0.125 * ({lp} - cu.l) + 0.875 * cu.b)"
    sp = f"(0.25 * (idx.x - {lp}) + 0.75 * {sm})"
    fit = f"(cu.l + cu.b + {sm})"
    return _DAILY_TYPE_SERIES_SQL_CTES + f"""packed AS MATERIALIZED (
  SELECT event_type, list(x ORDER BY i) AS xs,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM idx GROUP BY event_type),
seed AS MATERIALIZED (
  SELECT event_type, n,
         {s2} AS l0,
         ({s2} - {s1}) / {m}.0 AS b0,
         list_transform(range(1, {m + 1}),
           j -> ((xs[j] - {s1}) + (xs[j + {m}] - {s2})) / 2.0) AS seas0
  FROM packed WHERE n >= {2 * m + 1}),
cu(event_type, t, l, b, seas, d, level, trend, seasonal, fitted) AS (
  SELECT event_type, CAST({2 * m} AS BIGINT), l0, b0, seas0,
         CAST(NULL AS DATE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
         CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
  FROM seed
  UNION ALL
  SELECT cu.event_type, cu.t + 1, {lp}, {bp},
         list_append(cu.seas, {sp}),
         idx.d, {lp}, {bp}, {sp}, {fit}
  FROM cu JOIN idx ON idx.event_type = cu.event_type AND idx.i = cu.t + 1)
SELECT event_type, STRFTIME(d, '%Y-%m-%d') AS day,
       ROUND(level, 9) AS level, ROUND(trend, 9) AS trend,
       ROUND(seasonal, 9) AS seasonal, ROUND(fitted, 9) AS fitted
FROM cu WHERE t > {2 * m}
"""


@register("events_holt_winters", oracle=_hw_sql())
def q_events_holt_winters(spark, sf_dir):
    """Holt-Winters ADDITIVE triple exponential smoothing (period 7) of
    the daily event volume per type — the seasonal upgrade of
    `events_holt_linear`: level + trend + a weekly seasonal component,
    with the one-step-ahead forecast made BEFORE each observation (what
    an anomaly alert would compare against).

    Parity devices: alpha/beta/gamma are exact binary fractions (1/4,
    1/8, 1/4) so every recurrence step is the identical IEEE chain on
    both engines; the classical two-season init runs on the collected
    day array; outputs round at 9 dp. Plan: the engine side is ONE fold
    over each type's ~30-day spine (operators/timeseries.holt_winters —
    the rollup-then-recurse shape; the oracle replays it as a recursive
    CTE, which is exactly the per-step job storm the fold avoids).

    Thin binding over the parametric
    :func:`operators.timeseries.holt_winters` (round-7 addition).
    """
    from dataframe_differ_spark.operators.timeseries import holt_winters

    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.count(F.lit(1)).cast("double").alias("x"))
    hw = holt_winters(
        daily, ["event_type"], "d", "x", period=7, round_dp=9
    )
    return hw.select(
        "event_type",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "level",
        "trend",
        "seasonal",
        "fitted",
    )


# ---------------------------------------------------------------------------
# LZ78 sequence complexity (round 8)
# ---------------------------------------------------------------------------

# The fold state is '<phrases>,<current>,<dict1>,<dict2>,…' — single-char
# event symbols guarantee the ',' separator never appears in a phrase.
_LZ78_DUCK_FOLD = """
list_reduce(list_prepend('0,', list_transform(range(1, length(s) + 1),
                         i -> substr(s, CAST(i AS BIGINT), 1))),
  (acc, x) -> CASE
    WHEN list_contains(string_split(acc, ',')[3:],
                       string_split(acc, ',')[2] || x)
    THEN string_split(acc, ',')[1] || ',' || string_split(acc, ',')[2] || x
         || CASE WHEN len(string_split(acc, ',')) > 2
                 THEN ',' || array_to_string(string_split(acc, ',')[3:], ',')
                 ELSE '' END
    ELSE CAST(CAST(string_split(acc, ',')[1] AS BIGINT) + 1 AS VARCHAR)
         || ',,'
         || CASE WHEN len(string_split(acc, ',')) > 2
                 THEN array_to_string(string_split(acc, ',')[3:], ',') || ','
                 ELSE '' END
         || string_split(acc, ',')[2] || x
    END)
"""

_LZ78_SPARK_FOLD = """
aggregate(transform(sequence(1, length(s)), i -> substring(s, i, 1)), '0,',
  (acc, x) -> CASE
    WHEN array_contains(slice(split(acc, ','), 3, size(split(acc, ',')) - 2),
                        concat(element_at(split(acc, ','), 2), x))
    THEN concat(element_at(split(acc, ','), 1), ',',
                element_at(split(acc, ','), 2), x,
         CASE WHEN size(split(acc, ',')) > 2
              THEN concat(',', array_join(slice(split(acc, ','), 3,
                   size(split(acc, ',')) - 2), ','))
              ELSE '' END)
    ELSE concat(CAST(CAST(element_at(split(acc, ','), 1) AS BIGINT) + 1
                AS STRING), ',,',
         CASE WHEN size(split(acc, ',')) > 2
              THEN concat(array_join(slice(split(acc, ','), 3,
                   size(split(acc, ',')) - 2), ','), ',')
              ELSE '' END,
         element_at(split(acc, ','), 2), x)
    END)
"""

_LZ78_SQL = f"""
WITH seq AS (
  SELECT user_id,
         string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
           AS s,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY user_id),
folded AS (
  SELECT user_id, n_events,
         {_LZ78_DUCK_FOLD} AS st
  FROM seq),
c AS (
  SELECT user_id, n_events,
         CAST(string_split(st, ',')[1] AS BIGINT)
         + CASE WHEN string_split(st, ',')[2] <> '' THEN 1 ELSE 0 END
           AS lz78_phrases
  FROM folded)
SELECT user_id, n_events, lz78_phrases,
       ROUND(CAST(lz78_phrases AS DOUBLE) / n_events, 9) AS complexity
FROM c
ORDER BY lz78_phrases DESC, user_id
LIMIT 100
"""


@register("events_lz78_complexity", oracle=_LZ78_SQL)
def q_events_lz78_complexity(spark, sf_dir):
    """LZ78 sequence complexity of per-user event streams: parse each
    user's chronological symbol string (first letter per event type —
    the `events_pattern_sequence` encoding) with the LZ78 incremental
    dictionary and report the phrase count — THE classic
    compressibility measure for behavioral sequences (Ziv & Lempel
    1978; bot/replay traffic parses into few long phrases, organic
    behavior into many short ones). ``complexity`` = phrases/events ∈
    (0, 1]: near the top sits noise, near the bottom sits scripted
    repetition — both tails are what a data-curation pass inspects.

    Plan: one user-keyed shuffle builds the bounded per-user string;
    the parse is a per-row sequential fold (`aggregate` here,
    `list_reduce` in the oracle — the MTLD string-state device) with a
    ',' separator the single-char alphabet can never collide with. The
    fold is string/integer-only; the single float division happens
    once per user, and both the output and top-100 cut use the 9-dp
    rounded ratio. At 100 TB the fold is partition-local post-shuffle.
    """
    e = load_table(spark, sf_dir, "events")
    seq = e.groupBy("user_id").agg(
        F.expr(
            "concat_ws('', transform(array_sort(collect_list(struct("
            "ts, event_id, substring(event_type, 1, 1) AS c))), x -> x.c))"
        ).alias("s"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )
    folded = seq.select(
        "user_id",
        "n_events",
        F.expr(_LZ78_SPARK_FOLD).alias("st"),
    )
    phrases = (
        F.expr("CAST(element_at(split(st, ','), 1) AS BIGINT)")
        + F.expr(
            "CASE WHEN element_at(split(st, ','), 2) != '' THEN 1 ELSE 0 END"
        )
    ).cast("bigint")
    c = folded.select("user_id", "n_events", phrases.alias("lz78_phrases"))
    return (
        c.select(
            "user_id",
            "n_events",
            "lz78_phrases",
            F.round(
                F.col("lz78_phrases").cast("double") / F.col("n_events"), 9
            ).alias("complexity"),
        )
        .orderBy(F.col("lz78_phrases").desc(), "user_id")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# HITS hubs & authorities (round 8)
# ---------------------------------------------------------------------------

_HITS_ITERS = 3


def _hits_sql(iters: int) -> str:
    ctes = [
        copurchase_edges_ctes(mat="MATERIALIZED"),
        """nodes AS MATERIALIZED (
  SELECT u AS n FROM edges UNION SELECT v FROM edges)""",
        """nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM nodes)""",
        """h0 AS MATERIALIZED (
  SELECT n, CAST(1.0 AS DOUBLE) / n_nodes AS hub FROM nodes CROSS JOIN nn)""",
    ]
    for t in range(1, iters + 1):
        ctes.append(f"""ar{t} AS MATERIALIZED (
  SELECT e.v AS n, SUM(CAST(ROUND(h.hub, 12) AS DECIMAL(38,12))) AS s
  FROM edges e JOIN h{t - 1} h ON h.n = e.u GROUP BY e.v)""")
        ctes.append(f"""a{t} AS MATERIALIZED (
  SELECT n, CAST(s AS DOUBLE)
              / CAST((SELECT SUM(s) FROM ar{t}) AS DOUBLE) AS authority
  FROM ar{t})""")
        ctes.append(f"""hr{t} AS MATERIALIZED (
  SELECT e.u AS n, SUM(CAST(ROUND(a.authority, 12) AS DECIMAL(38,12))) AS s
  FROM edges e JOIN a{t} a ON a.n = e.v GROUP BY e.u)""")
        ctes.append(f"""h{t} AS MATERIALIZED (
  SELECT n, CAST(s AS DOUBLE)
              / CAST((SELECT SUM(s) FROM hr{t}) AS DOUBLE) AS hub
  FROM hr{t})""")
    body = ",\n".join(ctes)
    return f"""
WITH {body}
SELECT a.n AS part,
       ROUND(COALESCE(h.hub, 0.0), 9) AS hub,
       ROUND(a.authority, 9) AS authority
FROM a{iters} a LEFT JOIN h{iters} h ON h.n = a.n
ORDER BY ROUND(a.authority, 9) DESC, a.n LIMIT 20
"""


@register("graph_hits", oracle=_hits_sql(_HITS_ITERS))
def q_graph_hits(spark, sf_dir):
    """HITS hubs and authorities (3 iterations) on the shared
    co-purchase graph, using the canonical u < v edge orientation as
    the direction — the mutual-reinforcement companion to
    `graph_pagerank_parts` (authority = endorsed by good hubs, hub =
    endorses good authorities; the power iteration on AᵀA / AAᵀ).
    Top-20 authorities with their hub scores.

    Thin binding over :func:`operators.graph.hits`. Full oracle on an
    iterative float algorithm via the pagerank device: every edge
    contribution rounds to 12 dp and sums DECIMAL(38,12) (order-free);
    each L1 normalization divides by the EXACT decimal total, so both
    engines replay bit-identically per iteration; the oracle unrolls
    the 3 iterations as MATERIALIZED CTEs. Plan: two key-grouped
    shuffles per iteration, lineage checkpointed — Pregel shape,
    scan-bound at 100 TB.
    """
    from dataframe_differ_spark.operators.graph import hits

    edges = copurchase_edges(spark, sf_dir)
    h = hits(edges, src="u", dst="v", iters=_HITS_ITERS)
    return (
        h.filter(F.col("authority") > 0.0)
        .select(
            F.col("node").alias("part"),
            F.round("hub", 9).alias("hub"),
            F.round("authority", 9).alias("authority"),
        )
        .orderBy(F.round(F.col("authority"), 9).desc(), "part")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Local clustering coefficient + global transitivity (round 8)
# ---------------------------------------------------------------------------

_CLUSTERING_SQL = _pernode_triangles_sql("ori", "") + """,
gstats AS (
  SELECT (SELECT CAST(SUM(n_triangles) AS BIGINT) FROM pernode) AS t3,
         (SELECT CAST(SUM(d * (d - 1)) AS BIGINT) FROM deg) AS wedges2)
SELECT pernode.n AS part, pernode.n_triangles, deg.d AS degree,
       ROUND(CAST(2 * pernode.n_triangles AS DOUBLE)
             / CAST(deg.d * (deg.d - 1) AS DOUBLE), 9) AS lcc,
       ROUND(CAST(2 * gstats.t3 AS DOUBLE) / CAST(gstats.wedges2 AS DOUBLE), 9)
         AS global_transitivity
FROM pernode JOIN deg ON deg.n = pernode.n CROSS JOIN gstats
ORDER BY ROUND(CAST(2 * pernode.n_triangles AS DOUBLE)
               / CAST(deg.d * (deg.d - 1) AS DOUBLE), 9) DESC,
         pernode.n
LIMIT 20
"""


@register("graph_clustering_coeff", oracle=_CLUSTERING_SQL)
def q_graph_clustering_coeff(spark, sf_dir):
    """Local clustering coefficient per vertex + the graph's global
    transitivity on the shared co-purchase graph: lcc(v) =
    2·T(v) / (d(v)·(d(v)−1)) — how clique-like each part's co-purchase
    neighborhood is — and transitivity = 3·triangles / wedges =
    2·ΣT(v) / Σd(d−1), the one-number community-structure summary.
    Composes :func:`operators.graph.triangle_count` (compact-forward
    oriented wedge join — the same plan `graph_triangle_count` binds)
    with :func:`operators.graph.degrees` for the all-vertex wedge
    denominator (triangle-free vertices contribute wedges but no
    triangles). Top-20 most clustered vertices.

    Exactness: every quantity is BIGINT (triangle counts, degree
    products) until the two final divisions; ordering ties break on the
    ROUNDED lcc then vertex id in both engines. Plan: the oriented
    wedge join bounds per-vertex work by √|E| (see triangle_count);
    the global sums are two map-side-combinable rollups.
    """
    from dataframe_differ_spark.operators.graph import degrees, triangle_count

    edges = copurchase_edges(spark, sf_dir)
    tc = triangle_count(edges, src="u", dst="v")
    deg_all = degrees(edges, src="u", dst="v")
    glob = tc.agg(F.sum("n_triangles").cast("long").alias("t3")).crossJoin(
        F.broadcast(
            deg_all.agg(
                F.sum(F.col("degree") * (F.col("degree") - 1))
                .cast("long")
                .alias("wedges2")
            )
        )
    )
    lcc = F.round(
        (2 * F.col("n_triangles")).cast("double")
        / (F.col("degree") * (F.col("degree") - 1)).cast("double"),
        9,
    )
    return (
        tc.crossJoin(F.broadcast(glob))
        .select(
            F.col("node").alias("part"),
            "n_triangles",
            "degree",
            lcc.alias("lcc"),
            F.round(
                (2 * F.col("t3")).cast("double")
                / F.col("wedges2").cast("double"),
                9,
            ).alias("global_transitivity"),
        )
        .orderBy(F.col("lcc").desc(), "part")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Local-level Kalman filter on daily volumes (round 8)
# ---------------------------------------------------------------------------

def _kalman_sql() -> str:
    pp = "(cu.p + 0.25)"
    kk = f"({pp} / ({pp} + 4.0))"
    lp = f"(cu.l + {kk} * (idx.x - cu.l))"
    ppost = f"((1.0 - {kk}) * {pp})"
    return _DAILY_TYPE_SERIES_SQL_CTES + f"""\
cu(event_type, t, l, p, d, y, level, gain, variance) AS (
  SELECT event_type, CAST(1 AS BIGINT), x, CAST(16.0 AS DOUBLE),
         CAST(NULL AS DATE), CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
         CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
  FROM idx WHERE i = 1
  UNION ALL
  SELECT cu.event_type, cu.t + 1, {lp}, {ppost},
         idx.d, CAST(idx.x AS BIGINT), {lp}, {kk}, {ppost}
  FROM cu JOIN idx ON idx.event_type = cu.event_type AND idx.i = cu.t + 1)
SELECT event_type, STRFTIME(d, '%Y-%m-%d') AS day, y AS n_events,
       ROUND(level, 9) AS level, ROUND(gain, 9) AS gain,
       ROUND(variance, 9) AS variance
FROM cu WHERE t > 1
"""


@register("events_kalman_level", oracle=_kalman_sql())
def q_events_kalman_level(spark, sf_dir):
    """Local-level Kalman filter of the daily event volume per type —
    the adaptive-gain upgrade of `timeseries_ewma`: the gain
    K = P⁻/(P⁻+R) starts high while the state is uncertain (P₁ = 16)
    and settles toward the steady state set by the Q=¼ / R=4 noise
    ratio, so early observations move the level fast and later ones
    are smoothed — with the filter's own variance published per day
    (the quantity an anomaly alert thresholds against).

    Parity: Q, R, P₀ are exact binary fractions; the predict/update
    recurrence is one left-associated IEEE chain both engines replay
    identically (the `events_holt_winters` contract — the engine side
    is ONE O(len) fold per type over the collected daily spine, the
    oracle a recursive CTE). Plan: one scan -> daily rollup shuffle;
    the fold touches only each type's ~30-row spine at ANY sf.

    Thin binding over :func:`operators.timeseries.kalman_level`
    (round-8 addition).
    """
    from dataframe_differ_spark.operators.timeseries import kalman_level

    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.count(F.lit(1)).cast("double").alias("x"))
    k = kalman_level(
        daily, ["event_type"], "d", "x", q_var=0.25, r_var=4.0, p0=16.0,
        round_dp=9,
    )
    return k.select(
        "event_type",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.col("x").cast("long").alias("n_events"),
        "level",
        "gain",
        "variance",
    )


# ---------------------------------------------------------------------------
# Partial autocorrelation (Durbin-Levinson, order 3) — round 8
# ---------------------------------------------------------------------------

_PACF_SQL = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY CAST(ts AS DATE)),
lags AS (SELECT CAST(range AS INTEGER) AS lag FROM range(1, 4)),
pairs AS (
  SELECT l.lag, a.x AS x0, b.x AS x1
  FROM daily a JOIN lags l ON TRUE
  JOIN daily b ON b.d = a.d + l.lag),
mom AS (
  SELECT lag, CAST(COUNT(*) AS HUGEINT) AS n,
         SUM(CAST(x0 AS HUGEINT)) AS sx, SUM(CAST(x1 AS HUGEINT)) AS sy,
         SUM(CAST(x0 AS HUGEINT) * x1) AS sxy,
         SUM(CAST(x0 AS HUGEINT) * x0) AS sxx,
         SUM(CAST(x1 AS HUGEINT) * x1) AS syy
  FROM pairs GROUP BY lag),
acf AS (
  SELECT lag,
         ROUND({_split_sql('n * sxy - sx * sy')}
               / (sqrt({_split_sql('n * sxx - sx * sx')})
                  * sqrt({_split_sql('n * syy - sy * sy')})), 12) AS r
  FROM mom),
wide AS (
  SELECT MAX(CASE WHEN lag = 1 THEN r END) AS r1,
         MAX(CASE WHEN lag = 2 THEN r END) AS r2,
         MAX(CASE WHEN lag = 3 THEN r END) AS r3
  FROM acf),
lev AS (
  SELECT r1, r2, r3,
         (r2 - r1 * r1) / (1.0 - r1 * r1) AS phi22
  FROM wide),
lev2 AS (
  SELECT r1, r2, r3, phi22,
         r1 - phi22 * r1 AS phi21
  FROM lev)
SELECT ROUND(r1, 9) AS pacf_1,
       ROUND(phi22, 9) AS pacf_2,
       ROUND((r3 - phi21 * r2 - phi22 * r1)
             / (1.0 - phi21 * r1 - phi22 * r2), 9) AS pacf_3
FROM lev2
"""


@register("events_pacf", oracle=_PACF_SQL)
def q_events_pacf(spark, sf_dir):
    """Partial autocorrelation of the daily event volume at lags 1-3 via
    the Durbin-Levinson recursion — the AR-order diagnostic that
    complements `events_autocorr` (raw ACF): PACF(k) is the lag-k
    correlation AFTER regressing out lags 1..k-1, so an AR(p) series
    shows PACF cutting off at p where the ACF merely decays. Built from
    the same exact-integer-moment lag correlations (the autocorr
    operator, lags 1-3 on the day spine), each rounded to 12 dp so both
    engines seed the unrolled recursion with identical doubles; the
    order-2/3 Levinson steps are one fixed IEEE chain.

    Plan: one daily rollup touches the corpus; the 3-lag pairing is a
    broadcast equi-join on the KB-sized spine and the recursion is a
    1-row select.
    """
    from dataframe_differ_spark.operators.timeseries import autocorr

    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.count(F.lit(1)).alias("x")
    )
    m = daily.agg(F.min("d").alias("d0"))
    pts = daily.crossJoin(F.broadcast(m)).select(
        F.datediff("d", "d0").cast("long").alias("i"), "x"
    )
    ac = autocorr(pts, "i", "x", max_lag=3).select(
        "lag", F.round("autocorr", 12).alias("r")
    )
    wide = ac.agg(
        F.max(F.when(F.col("lag") == 1, F.col("r"))).alias("r1"),
        F.max(F.when(F.col("lag") == 2, F.col("r"))).alias("r2"),
        F.max(F.when(F.col("lag") == 3, F.col("r"))).alias("r3"),
    )
    r1, r2, r3 = F.col("r1"), F.col("r2"), F.col("r3")
    phi22 = (r2 - r1 * r1) / (F.lit(1.0) - r1 * r1)
    lev = wide.select("r1", "r2", "r3", phi22.alias("phi22"))
    phi21 = F.col("r1") - F.col("phi22") * F.col("r1")
    lev2 = lev.select("r1", "r2", "r3", "phi22", phi21.alias("phi21"))
    pacf3 = (
        F.col("r3") - F.col("phi21") * F.col("r2") - F.col("phi22") * F.col("r1")
    ) / (
        F.lit(1.0)
        - F.col("phi21") * F.col("r1")
        - F.col("phi22") * F.col("r2")
    )
    return lev2.select(
        F.round("r1", 9).alias("pacf_1"),
        F.round("phi22", 9).alias("pacf_2"),
        F.round(pacf3, 9).alias("pacf_3"),
    )
