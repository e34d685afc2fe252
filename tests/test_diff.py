"""Unit + invariant tests for the diff core (SURVEY.md §5.3)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

import dataframe_differ_spark.operators.diff_core as D


@pytest.fixture(scope="module")
def pair(spark):
    left = spark.createDataFrame(
        [
            Row(k=1, a="x", v=1.0),
            Row(k=2, a="y", v=2.0),
            Row(k=3, a="z", v=3.0),
            Row(k=None, a="nullkey", v=9.0),
        ]
    )
    right = spark.createDataFrame(
        [
            Row(k=1, a="x", v=1.0),       # unchanged
            Row(k=2, a="y", v=2.5),       # changed
            Row(k=4, a="w", v=4.0),       # insert
            Row(k=None, a="nullkey", v=9.0),  # unchanged (null key matches null)
        ]
    )
    return left, right


def _status_map(df):
    return {r["k"]: r["diff_status"] for r in df.collect()}


def test_keyed_diff_statuses(pair):
    left, right = pair
    sm = _status_map(D.diff(left, right, ["k"]))
    assert sm[1] == "N"
    assert sm[2] == "C"
    assert sm[3] == "D"
    assert sm[4] == "I"
    assert sm[None] == "N"  # null-safe key match


def test_diff_self_all_nochange(spark, sf_small):
    orders = spark.read.parquet(f"{sf_small}/orders.parquet")
    d = D.diff(orders, orders, ["o_orderkey"])
    assert d.filter(F.col("diff_status") != "N").count() == 0


def test_diff_swap_symmetry(pair):
    left, right = pair
    fwd = _status_map(D.diff(left, right, ["k"]))
    rev = _status_map(D.diff(right, left, ["k"]))
    swap = {"I": "D", "D": "I", "C": "C", "N": "N"}
    assert rev == {k: swap[v] for k, v in fwd.items()}


def test_diff_counts_partition_inputs(pair):
    left, right = pair
    counts = dict(
        D.diff(left, right, ["k"])
        .groupBy("diff_status")
        .count()
        .collect()
    )
    n, c = counts.get("N", 0), counts.get("C", 0)
    assert n + c + counts.get("D", 0) == left.count()
    assert n + c + counts.get("I", 0) == right.count()


def test_tolerant_diff_monotone(pair):
    left, right = pair
    exact_c = D.diff(left, right, ["k"]).filter("diff_status = 'C'").count()
    tol_c = D.diff(left, right, ["k"], atol=1.0).filter("diff_status = 'C'").count()
    assert tol_c <= exact_c
    assert tol_c == 0  # 2.0 vs 2.5 within atol=1.0


def test_unkeyed_diff(spark):
    left = spark.createDataFrame([Row(a=1), Row(a=1), Row(a=2)])
    right = spark.createDataFrame([Row(a=1), Row(a=3)])
    rows = {r["a"]: (r["left_count"], r["right_count"])
            for r in D.diff_unkeyed(left, right).collect()}
    assert rows == {1: (2, 1), 2: (1, 0), 3: (0, 1)}


def test_schema_diff(spark, sf_small):
    orders = spark.read.parquet(f"{sf_small}/orders.parquet")
    mutated = orders.drop("o_custkey").withColumn(
        "o_totalprice", F.col("o_totalprice").cast("string")
    )
    st = {r["column_name"]: r["status"] for r in D.schema_diff(orders, mutated).collect()}
    assert st["o_custkey"] == "removed"
    assert st["o_totalprice"] == "type_changed"
    assert st["o_orderkey"] == "same"


def test_duplicate_keys(spark):
    df = spark.createDataFrame([Row(k=1), Row(k=1), Row(k=2)])
    assert D.duplicate_keys(df, ["k"]).collect() == [Row(k=1, cnt=2)]


def test_column_mismatch_stats(pair):
    left, right = pair
    stats = {r["column_name"]: r for r in
             D.column_mismatch_stats(left, right, ["k"]).collect()}
    # matched keys: 1, 2, None → 3 rows
    assert stats["a"]["n_equal"] == 3
    assert stats["v"]["n_different"] == 1


def test_column_mismatch_stats_column_mapping(spark):
    left = spark.createDataFrame(
        [(1, "x", 1.0), (2, "y", 2.0)], "k int, a string, v double"
    )
    right = spark.createDataFrame(
        [(1, "x", 1.0), (2, "z", 2.0)], "k int, b string, v double"
    )
    stats = {r["column_name"]: r for r in D.column_mismatch_stats(
        left, right, ["k"], column_mapping={"a": "b"}).collect()}
    assert set(stats) == {"a", "v"}
    assert (stats["a"]["n_equal"], stats["a"]["n_different"]) == (1, 1)


def test_column_mismatch_stats_columns_subset(pair):
    left, right = pair
    rows = D.column_mismatch_stats(left, right, ["k"], columns=["a"]).collect()
    assert [(r["column_name"], r["n_equal"], r["n_different"]) for r in rows] == [
        ("a", 3, 0)
    ]


def test_column_mismatch_stats_plans_inner_join(spark):
    # Matched keys come from an inner join, not from filtering diff()'s
    # status CASE: that filter made Catalyst planning grow steeply with the
    # number of columns.
    cols = [f"c{i}" for i in range(10)]
    schema = "k int, " + ", ".join(f"{c} int" for c in cols)
    left = spark.createDataFrame([(1, *range(10))], schema)
    right = spark.createDataFrame([(1, *range(1, 11))], schema)
    stats = D.column_mismatch_stats(left, right, ["k"], rtol=1e-6)
    qe = stats.filter(F.col("n_different") > 0)._jdf.queryExecution()
    optimized = qe.optimizedPlan().toString()
    assert "Join Inner" in optimized
    assert "CASE WHEN" not in optimized


def test_report(pair):
    left, right = pair
    rep = D.report(left, right, ["k"], sample_n=3)
    assert "changed        1" in rep
    assert "only in left   1" in rep
    assert "only in right  1" in rep
    assert "v: 1 differ" in rep
    assert "Sample changed keys" in rep


def test_report_counts_rows_like_aligned_diff(spark):
    left = spark.createDataFrame([(1, 1)], "k int, v int")
    right = spark.createDataFrame([(1, 1.5)], "k int, v double")
    d = D.diff(left, right, ["k"], align_types=True)
    assert [r["diff_status"] for r in d.collect()] == ["N"]
    rep = D.report(left, right, ["k"], align_types=True)
    assert "unchanged      1" in rep and "changed        0" in rep
    assert "Columns with differences (among matched keys):\n  none" in rep


def test_report_joins_once_and_samples_only_changes(pair, monkeypatch):
    joins = []
    real_join = D._join

    def counting_join(*a, **kw):
        joins.append(a[3])
        return real_join(*a, **kw)

    def no_schema_diff(*a, **kw):
        raise AssertionError("report() must read the schema on the driver")

    monkeypatch.setattr(D, "_join", counting_join)
    monkeypatch.setattr(D, "schema_diff", no_schema_diff)
    left, right = pair
    D.report(left, right, ["k"])
    assert joins == ["full_outer", "inner"]
    joins.clear()
    rep = D.report(left, left, ["k"])
    assert joins == ["full_outer"]
    assert "Sample changed keys" not in rep


@pytest.mark.parametrize(
    "kw", [{"column_mapping": {"a": "b"}}, {"columns": ["v"], "rtol": 0.01}]
)
def test_changed_sample_inner_join_matches_diff_filter(spark, kw):
    left = spark.createDataFrame(
        [(None, "n", 0.0, 1)] + [(i, f"s{i}", float(i), i) for i in range(1, 9)],
        "k int, a string, v double, w int",
    )
    right = spark.createDataFrame(
        [(None, "N", 0.0, 1)]
        + [(i, f"s{i % 3}", i * 1.05 if i % 4 else float(i), i) for i in range(2, 12)],
        "k int, b string, v double, w int",
    )
    if "column_mapping" not in kw:
        right = right.withColumnRenamed("b", "a")
    got = D.changed_sample(left, right, ["k"], n=3, **kw)
    ref = (
        D.diff(left, right, ["k"], **kw)
        .filter("diff_status = 'C'")
        .orderBy("k")
        .limit(3)
    )
    assert "FullOuter" not in got._jdf.queryExecution().optimizedPlan().toString()
    assert got.dtypes == ref.dtypes
    assert got.collect() == ref.collect()
    assert len(got.collect()) == 3


def test_diff_validates_inputs(pair):
    left, right = pair
    with pytest.raises(ValueError, match="key column"):
        D.diff(left, right, ["nope"])
    with pytest.raises(ValueError, match="at least one key"):
        D.diff(left, right, [])
    with pytest.raises(ValueError, match="compared column"):
        D.diff(left, right, ["k"], columns=["ghost"])


def test_diff_align_types(spark):
    left = spark.createDataFrame([(1, 10), (2, 20)], "k int, v bigint")
    right = spark.createDataFrame([(1, 10), (2, 21)], "k int, v int")
    d = D.diff(left, right, ["k"], align_types=True)
    sm = {r["k"]: r["diff_status"] for r in d.collect()}
    assert sm == {1: "N", 2: "C"}
    assert dict(d.dtypes)["v_right"] == "bigint"


def test_diff_empty_right_all_deletes(spark):
    left = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    right = spark.createDataFrame([], "k long, v string")
    d = D.diff(left, right, ["k"])
    statuses = {r.diff_status for r in d.collect()}
    assert statuses == {"D"}
    assert d.count() == 2


def test_diff_both_empty(spark):
    left = spark.createDataFrame([], "k long, v string")
    right = spark.createDataFrame([], "k long, v string")
    assert D.diff(left, right, ["k"]).count() == 0
    assert D.diff_unkeyed(left, right).count() == 0


def test_diff_null_keys_match_nullsafely(spark):
    left = spark.createDataFrame([(None, "a"), (1, "b")], "k long, v string")
    right = spark.createDataFrame([(None, "a"), (1, "B")], "k long, v string")
    d = D.diff(left, right, ["k"])
    rows = {r.k: r.diff_status for r in d.collect()}
    assert rows[None] == "N"  # null keys pair up, values equal
    assert rows[1] == "C"


def test_diff_unkeyed_null_rows_group_together(spark):
    left = spark.createDataFrame([(None, None), (None, None)], "a long, b string")
    right = spark.createDataFrame([(None, None)], "a long, b string")
    out = D.diff_unkeyed(left, right).collect()
    assert len(out) == 1
    assert out[0].left_count == 2 and out[0].right_count == 1


def test_checksum_prune_flags_every_changed_bucket(spark):
    from dataframe_differ_spark.queries._mutation import mutated_orders
    from dataframe_differ_spark.tables import load_table

    orders = load_table(spark, "/root/testdata/sf0.001", "orders")
    right = mutated_orders(orders)
    pruned = D.diff_bucket_checksums(
        orders,
        right,
        bucket=F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM"),
        row_repr=F.concat_ws(
            "|",
            F.col("o_orderkey").cast("string"),
            F.col("o_totalprice").cast("decimal(18,4)").cast("string"),
        ),
    )
    flagged = {
        r.bucket for r in pruned.filter(F.col("needs_full_diff")).collect()
    }
    truth = D.diff(orders, right, ["o_orderkey"])
    changed_buckets = {
        r.bucket
        for r in truth.filter(F.col("diff_status") != "N")
        .select(
            F.date_format(
                F.date_trunc(
                    "month", F.coalesce("o_orderdate_left", "o_orderdate_right")
                ),
                "yyyy-MM",
            ).alias("bucket")
        )
        .distinct()
        .collect()
    }
    # Soundness: no changed bucket escapes the prune.
    assert changed_buckets <= flagged


def test_package_root_exports_diff_surface(spark, sf_small):
    # A reference user's first import path must work end-to-end.
    import dataframe_differ_spark as dds

    left = spark.read.parquet(f"{sf_small}/orders.parquet")
    right = left.withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 97 == 0, F.col("o_totalprice") + 1)
        .otherwise(F.col("o_totalprice")),
    )
    d = dds.diff(left, right, ["o_orderkey"])
    counts = {r["diff_status"]: r["cnt"] for r in
              dds.diff_summary(left, right, ["o_orderkey"]).collect()}
    assert counts.get("C", 0) > 0 and counts.get("D", 0) == 0
    assert d.filter(F.col("diff_status") == "C").count() == counts["C"]
    rep = dds.report(left, right, ["o_orderkey"])
    assert "Row status counts" in rep and "o_totalprice" in rep
