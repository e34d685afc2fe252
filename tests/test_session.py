"""Session factory: the codegen cache holds a session's generated classes, so
a query run again in the same session does not compile them again. Column
operations skip PySpark's call-site capture, so they stay within a budget
of py4j round trips. The dedup-store queries also keep to a budget of Spark
jobs per warm run, and their per-run scratch dirs are removed at exit."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from dataframe_differ_spark import scratch
from dataframe_differ_spark.operators import session_cache
from dataframe_differ_spark.queries import load_all
from dataframe_differ_spark.session import CODEGEN_CACHE_ENTRIES, RoundTrips

# The queries of perfbench's dedup-store workload. At Spark's default of 100
# entries every repeat round of them here recompiles 141 evicted classes.
DEDUP_STORE = (
    "dedup_minhash_exact",
    "eval_dedup_pr",
    "sketch_bloom_persisted",
    "stream_foreach_batch",
)
THRASHING_COMPILES = 141

# Spark jobs of one warm run of the dedup-store queries whose summaries are
# one tag-union-aggregate pass (measured at sf0.001 on 4 cores). A join of
# separately aggregated sides, or a schema-inference read of parquet the
# program wrote itself, adds jobs and fails this budget.
JOB_BUDGET = {
    "eval_dedup_pr": 6,
    "sketch_bloom_persisted": 11,
    "stream_foreach_batch": 9,
}


# py4j round trips of warm work (4 cores, sf0.001), deletes of the JVM
# objects it frees included. With PySpark's per-Column call-site capture on,
# the expression costs 45 and the query 1 894.
EXPR_ROUND_TRIPS = 12  # 12 measured: 8 calls, 4 deletes
EVAL_DEDUP_PR_ROUND_TRIPS = 1100  # 871 measured


def run_noop(spark, name, sf_dir):
    load_all()[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()


def test_codegen_cache_size_is_set(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )


def test_repeat_round_reuses_compiled_classes(spark, sf_small):
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def compiles() -> int:
        return metrics.METRIC_COMPILATION_TIME().getCount()

    def run_round() -> int:
        session_cache._CACHE.pop(spark, None)
        before = compiles()
        for name in DEDUP_STORE:
            run_noop(spark, name, sf_small)
        return compiles() - before

    run_round()
    # Run alone, the repeat round compiles 0. After other queries in the same
    # session it can compile a few: Spark numbers whole-stage codegen stages
    # from a counter that depends on what ran before (and, under AQE, on the
    # order query stages are created), and the stage id is part of the
    # generated source, so identical code can miss the cache under a new id.
    assert run_round() <= THRASHING_COMPILES // 4


def test_dedup_store_job_budget(spark, sf_small):
    dag = spark._jsc.sc().dagScheduler()

    def jobs(name: str) -> int:
        before = dag.numTotalJobs()
        run_noop(spark, name, sf_small)
        return dag.numTotalJobs() - before

    for name in JOB_BUDGET:
        jobs(name)
    warm = {name: jobs(name) for name in JOB_BUDGET}
    assert all(warm[name] <= JOB_BUDGET[name] for name in JOB_BUDGET), warm


def test_call_site_capture_is_off(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_column_round_trip_budget(spark):
    def expr():
        return (F.col("a") + F.lit(1)).alias("b")

    expr()
    with RoundTrips() as rt:
        expr()
    assert rt.count <= EXPR_ROUND_TRIPS, rt.count


def test_query_round_trip_budget(spark, sf_small):
    run_noop(spark, "eval_dedup_pr", sf_small)
    with RoundTrips() as rt:
        run_noop(spark, "eval_dedup_pr", sf_small)
    assert rt.count <= EVAL_DEDUP_PR_ROUND_TRIPS, rt.count


def test_per_run_scratch_dirs_removed_at_exit(spark, sf_small, monkeypatch):
    monkeypatch.setattr(scratch, "_DIRS", set())
    for name in ("sketch_bloom_persisted", "stream_foreach_batch"):
        run_noop(spark, name, sf_small)
    dirs = sorted(scratch._DIRS)
    assert any(d.startswith("/tmp/dds_artifacts/bloom_") for d in dirs), dirs
    assert any(
        os.path.basename(d).startswith("ddspark_merge_") for d in dirs
    ), dirs
    assert all(os.path.isdir(d) for d in dirs), dirs
    scratch.cleanup()
    assert not any(os.path.exists(d) for d in dirs), dirs
    assert not scratch._DIRS
