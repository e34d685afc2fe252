"""Session factory: the codegen cache holds a session's generated classes, so
a query run again in the same session does not compile them again. The
dedup-store queries also keep to a budget of Spark jobs per warm run."""

from __future__ import annotations

from dataframe_differ_spark.operators import session_cache
from dataframe_differ_spark.queries import load_all
from dataframe_differ_spark.session import CODEGEN_CACHE_ENTRIES

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


def test_codegen_cache_size_is_set(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )


def test_repeat_round_reuses_compiled_classes(spark, sf_small):
    registry = load_all()
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def compiles() -> int:
        return metrics.METRIC_COMPILATION_TIME().getCount()

    def run_round() -> int:
        session_cache._CACHE.pop(spark, None)
        before = compiles()
        for name in DEDUP_STORE:
            registry[name].fn(spark, sf_small).write.format("noop").mode(
                "overwrite"
            ).save()
        return compiles() - before

    run_round()
    # Run alone, the repeat round compiles 0. After other queries in the same
    # session it can compile a few: Spark numbers whole-stage codegen stages
    # from a counter that depends on what ran before (and, under AQE, on the
    # order query stages are created), and the stage id is part of the
    # generated source, so identical code can miss the cache under a new id.
    assert run_round() <= THRASHING_COMPILES // 4


def test_dedup_store_job_budget(spark, sf_small):
    registry = load_all()
    dag = spark._jsc.sc().dagScheduler()

    def jobs(name: str) -> int:
        before = dag.numTotalJobs()
        registry[name].fn(spark, sf_small).write.format("noop").mode(
            "overwrite"
        ).save()
        return dag.numTotalJobs() - before

    for name in JOB_BUDGET:
        jobs(name)
    warm = {name: jobs(name) for name in JOB_BUDGET}
    assert all(warm[name] <= JOB_BUDGET[name] for name in JOB_BUDGET), warm
