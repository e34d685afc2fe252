"""SparkSession factory + per-session configuration.

The driver harness owns its own SparkSession and passes it into
``queries()[name](spark, sf_dir)``; therefore everything that MUST hold for
oracle parity (UTC timezone, Arrow) is applied idempotently to any session
via :func:`configure_session`, not only to sessions we create ourselves.

Scale notes (SURVEY.md §4): AQE is enabled so that at real cluster scale the
runtime re-plans joins (broadcast conversion, skew-join splitting) from live
statistics; locally it also coalesces tiny shuffle partitions so sf0.01 runs
are not dominated by task overhead.

Codegen cache: :func:`get_spark` sets ``spark.sql.codegen.cache.maxEntries``
to :data:`CODEGEN_CACHE_ENTRIES` (Spark's default is 100). One session runs
many queries (CLI, bench, tests, perfbench), and the whole-stage and
projection classes they generate do not fit in 100 entries: the four
``dedup-store`` queries alone recompile 141 evicted classes on every repeat
at sf0.001, and the JIT then compiles them to native code again. One
sf0.001 pass over all 400 registry queries compiles 6 340 classes, so 8192
holds the registry with headroom; a second pass in the same session then
compiles 408 instead of 9 087, for about 40 MB more metaspace. It is a static SQL conf, so it is set in the builder
and not in ``_RUNTIME_CONFS``: a live session cannot change it. A session
the driver owns (``tools/driver_sim.py``, ``__spark_entry__``) therefore
keeps Spark's default, since :func:`configure_session` sets only runtime
confs.
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import SparkSession

# Static: holds the registry's generated classes (6 340 measured), see above.
CODEGEN_CACHE_ENTRIES = 8192

# Conf keys we've already warned about (warn once, not per session call).
_WARNED_CONFS: set[str] = set()

# Dynamic (runtime-settable) confs applied to every session we touch.
_RUNTIME_CONFS = {
    # Oracle parity: DuckDB and Spark must agree on timestamp rendering.
    "spark.sql.session.timeZone": "UTC",
    # Arrow for any pandas interchange (pandas_udf / applyInPandas / toPandas).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Adaptive execution: runtime join re-planning, partition coalescing,
    # skew-join splitting — the main lever that keeps one plan valid from
    # sf0.001 tests up to a 1000-executor 100 TB run.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # ANSI off: we want permissive casts like classic Spark (and DuckDB's
    # TRY_CAST is used on the oracle side where needed).
    "spark.sql.ansi.enabled": "false",
    # events.ts is parquet TIMESTAMP(NANOS) which Spark cannot read natively
    # (PARQUET_TYPE_ILLEGAL); read as long and convert in the loader.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def configure_session(spark: SparkSession) -> SparkSession:
    """Idempotently apply runtime confs required for oracle parity.

    Safe to call on a session we do not own (the driver's); only dynamic
    confs are touched.
    """
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception as e:
            # Some confs may be static in exotic deployments; parity-critical
            # ones (timezone, arrow) are always dynamic. A silently unset
            # parity conf (e.g. session timezone) would be a nightmare to
            # diagnose — always say which key was skipped (once per key).
            if k not in _WARNED_CONFS:
                _WARNED_CONFS.add(k)
                warnings.warn(
                    f"configure_session: could not set {k}={v!r}: {e}",
                    RuntimeWarning,
                    stacklevel=2,
                )
    return spark


def get_spark(app_name: str = "dataframe_differ_spark") -> SparkSession:
    """Create (or fetch) a local SparkSession sized by SPARK_GRAFT_CPUS.

    On a real cluster the same code runs unmodified — only master/memory
    change; nothing below hard-codes local assumptions into query plans.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(int(cpus), 8)))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.warehouse.dir", "/tmp/spark-warehouse")
    )
    spark = builder.getOrCreate()
    return configure_session(spark)
