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

Call-site capture: :func:`get_spark` also sets
``spark.python.sql.dataFrameDebugging.enabled`` to ``false``. PySpark
wraps every Column operation (``F.col``, ``+``, ``alias``, ...) to record
its Python call site for runtime error messages. The wrapper walks the
Python stack, tries to import IPython, and makes about 10 py4j round
trips (active session, conf read, ``PySparkCurrentOrigin`` set and
clear), so one Column operation costs about 10 round trips where 1–2
would do. Measured on 4 cores with :class:`RoundTrips`:
``(F.col("a") + F.lit(1)).alias("b")`` made 45 round trips (deletes of
its JVM objects included), 12 without it; a ``perfbench`` ``diff-migrate``
pass 9 300–9 900, 2 400–2 900 without it. All that is lost is the
``== DataFrame ==`` call-site fragment of ANSI-mode error messages, and
ANSI is off in ``_RUNTIME_CONFS``. The conf is static, so it is set in
the builder. PySpark reads it once per process, at the first wrapped
Column call made while a session is active, and caches the answer
(``pyspark.errors.utils._enable_debugging_cache``). A session the driver
owns keeps PySpark's default, as it does for the codegen cache.
"""

from __future__ import annotations

import gc
import os
import threading
import warnings

from py4j.clientserver import SHUTDOWN_FINALIZER_WORKER, ClientServerConnection
from pyspark import SparkContext
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
        # Static: no per-Column call-site capture, see the module docstring.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.warehouse.dir", "/tmp/spark-warehouse")
    )
    spark = builder.getOrCreate()
    return configure_session(spark)


class RoundTrips:
    """Count the py4j round trips made inside a ``with`` block.

    Every call of ``ClientServerConnection.send_command`` counts, from any
    thread. py4j does not delete a JVM object when its Python proxy dies:
    it queues the ``m d`` (delete) command for a finalizer thread that
    wakes about once a second. So on entry and again before the count
    closes, ``gc.collect()`` runs and the queue is sent from this thread:
    the deletes of objects the block freed land inside the window, and
    earlier garbage lands outside it.
    """

    def __enter__(self) -> "RoundTrips":
        _send_queued_deletes()
        self.count = 0
        self._send = send = ClientServerConnection.send_command
        lock = threading.Lock()

        def counted(conn, command):
            with lock:
                self.count += 1
            return send(conn, command)

        ClientServerConnection.send_command = counted
        return self

    def __exit__(self, *exc) -> None:
        _send_queued_deletes()
        ClientServerConnection.send_command = self._send


def _send_queued_deletes() -> None:
    """Collect garbage, then send the JVM-object deletes py4j has queued
    for its finalizer thread now, from this thread."""
    gc.collect()
    client = getattr(SparkContext._gateway, "_gateway_client", None)
    queue = getattr(client, "finalizer_deque", None)
    while queue:
        try:
            task = queue.pop()
        except IndexError:  # the finalizer thread took the last one
            return
        if task == SHUTDOWN_FINALIZER_WORKER:
            queue.append(task)
            return
        java_client, target_id = task
        java_client.garbage_collect_object(target_id, enqueue=False)
