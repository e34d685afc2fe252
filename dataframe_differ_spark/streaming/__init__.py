"""Streaming runner, progress capture and sinks beyond the built-in formats.

:func:`run_available_now` is the one place a streaming query is started:
every ``stream_*`` query hands it a streaming DataFrame and a sink (memory
table, parquet path or foreachBatch callable), and it owns the
lock/conf/checkpoint protocol around ``trigger(availableNow=True)``.

``foreach_batch`` implements the CDC upsert-merge sink pattern: each
micro-batch is merged latest-wins into a keyed parquet target through
versioned snapshots — the dependency-free local stand-in for a Delta/Iceberg
``MERGE INTO`` on a real cluster.
"""

from dataframe_differ_spark.streaming.foreach_batch import (  # noqa: F401
    UpsertMergeSink,
)

import os
import shutil
import tempfile
import threading
import uuid

from dataframe_differ_spark.tables import parquet_read_schema

#: Serializes the save→set→start→await→restore sections that temporarily
#: retarget session-wide ``spark.sql.shuffle.partitions`` for stateful
#: streaming starts. Without it, two streaming queries pipelined on bench
#: threads interleave their save/restore and can leak the temporary value
#: into the session (A saves 32→sets 8; B saves 8; A restores 32; B
#: "restores" 8).
STREAM_CONF_LOCK = threading.Lock()

#: Streaming-progress capture (round-5): query-name-PREFIX → list of
#: per-micro-batch progress dicts from the most recent run. Lets the
#: batch-twin pytests assert the STATE-STORE semantics of the rows-only
#: stream_* queries (rows dropped by the watermark, state rows held for
#: dedup/session operators) instead of only output equality. Keyed by the
#: stable prefix ("dedup", "appendfin", ...), not the uuid-suffixed sink
#: name, so tests can find the entry; one-per-prefix is enough because the
#: capture is only read immediately after a query function returns.
LAST_PROGRESS: dict[str, list[dict]] = {}


def record_progress(prefix: str, query) -> None:
    """Store a finished StreamingQuery's recentProgress under ``prefix``."""
    import json as _json

    LAST_PROGRESS[prefix] = [_json.loads(p.json) for p in query.recentProgress]


def run_available_now(df, prefix: str, *, mode="append", foreach_batch=None, path=None):
    """Run streaming ``df`` to completion with ``trigger(availableNow=True)``.

    The sink is ``foreach_batch`` (a ``(batch_df, batch_id)`` callable) if
    given, else parquet files under ``path`` (returned read back with
    ``df``'s schema made nullable, so no job infers it), else a
    memory table named ``<prefix>_<uuid>`` (returned as ``spark.table``).
    ``mode`` is the output mode. Progress is recorded under ``prefix``.

    Stateful operators allocate ONE state store per shuffle partition, so
    the partition count must track stream volume: 8 is right for these
    100k-row local replays (32 partitions cost 5× in pure state-store
    overhead, measured), while a real 100 TB stream would size it up.
    The conf is scoped to the streaming start under ``STREAM_CONF_LOCK``
    and restored after — partition counts are baked into the checkpoint at
    first batch. The checkpoint dir belongs to this one run and is removed
    when it ends, failed or not; a finished memory table stays readable.
    """
    spark = df.sparkSession
    name = f"{prefix}_{uuid.uuid4().hex[:8]}"
    ckpt = os.path.join(tempfile.gettempdir(), f"ddspark_ckpt_{name}")
    writer = (
        df.writeStream.queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
    )
    if foreach_batch is not None:
        writer = writer.foreachBatch(foreach_batch)
    elif path is not None:
        writer = writer.format("parquet").option("path", path)
    else:
        writer = writer.format("memory")
    with STREAM_CONF_LOCK:
        saved = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        try:
            q = writer.start()
            q.awaitTermination()
            record_progress(prefix, q)
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", saved)
            shutil.rmtree(ckpt, ignore_errors=True)
    if foreach_batch is not None:
        return None
    if path is not None:
        return spark.read.schema(parquet_read_schema(df.schema)).parquet(path)
    return spark.table(name)
