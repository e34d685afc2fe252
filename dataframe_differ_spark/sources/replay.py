"""Rate-limited incremental replay of the events table (SURVEY.md §8 gap).

The corpus ships `events` as ONE parquet file, so ``readStream`` +
``availableNow`` replays it in a single micro-batch — which exercises the
streaming engine but not its *incremental* behavior (state carried across
batches, per-batch sink commits). This module closes that gap:

1. :func:`split_events_files` rewrites events into N part-files (once per
   (sf_dir, n) per JVM, cached on disk in the session temp dir).
2. :func:`replay_stream` (via :func:`incremental_events_stream` for
   events) reads them back with ``maxFilesPerTrigger`` — the file-source
   form of rate limiting — so an ``availableNow`` run processes
   ceil(N / files_per_trigger) micro-batches.

At cluster scale the same queries point at a Kafka source or a landing
directory with real file arrivals; ``maxFilesPerTrigger`` /
``maxBytesPerTrigger`` remain the backpressure knobs that keep each
micro-batch sized to the cluster.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
import threading
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from dataframe_differ_spark.tables import load_table, parquet_read_schema

_SPLIT_CACHE: dict[tuple[str, str, int], str] = {}
_SPLIT_LOCK = threading.Lock()


def split_frame_files(
    name: str,
    sf_dir: str,
    n_files: int,
    build,
    split_key: str,
) -> str:
    """Materialize ``build()``'s frame as ``n_files`` parquet part-files
    hash-split on ``split_key``; return the directory (round 11: the
    events-specific splitter generalized so any table slice — e.g. the
    store-loop document batch — can be replayed incrementally).

    Hash-splitting is deterministic, and every micro-batch sees a mix of
    keys (like a real arrival stream, no artificial ordering).
    Publication is race-safe (the bench pipelines queries on threads,
    and replay queries share this cache): the split is written to a
    unique temp dir and atomically renamed into place; losers discard
    their copy. A lock serializes in-process callers so only one Spark
    write runs.
    """
    key = (name, os.path.abspath(sf_dir), n_files)
    with _SPLIT_LOCK:
        if key in _SPLIT_CACHE and os.path.isdir(_SPLIT_CACHE[key]):
            return _SPLIT_CACHE[key]
        # Content-stable tag: Python's str hash() is per-process
        # randomized, which would give every process a private path —
        # defeating both the cross-process rename race handling and the
        # on-disk reuse (each run would leak a fresh copy).
        tag = hashlib.md5(f"{key[0]}|{key[1]}|{key[2]}".encode()).hexdigest()[
            :10
        ]
        out = os.path.join(
            tempfile.gettempdir(), f"ddspark_{name}_split_{tag}_{n_files}"
        )
        if not os.path.isdir(out) or not any(
            f.endswith(".parquet") for f in os.listdir(out)
        ):
            tmp = f"{out}.tmp-{uuid.uuid4().hex[:8]}"
            build().repartition(n_files, split_key).write.mode(
                "overwrite"
            ).parquet(tmp)
            # Pin DETERMINISTIC ascending mtimes in part-file path order:
            # FileStreamSource packs micro-batches by modification time,
            # and parallel writers finish in nondeterministic thread
            # order — without this, regenerating the split (fresh /tmp
            # between rounds) silently re-deals which rows land in which
            # micro-batch, flapping every batch-attribution output
            # (observed: the stream_update_deltas golden). Path order is
            # content-stable because repartition(n, key) assigns rows by
            # hash to fixed partition ids.
            base = 1_600_000_000
            for i, fname in enumerate(
                sorted(f for f in os.listdir(tmp) if f.endswith(".parquet"))
            ):
                os.utime(os.path.join(tmp, fname), (base + i, base + i))
            try:
                os.rename(tmp, out)  # atomic publish
            except OSError:
                # Either another PROCESS published first (its copy is
                # complete) or the rename itself failed (perms,
                # cross-device tmp). Only the first case may be cached:
                # verify a complete parquet dir actually exists at `out`,
                # else clean up and surface the real error here rather
                # than as a confusing downstream parquet-read failure.
                shutil.rmtree(tmp, ignore_errors=True)
                complete = os.path.isdir(out) and (
                    os.path.exists(os.path.join(out, "_SUCCESS"))
                    or any(
                        f.endswith(".parquet") for f in os.listdir(out)
                    )
                )
                if not complete:
                    raise
        _SPLIT_CACHE[key] = out
        return out


def _events_split_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events frame the split writes: ts normalized ns→µs."""
    return load_table(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )


def split_events_files(spark: SparkSession, sf_dir: str, n_files: int = 8) -> str:
    """Materialize events as ``n_files`` parquet part-files; return the dir.

    The ns→µs timestamp normalization is applied BEFORE writing, so the
    split copy carries a plain timestamp column readable by the stream
    schema without the nanosAsLong detour. Hash-split on event_id:
    every micro-batch sees a mix of users and event times.
    """
    return split_frame_files(
        "events", sf_dir, n_files, lambda: _events_split_build(spark, sf_dir),
        "event_id",
    )


def incremental_events_stream(
    spark: SparkSession, sf_dir: str, n_files: int = 8, files_per_trigger: int = 2
) -> DataFrame:
    """readStream over the split events copy, ``files_per_trigger`` per batch.

    With availableNow this yields ceil(n_files / files_per_trigger)
    micro-batches — state stores and sink commit logs are exercised across
    batch boundaries, not just within one.
    """
    return replay_stream(
        spark,
        split_events_files(spark, sf_dir, n_files),
        files_per_trigger,
        _events_split_build(spark, sf_dir).schema,
    )


def replay_stream(
    spark: SparkSession, path: str, files_per_trigger: int, schema: StructType
) -> DataFrame:
    """readStream over a split parquet dir, ``files_per_trigger`` files per
    micro-batch. ``schema`` is the schema of the frame the split was
    written from; it is read back all-nullable, as a parquet read reports
    it, so no job runs to infer it from the files (a file stream cannot
    infer a schema itself)."""
    return (
        spark.readStream.schema(parquet_read_schema(schema))
        .option("maxFilesPerTrigger", str(files_per_trigger))
        .parquet(path)
    )
