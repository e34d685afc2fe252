"""foreachBatch CDC upsert-merge sink (SURVEY.md §8 gap).

``writeStream.foreachBatch`` is the escape hatch for sinks Spark has no
native format for: each micro-batch arrives as a normal batch DataFrame on
the driver, and arbitrary batch writes (JDBC upserts, MERGE INTO, multi-sink
fan-out) run against it with the batch engine.

:class:`UpsertMergeSink` implements the canonical use: a keyed table kept
up-to-date by latest-wins upserts. Plain parquet cannot be updated in place,
so each merge writes a new versioned snapshot dir keyed by ``batch_id``
(``v00000``, ``v00001``, …) and the newest version is the table — the same
copy-on-write idea Delta/Iceberg implement with a commit log. Batch
``batch_id`` merges onto the newest version on disk with a SMALLER id and
writes ``v<batch_id>``, so a replayed batch (failure + checkpoint restart)
rewrites ITS OWN version from the same input rather than double-applying:
the merge stays effectively exactly-once, matching the guarantee a MERGE
INTO sink gives on a real cluster. The base version is found on disk, not
held in memory, so this holds for a fresh sink after a restart too.

Each merge is ONE aggregate: the batch rows are projected to the snapshot
shape ``(key…, last_value, last_ts, last_event_id, n_events = 1)``,
unioned with the base snapshot, and grouped once per key — ``max_by`` over
``(ts, tiebreak)`` for the latest value and ``sum`` for the running count.
Snapshots are read back with the analyzed schema of that aggregate (all
nullable, as parquet reports it), so no read runs a schema-inference job.

Scale: the merge is a key-partitioned shuffle of (current ∪ batch) — at
100 TB the current table would be bucketed/Z-ordered by key so the merge
touches only affected partitions; here AQE sizes the local shuffle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataframe_differ_spark.tables import parquet_read_schema


class UpsertMergeSink:
    """Latest-wins upsert by key + running count, as a foreachBatch callable.

    Input micro-batches carry raw events ``(key…, ts, tiebreak, value)``.
    State after batch k: per key, the value of the latest event seen so far
    (ordered by ``(ts, tiebreak)``) and the running count of all events —
    an aggregate NO single batch can compute, proving state genuinely
    crosses micro-batch boundaries through the sink.
    """

    def __init__(
        self,
        base_dir: str,
        keys: list[str],
        ts_col: str = "ts",
        tiebreak_col: str = "event_id",
        value_col: str = "value",
    ):
        self.base_dir = base_dir
        self.keys = list(keys)
        self.ts_col = ts_col
        self.tiebreak_col = tiebreak_col
        self.value_col = value_col
        self.current_path: str | None = None
        self._batch_ids: set[int] = set()
        self._schema = None

    @property
    def n_batches(self) -> int:
        """Distinct micro-batches merged (a replayed batch counts once)."""
        return len(self._batch_ids)

    def _version_path(self, batch_id: int) -> str:
        return os.path.join(self.base_dir, f"v{int(batch_id):05d}")

    def _base_version(self, batch_id: int) -> str | None:
        """Newest snapshot on disk written by a batch before ``batch_id``."""
        if not os.path.isdir(self.base_dir):
            return None
        ids = [
            int(d[1:])
            for d in os.listdir(self.base_dir)
            if d.startswith("v") and d[1:].isdigit() and int(d[1:]) < batch_id
        ]
        return self._version_path(max(ids)) if ids else None

    def _merge(self, df: DataFrame) -> DataFrame:
        """Per key, the latest (value, ts, tiebreak) and the event count of
        rows already in snapshot shape, in ONE aggregate."""
        latest = F.expr(
            "max_by(struct(last_value, last_ts, last_event_id), "
            "struct(last_ts, last_event_id))"
        )
        return (
            df.groupBy(*self.keys)
            .agg(latest.alias("_latest"), F.sum("n_events").alias("n_events"))
            .select(
                *self.keys,
                "_latest.last_value",
                "_latest.last_ts",
                "_latest.last_event_id",
                "n_events",
            )
        )

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        # Runs on the driver once per micro-batch; batch_df is a normal
        # batch DataFrame planned by Catalyst like any other.
        spark = batch_df.sparkSession
        rows = batch_df.select(
            *self.keys,
            F.col(self.value_col).alias("last_value"),
            F.col(self.ts_col).alias("last_ts"),
            F.col(self.tiebreak_col).alias("last_event_id"),
            F.lit(1).cast("long").alias("n_events"),
        )
        # Analysis only, no job: the same batch frame gives the same schema
        # to a fresh sink after a restart.
        self._schema = parquet_read_schema(self._merge(rows).schema)
        base = self._base_version(batch_id)
        if base is not None:
            rows = rows.unionByName(spark.read.schema(self._schema).parquet(base))
        new_path = self._version_path(batch_id)
        self._merge(rows).write.mode("overwrite").parquet(new_path)
        self.current_path = new_path
        self._batch_ids.add(int(batch_id))

    def result(self, spark: SparkSession) -> DataFrame:
        if self.current_path is None:
            raise RuntimeError("sink saw no batches")
        return spark.read.schema(self._schema).parquet(self.current_path)
