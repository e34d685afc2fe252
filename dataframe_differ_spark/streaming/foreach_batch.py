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

Scale: the merge is a key-partitioned shuffle of (current ∪ batch) — at
100 TB the current table would be bucketed/Z-ordered by key so the merge
touches only affected partitions; here AQE sizes the local shuffle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


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

    def _latest(self, df: DataFrame, v: str, t: str, e: str) -> DataFrame:
        """Per-key latest (value, ts, tiebreak) + count contribution."""
        latest = F.expr(f"max_by(struct({v}, {t}, {e}), struct({t}, {e}))")
        return (
            df.groupBy(*self.keys)
            .agg(
                latest.alias("_latest"),
                F.sum(F.col("n_events") if "n_events" in df.columns else F.lit(1)).alias(
                    "n_events"
                ),
            )
            .select(
                *self.keys,
                F.col(f"_latest.{v}").alias("last_value"),
                F.col(f"_latest.{t}").alias("last_ts"),
                F.col(f"_latest.{e}").alias("last_event_id"),
                "n_events",
            )
        )

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        # Runs on the driver once per micro-batch; batch_df is a normal
        # batch DataFrame planned by Catalyst like any other.
        spark = batch_df.sparkSession
        merged = self._latest(
            batch_df, self.value_col, self.ts_col, self.tiebreak_col
        )
        base = self._base_version(batch_id)
        if base is not None:
            cur = spark.read.parquet(base)
            merged = self._latest(
                cur.unionByName(merged), "last_value", "last_ts", "last_event_id"
            )
        new_path = self._version_path(batch_id)
        merged.write.mode("overwrite").parquet(new_path)
        self.current_path = new_path
        self._batch_ids.add(int(batch_id))

    def result(self, spark: SparkSession) -> DataFrame:
        if self.current_path is None:
            raise RuntimeError("sink saw no batches")
        return spark.read.parquet(self.current_path)
