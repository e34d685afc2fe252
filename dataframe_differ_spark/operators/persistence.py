"""Save/load for trained derived artifacts (round-8, VERDICT r7 item #1).

At 100 TB the expensive derived artifacts — a BPE merge table, IVF
centroids, a Bloom filter's bit table, a FastSS signature table — are
TRAIN-ONCE-REUSE-EVERYWHERE objects: one job builds them, every
downstream job loads them. Before this module each session rebuilt them
(the per-(session, sf_dir) ``localCheckpoint`` caches die with the
session), and a user wiring the README quickstart into a real pipeline
had to hand-roll ``df.write.parquet`` round-trips and hope the schema
survived.

The convention is deliberately boring — **plain parquet, documented
schema, no custom format**:

    <path>/data/   the artifact table itself (plain parquet)
    <path>/meta/   ONE row: (kind, format_version, params) where
                   ``params`` is a JSON object string holding the
                   build parameters the consumer must repeat
                   (e.g. a Bloom filter's n_bits/n_hashes)

so any engine — Spark on a cluster, DuckDB on a laptop, a plain
parquet reader — can consume an artifact without this library.
``save_artifact`` validates the frame against the kind's schema
contract before writing; ``load_artifact`` re-validates after reading
and returns the frame plus the stored params, so a pipeline fails at
load time with a named error instead of mid-job with a type mismatch.

Registered kinds and their schema contracts (extra columns are allowed
everywhere — contracts pin the columns consumers rely on):

- ``bpe_merges`` — :func:`operators.tokenize.train_bpe` output:
  ``merge_rank int``, ``left_sym string``, ``right_sym string``
  (ranks ≥ 1 are the ordered merge rules; the rank-0 baseline row is
  kept for provenance and ignored by apply). Consumer:
  :func:`operators.tokenize.bpe_segment_with_merges`.
- ``ivf_centroids`` — :func:`operators.similarity.ivf_index`
  centroids: ``cluster_id int``, ``ce array<double>`` (unit-norm).
  Consumers: :func:`operators.similarity.assign_clusters` (rebuild the
  index on new data) and :func:`operators.similarity.topk_cosine_ivf`.
- ``bloom_bits`` — :func:`operators.sketches.bloom_build` output:
  ``bit bigint``; params MUST carry ``n_bits`` and ``n_hashes`` (the
  probe re-derives hash positions, so mismatched params would silently
  probe garbage — load refuses to hand you the frame without them).
  Consumer: :func:`operators.sketches.bloom_probe`.
- ``fastss_signatures`` — :func:`operators.dedup.fastss_signatures`
  output: ``sig bigint`` plus the carried entity columns. Consumer:
  :func:`operators.dedup.fastss_pairs`.
- ``minhash_signatures`` — :func:`operators.dedup.minhash_signatures`
  output in long format: ``doc_id bigint``, ``j int``, ``s bigint``;
  params MUST carry ``num_perm``, ``bands`` and ``shingle_n`` (a probe
  re-derives batch hashes and band keys — mismatched params silently
  band-join garbage). Consumer: the incremental-dedup probe
  (``dedup_incremental_persisted``).

Scale note: ``save`` is one parquet write of an already-small frame
(merge tables are n_merges rows, centroid tables K ≈ √N rows, bit
tables ≤ n_bits rows; FastSS signatures are the one corpus-scale
artifact and parquet-partition like any fact table). ``load`` is a
plain parquet scan — column-pruned and predicate-pushed like every
other source in the engine. The ``meta`` table's schema is fixed, so
``load`` reads it with that schema (all fields nullable, as parquet
reports them) and runs two Spark jobs: the meta ``collect`` and the
``data`` schema inference.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import uuid
from collections.abc import Mapping
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from dataframe_differ_spark.scratch import register as register_scratch
from dataframe_differ_spark.tables import parquet_read_schema

__all__ = [
    "ARTIFACT_KINDS",
    "Artifact",
    "CompactionStats",
    "save_artifact",
    "load_artifact",
    "compact_artifact",
    "run_scoped_artifact_path",
]

FORMAT_VERSION = 1

# The one-row meta table as save_artifact writes it, read back with this
# schema so a load runs no schema-inference job for it.
_META_SCHEMA = parquet_read_schema(
    StructType(
        [
            StructField("kind", StringType()),
            StructField("format_version", IntegerType()),
            StructField("params", StringType()),
        ]
    )
)

# kind -> {column: type-prefix the column's simpleString must start
# with}. Prefix matching keeps int/bigint and array<double>/
# array<float> promotions explicit per kind.
ARTIFACT_KINDS: dict[str, dict[str, tuple[str, ...]]] = {
    "bpe_merges": {
        "merge_rank": ("int", "bigint", "smallint"),
        "left_sym": ("string",),
        "right_sym": ("string",),
    },
    "ivf_centroids": {
        "cluster_id": ("int", "bigint"),
        "ce": ("array<double>", "array<float>"),
    },
    "bloom_bits": {
        "bit": ("bigint", "int"),
    },
    "fastss_signatures": {
        "sig": ("bigint",),
    },
    "logreg_weights": {
        "coef": ("string",),
        "weight": ("double",),
    },
    "unigram_vocab": {
        "piece": ("string",),
        "logp": ("double",),
    },
    # The corpus MinHash signature store (round 10, VERDICT r9 item #2):
    # long-format (doc_id, j, s) from operators.dedup.minhash_signatures.
    # The most expensive recomputed object in the engine — at 100 TB one
    # job signs the corpus, every later ingest probes this table.
    "minhash_signatures": {
        "doc_id": ("bigint", "int"),
        "j": ("int", "bigint"),
        "s": ("bigint",),
    },
}

# Params a kind's consumer cannot run without.
_REQUIRED_PARAMS: dict[str, tuple[str, ...]] = {
    "bloom_bits": ("n_bits", "n_hashes"),
    # feature order IS the model: scoring with re-ordered features would
    # silently apply the wrong coefficient to every column.
    "logreg_weights": ("features",),
    # a probe must re-derive the SAME hashes (num_perm, shingle_n) and
    # the SAME band layout (bands) or the band-join silently matches
    # nothing / garbage.
    "minhash_signatures": ("num_perm", "bands", "shingle_n"),
}


@dataclass(frozen=True)
class Artifact:
    """A loaded artifact: the data frame + its stored build params."""

    kind: str
    df: DataFrame
    params: dict


def _validate(df: DataFrame, kind: str) -> None:
    if kind not in ARTIFACT_KINDS:
        raise ValueError(
            f"unknown artifact kind {kind!r}; known: {sorted(ARTIFACT_KINDS)}"
        )
    contract = ARTIFACT_KINDS[kind]
    fields = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    for col, prefixes in contract.items():
        if col not in fields:
            raise ValueError(
                f"artifact kind {kind!r} requires column {col!r}; frame has "
                f"{sorted(fields)}"
            )
        if not fields[col].startswith(prefixes):
            raise ValueError(
                f"artifact kind {kind!r} column {col!r} must be one of "
                f"{prefixes}, got {fields[col]!r}"
            )


def _check_params(kind: str, params: Mapping) -> None:
    missing = [p for p in _REQUIRED_PARAMS.get(kind, ()) if p not in params]
    if missing:
        raise ValueError(
            f"artifact kind {kind!r} requires params {missing} "
            "(the consumer must repeat them to re-derive hashes/shapes)"
        )


def save_artifact(
    df: DataFrame,
    path: str,
    kind: str,
    *,
    params: Mapping | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as artifact ``kind`` under ``path`` (plain parquet).

    Validates the frame against the kind's schema contract and the
    kind's required ``params`` BEFORE writing, so a bad artifact never
    reaches disk. ``params`` must be JSON-serializable; they are stored
    in the one-row ``meta`` table and handed back by
    :func:`load_artifact`.
    """
    params = dict(params or {})
    _validate(df, kind)
    _check_params(kind, params)
    spark = df.sparkSession
    meta = spark.range(1).select(
        F.lit(kind).alias("kind"),
        F.lit(FORMAT_VERSION).alias("format_version"),
        F.lit(json.dumps(params, sort_keys=True)).alias("params"),
    )
    # meta first: a data dir without meta reads as corrupt, never as a
    # silently param-less artifact.
    meta.coalesce(1).write.mode(mode).parquet(f"{path}/meta")
    df.write.mode(mode).parquet(f"{path}/data")


def load_artifact(
    spark: SparkSession,
    path: str,
    kind: str | None = None,
    *,
    expect_params: Mapping | None = None,
) -> Artifact:
    """Load an artifact saved by :func:`save_artifact`.

    Re-validates the stored kind (against ``kind`` if given), the
    format version, the data schema, and the kind's required params —
    a mismatch raises a named ``ValueError`` at load time instead of a
    type error mid-pipeline. Returns :class:`Artifact`; the frame is
    lazy (nothing is scanned until the consumer acts).

    ``expect_params`` is the PARAM-DRIFT contract (round 11, VERDICT
    r10 item #4): a pipeline that was configured for, say,
    ``num_perm=12, bands=6`` passes those here, and the load REFUSES a
    store whose stored params differ — naming every drifted key with
    stored vs expected — instead of silently probing with whatever the
    store was built with. Keys present in the store but not in
    ``expect_params`` are not checked (callers pin what they rely on).
    """
    meta_rows = spark.read.schema(_META_SCHEMA).parquet(f"{path}/meta").collect()
    if len(meta_rows) != 1:
        raise ValueError(
            f"artifact at {path!r}: meta must be exactly one row, got "
            f"{len(meta_rows)}"
        )
    meta = meta_rows[0]
    if meta.format_version > FORMAT_VERSION:
        raise ValueError(
            f"artifact at {path!r} has format_version "
            f"{meta.format_version} > supported {FORMAT_VERSION}"
        )
    if kind is not None and meta.kind != kind:
        raise ValueError(
            f"artifact at {path!r} is kind {meta.kind!r}, expected {kind!r}"
        )
    params = json.loads(meta.params)
    if expect_params is not None:
        _absent = object()
        drifted = {
            k: (params.get(k, _absent), v)
            for k, v in expect_params.items()
            if params.get(k, _absent) != v
        }
        if drifted:
            detail = "; ".join(
                f"{k}: stored="
                + ("<absent>" if s is _absent else repr(s))
                + f" expected={e!r}"
                for k, (s, e) in sorted(drifted.items())
            )
            raise ValueError(
                f"artifact at {path!r} param drift — the store was built "
                f"with different parameters than this pipeline expects "
                f"({detail}); rebuild the store or fix the caller's config"
            )
    df = spark.read.parquet(f"{path}/data")
    _validate(df, meta.kind)
    _check_params(meta.kind, params)
    return Artifact(kind=meta.kind, df=df, params=params)


@dataclass(frozen=True)
class CompactionStats:
    """What :func:`compact_artifact` did: file/row counts either side."""

    files_before: int
    files_after: int
    rows_before: int
    rows_after: int


def compact_artifact(
    spark: SparkSession,
    path: str,
    kind: str | None = None,
    *,
    num_files: int = 1,
    dedup: bool = True,
) -> CompactionStats:
    """Compact a grown artifact store in place (round 11, VERDICT r10
    item #4 — store lifecycle beyond append).

    A day-N append loop (``dedup_store_append`` /
    ``stream_dedup_persisted``) grows the ``data/`` dir by one small
    parquet file set per batch; after enough days the store is a
    many-tiny-files scan and — if any batch was ever replayed (an
    at-least-once sink retry) — may carry exact-duplicate rows.
    Compaction rewrites ``data/`` as ``num_files`` files, optionally
    ``dropDuplicates()`` over full rows first (safe for every
    registered kind: rows are (key, value) facts whose re-delivery is
    byte-identical — e.g. ``minhash_signatures`` rows are (doc_id, j, s)
    with ``s`` a pure function of the doc), and swaps the rewrite in
    via rename with the old dir kept until the swap succeeds. ``meta/``
    is untouched — compaction never changes params, so probes before
    and after must agree (the ``dedup_store_compacted`` query proves
    exactly that under a full oracle).

    Local-filesystem swap (os.rename) — the test/bench shape. On a real
    cluster the same two steps are "write to a versioned dir, repoint
    the table location / overwrite atomically via the object store's
    rename or a transactional table format"; the parquet layout and
    meta contract are unchanged.
    """
    art = load_artifact(spark, path, kind)
    local = path[len("file:"):] if path.startswith("file:") else path
    data_dir = os.path.join(local, "data")
    files_before = sum(
        1 for f in os.listdir(data_dir) if f.endswith(".parquet")
    )
    rows_before = art.df.count()
    compacted = art.df.dropDuplicates() if dedup else art.df
    tag = uuid.uuid4().hex[:8]
    tmp = os.path.join(local, f"data.compact-{tag}")
    compacted.repartition(num_files).write.mode("overwrite").parquet(tmp)
    old = os.path.join(local, f"data.old-{tag}")
    os.rename(data_dir, old)
    try:
        os.rename(tmp, data_dir)
    except OSError:
        os.rename(old, data_dir)  # roll back: the store stays readable
        raise
    shutil.rmtree(old, ignore_errors=True)
    after = load_artifact(spark, path, kind)
    files_after = sum(
        1 for f in os.listdir(data_dir) if f.endswith(".parquet")
    )
    return CompactionStats(
        files_before=files_before,
        files_after=files_after,
        rows_before=rows_before,
        rows_after=after.df.count(),
    )


def run_scoped_artifact_path(prefix: str, sf_dir: str) -> str:
    """A collision-free scratch path for an IN-QUERY save→load
    round-trip: ``/tmp/dds_artifacts/<prefix>_<sfhash>_<runid>``.

    ADVICE r10: keying scratch stores on ``basename(sf_dir)`` alone
    collided for distinct sf_dirs sharing a basename, and because
    ``save_artifact``'s meta-then-data write is two steps, two
    concurrent runs of the same query at the same scale could
    interleave one's save with the other's load. The per-run uuid makes
    every run's store private (the bench pipelines registered queries
    on threads); the sf_dir hash keeps paths debuggable. Callers that
    WANT cross-run sharing (a real day-N store) pass their own stable
    path instead — sharing is then their concurrency contract.

    The store is registered with ``scratch.register``, so it is removed
    when the interpreter exits, not before: the loaded frame reads it
    lazily.
    """
    sfhash = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    return register_scratch(
        os.path.join(
            "/tmp",
            "dds_artifacts",
            f"{prefix}_{sfhash}_{uuid.uuid4().hex[:8]}",
        )
    )
