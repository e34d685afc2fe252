"""Advanced streaming surface: incremental replay + foreachBatch merge sink.

Closes two round-1 gaps from SURVEY.md §8: true multi-micro-batch execution
(rate-limited file replay via ``maxFilesPerTrigger``) and the foreachBatch
sink pattern (CDC upsert-merge). Both are rows-only for the driver
(micro-batch scheduling is not SQL-expressible); tests assert exact
equality with batch twins. Every query here starts its stream through
:func:`~dataframe_differ_spark.streaming.run_available_now`, passing a
memory sink or a foreachBatch callable.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from dataframe_differ_spark.queries import register
from dataframe_differ_spark.scratch import scratch_path
from dataframe_differ_spark.sources.replay import incremental_events_stream
from dataframe_differ_spark.streaming import run_available_now
from dataframe_differ_spark.streaming.foreach_batch import UpsertMergeSink


@register("stream_replay_incremental")  # rows-only: micro-batch scheduling
def q_stream_replay_incremental(spark, sf_dir):
    """Rate-limited replay: 8 files, 2 per trigger → 4 micro-batches.

    The tumbling-window count accumulates in the state store across all 4
    batches (complete output mode re-emits the merged state each batch);
    the final table must equal the single-batch `window_tumbling` twin —
    proving window state survives micro-batch boundaries. This is the
    local stand-in for continuous Kafka/file-arrival ingestion where
    backpressure (maxFilesPerTrigger / maxBytesPerTrigger) sizes batches.
    """
    s = incremental_events_stream(spark, sf_dir, n_files=8, files_per_trigger=2)
    agg = (
        s.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").alias("window_start"), "event_type", "n_events"
        )
    )
    return run_available_now(agg, "replay", mode="complete")


@register("stream_foreach_batch")  # rows-only: driver-side sink callback
def q_stream_foreach_batch(spark, sf_dir):
    """foreachBatch CDC merge: per-user latest value + running event count.

    Each of the 4 micro-batches is upsert-merged latest-wins into a
    versioned parquet snapshot (UpsertMergeSink) — the pattern for sinks
    Spark has no native format for (JDBC upserts, MERGE INTO). The running
    count is an aggregate no single batch can compute, so the result
    proves state flowed through the sink across batches; tests assert
    equality with the batch max_by twin and that >1 batches were merged.
    """
    base = scratch_path("merge")
    sink = UpsertMergeSink(base, keys=["user_id"])
    s = incremental_events_stream(
        spark, sf_dir, n_files=8, files_per_trigger=2
    ).select("user_id", "ts", "event_id", "value")
    run_available_now(s, "fb", foreach_batch=sink)
    # Older snapshot versions are dead after the final merge; drop them so
    # repeated runs don't accumulate (the live version backs the result).
    for d in os.listdir(base):
        p = os.path.join(base, d)
        if p != sink.current_path:
            shutil.rmtree(p, ignore_errors=True)
    return sink.result(spark).withColumn("n_batches", F.lit(sink.n_batches))


@register("stream_append_finalized")  # rows-only: micro-batch scheduling
def q_stream_append_finalized(spark, sf_dir):
    """Append-mode windowed aggregation over the 4-micro-batch replay:
    a window row is emitted ONLY once the watermark passes its end —
    i.e. the stream outputs FINALIZED windows exactly once.

    This is the semantics sinks without upsert support (Kafka topics,
    append-only files) require: no retractions, no re-emission — and the
    flip sides are latency (a window is withheld until the watermark,
    fed by later batches, closes it), the guarantee that windows still
    open at termination are NEVER emitted, and real LATE-DATA DROP: the
    hash-split replay delivers old events in later batches, and once the
    watermark has passed them they are discarded, so an emitted count
    can be LESS than the batch twin's (the test asserts exactly this
    one-sided relationship). Complete/update modes are exercised by
    `stream_replay_incremental` / `stream_stateful`; this closes the
    third output mode.
    """
    s = incremental_events_stream(spark, sf_dir, n_files=8, files_per_trigger=2)
    agg = (
        s.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").alias("window_start"), "event_type", "n_events"
        )
    )
    return run_available_now(agg, "appendfin")


@register("stream_update_deltas")  # rows-only: micro-batch scheduling
def q_stream_update_deltas(spark, sf_dir):
    """Update-mode windowed aggregation over the 4-micro-batch replay:
    each micro-batch emits ONLY the (window, event_type) groups whose
    aggregate CHANGED in that batch — the per-batch delta an incremental
    sink (key-value store, JDBC upsert) consumes. Completes the output-
    mode matrix: complete = `stream_replay_incremental`, append =
    `stream_append_finalized`, update = this.

    The memory sink cannot attribute rows to batches, so deltas are
    captured via foreachBatch (advanced_streaming's sink pattern): each
    batch's emission is appended to parquet tagged with its batch_id.
    The registered result is what the downstream store would hold after
    replay — the LATEST emission per group (which must equal the batch
    twin; pytest asserts it) — plus emission accounting (n_emissions,
    last_batch) proving groups were re-emitted only when updated, i.e.
    genuinely incremental, not complete-mode re-broadcast.
    """
    s = incremental_events_stream(spark, sf_dir, n_files=8, files_per_trigger=2)
    agg = (
        s.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").alias("window_start"), "event_type", "n_events"
        )
    )
    acc_path = scratch_path("upddelta")

    def record(batch_df, batch_id):
        batch_df.withColumn("batch_id", F.lit(int(batch_id))).write.mode(
            "append"
        ).parquet(acc_path)

    run_available_now(agg, "upd", mode="update", foreach_batch=record)
    acc = spark.read.parquet(acc_path)
    return acc.groupBy("window_start", "event_type").agg(
        F.expr("max_by(n_events, batch_id)").alias("n_events"),
        F.count(F.lit(1)).alias("n_emissions"),
        F.max("batch_id").alias("last_batch"),
    )


# ---------------------------------------------------------------------------
# Streaming ingest x persisted signature store (round 11, VERDICT r10
# missing-item #1: the loop a production ingest actually runs)
# ---------------------------------------------------------------------------


def _run_stream_dedup_persisted(spark, sf_dir):
    """Run the streaming store-loop; return (vs-corpus candidates,
    candidate log path, acceptance log path, store path, params).

    Split out of the registered query so pytest can assert the
    streaming-only mechanisms (store growth, acceptance ordering,
    batch-vs-batch candidate causality) from the run's logs.
    """
    from dataframe_differ_spark.operators.persistence import (
        load_artifact,
        run_scoped_artifact_path,
        save_artifact,
    )
    from dataframe_differ_spark.queries.pipelineops import (
        _IMH_BANDS,
        _IMH_PERM,
        _imh_corpus_batch,
        _imh_probe,
        _imh_sign,
    )
    from dataframe_differ_spark.sources.replay import (
        replay_stream,
        split_frame_files,
    )

    corpus, batch = _imh_corpus_batch(spark, sf_dir)
    params = {"num_perm": _IMH_PERM, "bands": _IMH_BANDS, "shingle_n": 3}

    # Day 0: persist the corpus store (run-scoped path: this stream
    # MUTATES its store, so it must never be shared across runs).
    store_path = run_scoped_artifact_path("mhstream", sf_dir)
    save_artifact(
        _imh_sign(corpus, 3, _IMH_PERM), store_path, "minhash_signatures",
        params=params,
    )

    # The arrival stream: batch docs hash-split into 4 files, one file
    # per trigger -> 4 micro-batches.
    split_dir = split_frame_files(
        "docsbatch", sf_dir, 4, lambda: batch, "doc_id"
    )
    stream = replay_stream(spark, split_dir, 1, batch.schema)

    cand_log = scratch_path("sdp_cand")
    acc_log = scratch_path("sdp_acc")

    # The probe-time store snapshot is carried ACROSS micro-batches:
    # after batch k it is day-0 ∪ accepted_0..k — exactly the content of
    # the store directory, but built from frames each batch already
    # checkpointed, so later batches stop re-reading and re-checkpointing
    # the whole (growing) store from parquet (round 11: the re-load was
    # ~3 full store scans of pure overhead per run; guide §2.4/§5). The
    # disk store is still appended batch-by-batch (the artifact contract
    # and the pytest growth assertions read the DIRECTORY), and
    # `load_artifact(expect_params=...)` still runs on every batch so a
    # store swapped under the stream fails loudly — only its lazy data
    # frame is no longer rescanned.
    cur_store = {"df": None}

    def probe_and_append(bdf, batch_id):
        # (a) sign the micro-batch once (checkpointed: probed AND
        # appended below — computed once, byte-stable across both uses).
        bsig = _imh_sign(
            bdf, params["shingle_n"], params["num_perm"]
        ).localCheckpoint(eager=True)
        # (b) probe the CURRENT store — day-0 corpus plus everything
        # earlier micro-batches appended. The param-drift contract runs
        # on EVERY batch: a store swapped under the stream fails loudly.
        art = load_artifact(
            spark, store_path, "minhash_signatures", expect_params=params
        )
        if cur_store["df"] is None:
            cur_store["df"] = art.df.localCheckpoint(eager=True)
        store_df = cur_store["df"]
        cands = (
            _imh_probe(store_df, bsig, params["num_perm"], params["bands"])
            .withColumn(
                "vs_corpus",
                (F.col("corpus_id") % 10 < 8) & (F.col("corpus_id") < 300000),
            )
            .localCheckpoint(eager=True)  # consumed twice below
        )
        cands.withColumn("micro_batch", F.lit(int(batch_id))).write.mode(
            "append"
        ).parquet(cand_log)
        # (c) acceptance vs the DAY-0 corpus side only (batching-
        # invariant: the corpus side never changes, so accept/reject is
        # independent of how arrivals were packed into micro-batches);
        # append accepted docs' signatures to the store.
        dup_ids = (
            cands.filter(F.col("vs_corpus") & (F.col("est_jaccard") >= 0.5))
            .select(F.col("batch_id").alias("doc_id"))
            .distinct()
        )
        accepted = bsig.join(dup_ids, "doc_id", "left_anti").localCheckpoint(
            eager=True
        )
        accepted.write.mode("append").parquet(f"{store_path}/data")
        accepted.select("doc_id").distinct().withColumn(
            "micro_batch", F.lit(int(batch_id))
        ).write.mode("append").parquet(acc_log)
        # Next batch's probe-time snapshot: store ∪ this batch's accepted
        # signatures — identical content to re-reading the appended
        # directory, without the re-read.
        cur_store["df"] = store_df.unionByName(accepted)

    run_available_now(stream, "sdp", foreach_batch=probe_and_append)

    result = (
        spark.read.parquet(cand_log)
        .filter(F.col("vs_corpus"))
        .select("batch_id", "corpus_id", "est_jaccard")
    )
    return result, cand_log, acc_log, store_path, params


def _register_stream_dedup_persisted():
    # The oracle is the batch twin's (import here: pipelineops is a
    # sibling query module, and decorating at module top would import
    # it before the registry finishes loading this module).
    from dataframe_differ_spark.queries.pipelineops import _INCR_MH_SQL

    @register("stream_dedup_persisted", oracle=_INCR_MH_SQL)
    def q_stream_dedup_persisted(spark, sf_dir):
        """STREAMING ingest against the persisted MinHash signature
        store — the loop a production ingest actually runs (round 11):
        each micro-batch of arriving documents (a) signs itself with
        the STORE's params (`expect_params` pins them on every batch),
        (b) LSH-probes the CURRENT store — day-0 corpus plus everything
        earlier micro-batches appended, (c) appends its accepted
        (non-duplicate) docs' signatures to the store, (d) logs its
        candidates and acceptances. `dedup_incremental_persisted` is
        the batch twin: the one-shot probe of the same batch against
        the same day-0 store.

        The registered output is the vs-CORPUS candidate table, which
        is provably batching-invariant (signatures are pure per-doc
        functions; the corpus side of the store never changes; each doc
        arrives exactly once) — so unlike the other `stream_*` queries
        it carries the batch twin's FULL DuckDB oracle: the driver
        itself verifies that streaming the ingest changes nothing about
        the dedup verdicts. The streaming-only surplus — candidates
        against earlier batches' appended docs, acceptance ordering,
        store growth (final store = corpus + accepted signatures,
        append≡re-sign at micro-batch granularity) — is asserted in
        pytest from the per-batch logs.

        Acceptance is judged against the DAY-0 corpus side only
        (est ≥ 0.5 → duplicate), making accept/reject independent of
        micro-batch packing — the property that makes this output
        reproducible on any re-partitioning of the arrival stream. At
        100 TB this is the Kafka-consumer shape: store on object
        storage; probe = equi band-join of one micro-batch's signatures
        against the store; append = one parquet commit per batch;
        `compact_artifact` (dedup_store_compacted) is its weekend
        maintenance job.
        """
        result, _, _, _, _ = _run_stream_dedup_persisted(spark, sf_dir)
        return result

    return q_stream_dedup_persisted


q_stream_dedup_persisted = _register_stream_dedup_persisted()

# ---------------------------------------------------------------------------
# Streaming ingest x persisted ANN index (round 11): the vector sibling of
# stream_dedup_persisted — arriving embeddings assigned to yesterday's
# persisted IVF quantizer, drift stats accumulated exactly across batches.
# ---------------------------------------------------------------------------


def _register_stream_ann_ingest():
    from dataframe_differ_spark.functions.vector import SQL_DOT
    from dataframe_differ_spark.queries.vectors import (
        _ADR_DRIFT_SQL_CTES,
        _ADR_K,
        _adr_assign_sql,
        _adr_cent_sql,
    )

    oracle = _ADR_DRIFT_SQL_CTES + f"""\
{_adr_cent_sql('oldc', 'o_')},{_adr_assign_sql('drift', 'o_cent', 'asg')},
dots AS (
  SELECT a.cluster_id, {SQL_DOT('c.ce', 'a.e')} AS dot
  FROM asg a JOIN o_cent c ON c.cluster_id = a.cluster_id)
SELECT cluster_id,
       CAST(COUNT(*) AS BIGINT) AS n_assigned,
       ROUND(CAST(SUM(CAST(FLOOR(dot * 1000000.0) AS BIGINT)) AS DOUBLE)
             / COUNT(*) / 1000000.0, 9) AS mean_dot
FROM dots GROUP BY cluster_id
"""

    @register("stream_ann_ingest", oracle=oracle)
    def q_stream_ann_ingest(spark, sf_dir):
        """STREAMING vector ingest against the PERSISTED IVF quantizer —
        the ANN sibling of `stream_dedup_persisted`: yesterday's corpus
        trains the coarse quantizer (the `ann_drift_refresh` stale
        index, shared session-cached build), the centroids persist as
        an `ivf_centroids` artifact, and today's DRIFTED arrivals
        stream in 4 micro-batches, each one (a) loading the artifact
        with `expect_params` (n_clusters/dim pinned — a re-trained
        store with different K fails loudly mid-stream), (b) assigning
        its vectors to their max-dot centroid (broadcast K-row
        crossJoin — map-only, zero shuffle of the arrivals), and (c)
        appending PARTIAL per-cluster aggregates to the monitor log:
        (cluster_id, n, FLOOR-micro BIGINT dot sum). The registered
        output merges the partials: per-cluster arrival count and mean
        assignment similarity.

        The FLOOR-micro device is what makes the streaming monitor
        EXACT, not approximate: integer partial sums merge
        associatively across micro-batches, so the streamed per-cluster
        means are bit-identical to the one-shot batch computation — and
        the query carries a full DuckDB oracle (Lloyd chain + assign +
        the same micro-unit mean) to prove it. This is the production
        drift monitor an un-refreshed index runs on ingest: arrivals
        concentrating into few clusters with falling mean_dot is the
        retrain trigger `ann_drift_refresh` then acts on.

        100 TB: the quantizer is K~√N rows (broadcast); each
        micro-batch is map-only + a K-group partial aggregate; the
        monitor log grows by ≤K rows per batch. No corpus-sized state
        anywhere.
        """
        from dataframe_differ_spark.functions.vector import dot
        from dataframe_differ_spark.operators.persistence import (
            load_artifact,
            run_scoped_artifact_path,
            save_artifact,
        )
        from dataframe_differ_spark.operators.similarity import (
            assign_clusters,
        )
        from dataframe_differ_spark.queries.vectors import (
            _adr_fixture,
            _adr_indexes_cached,
        )
        from dataframe_differ_spark.sources.replay import (
            replay_stream,
            split_frame_files,
        )

        params = {"n_clusters": _ADR_K, "dim": 64}
        cent_old, _, _, _ = _adr_indexes_cached(spark, sf_dir)
        store_path = run_scoped_artifact_path("ivfstream", sf_dir)
        save_artifact(cent_old, store_path, "ivf_centroids", params=params)

        _, drifted = _adr_fixture(spark, sf_dir)
        split_dir = split_frame_files(
            "embdrift", sf_dir, 4, lambda: drifted, "vec_id"
        )
        stream = replay_stream(spark, split_dir, 1, drifted.schema)

        mon_log = scratch_path("sai_mon")

        def assign_and_monitor(bdf, batch_id):
            art = load_artifact(
                spark, store_path, "ivf_centroids", expect_params=params
            )
            asg = assign_clusters(bdf, art.df, "vec_id", "e")
            part = (
                asg.join(F.broadcast(art.df), "cluster_id")
                .withColumn("_sai_dot", dot("ce", "e"))
                .groupBy("cluster_id")
                .agg(
                    F.count(F.lit(1)).cast("long").alias("n"),
                    F.sum(
                        F.floor(F.col("_sai_dot") * F.lit(1000000.0)).cast(
                            "bigint"
                        )
                    ).alias("micro_sum"),
                )
                .withColumn("micro_batch", F.lit(int(batch_id)))
            )
            part.write.mode("append").parquet(mon_log)

        run_available_now(stream, "sai", foreach_batch=assign_and_monitor)

        mon = spark.read.parquet(mon_log)
        return mon.groupBy("cluster_id").agg(
            F.sum("n").cast("long").alias("n_assigned"),
            F.round(
                F.sum("micro_sum").cast("double")
                / F.sum("n")
                / F.lit(1000000.0),
                9,
            ).alias("mean_dot"),
        )

    return q_stream_ann_ingest


q_stream_ann_ingest = _register_stream_ann_ingest()
