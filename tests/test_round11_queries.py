"""Round-11 mechanism tests: the streaming store-loop's streaming-only
surplus (store growth, acceptance ordering, batch-vs-batch candidate
causality) that the registered output's full oracle cannot see, plus the
connected-components lifecycle guards."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _rows(df):
    return sorted(map(tuple, df.collect()))


@pytest.fixture(scope="module")
def sdp_run(spark, sf_small):
    from dataframe_differ_spark.queries.advanced_streaming import (
        _run_stream_dedup_persisted,
    )

    result, cand_log, acc_log, store_path, params = (
        _run_stream_dedup_persisted(spark, sf_small)
    )
    return {
        "result": result,
        "cands": spark.read.parquet(cand_log),
        "acc": spark.read.parquet(acc_log),
        "store_path": store_path,
        "params": params,
    }


def test_stream_dedup_persisted_equals_batch_twin(spark, sf_small, sdp_run):
    """vs-corpus candidates must be IDENTICAL to the one-shot batch
    probe of the same split against the same day-0 store — streaming
    the ingest changes nothing about the dedup verdicts."""
    from dataframe_differ_spark.queries import load_all

    twin = load_all()["dedup_incremental_persisted"].fn(spark, sf_small)
    assert _rows(
        sdp_run["result"].select("batch_id", "corpus_id", "est_jaccard")
    ) == _rows(twin.select("batch_id", "corpus_id", "est_jaccard"))


def test_stream_dedup_persisted_ran_multiple_batches(sdp_run):
    """4 one-file triggers -> every micro-batch must have probed, and
    acceptances must land in more than one batch (otherwise the
    'incremental' loop degenerated to a single batch)."""
    cand_batches = {
        r.micro_batch
        for r in sdp_run["cands"].select("micro_batch").distinct().collect()
    }
    acc_batches = {
        r.micro_batch
        for r in sdp_run["acc"].select("micro_batch").distinct().collect()
    }
    assert len(acc_batches) >= 2
    assert cand_batches  # at least one batch found candidates
    assert max(acc_batches) > min(acc_batches)


def test_stream_dedup_persisted_store_equals_batch_path(
    spark, sf_small, sdp_run
):
    """Final store contents == corpus signatures + a ONE-SHOT re-sign of
    exactly the accepted docs: append≡re-sign holds at micro-batch
    granularity, so the streamed store is the same artifact the batch
    day-N path would have produced."""
    from dataframe_differ_spark.operators.persistence import load_artifact
    from dataframe_differ_spark.queries.pipelineops import (
        _IMH_PERM,
        _imh_corpus_batch,
        _imh_sign,
    )

    art = load_artifact(
        spark,
        sdp_run["store_path"],
        "minhash_signatures",
        expect_params=sdp_run["params"],
    )
    corpus, batch = _imh_corpus_batch(spark, sf_small)
    accepted_ids = sdp_run["acc"].select("doc_id").distinct()
    expected = _imh_sign(corpus, 3, _IMH_PERM).unionByName(
        _imh_sign(batch.join(accepted_ids, "doc_id"), 3, _IMH_PERM)
    )
    assert _rows(art.df.select("doc_id", "j", "s")) == _rows(
        expected.select("doc_id", "j", "s")
    )


def test_stream_dedup_persisted_batch_vs_batch_causality(sdp_run):
    """Every candidate against an APPENDED doc (non-vs_corpus) must
    point at a doc accepted in a STRICTLY earlier micro-batch — the
    store can only ever contain what was ingested before you."""
    bb = sdp_run["cands"].filter(~F.col("vs_corpus"))
    acc = sdp_run["acc"].select(
        F.col("doc_id").alias("corpus_id"),
        F.col("micro_batch").alias("acc_batch"),
    )
    joined = bb.join(acc, "corpus_id", "left").collect()
    assert all(r.acc_batch is not None for r in joined)
    assert all(r.acc_batch < r.micro_batch for r in joined)


def test_connected_components_checkpoint_every_validation(spark):
    from dataframe_differ_spark.operators.dedup import connected_components

    edges = spark.createDataFrame([(1, 2)], ["src", "dst"])
    for bad in (0, -1):
        with pytest.raises(ValueError, match="checkpoint_every"):
            connected_components(edges, checkpoint_every=bad)
    # cadence > 1 with the aliased self-joins still converges correctly
    out = connected_components(
        spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11)], ["src", "dst"]
        ),
        checkpoint_every=3,
    )
    got = {(r.v, r.component_id) for r in out.collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}


def test_stream_ann_ingest_partials_merge_exactly(spark, sf_small):
    """The monitor log must hold PARTIAL per-cluster aggregates from >1
    micro-batches, and the registered output (merged partials) must be
    bit-identical to a one-shot batch assignment of all arrivals — the
    FLOOR-micro BIGINT device's streaming-exactness claim."""
    from dataframe_differ_spark.functions.vector import dot
    from dataframe_differ_spark.operators.similarity import assign_clusters
    from dataframe_differ_spark.queries import load_all
    from dataframe_differ_spark.queries.vectors import (
        _adr_fixture,
        _adr_indexes_cached,
    )

    out = load_all()["stream_ann_ingest"].fn(spark, sf_small)
    cent_old, _, _, _ = _adr_indexes_cached(spark, sf_small)
    _, drifted = _adr_fixture(spark, sf_small)
    asg = assign_clusters(drifted, cent_old, "vec_id", "e")
    batch = (
        asg.join(F.broadcast(cent_old), "cluster_id")
        .withColumn("_t_dot", dot("ce", "e"))
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_assigned"),
            F.round(
                F.sum(
                    F.floor(F.col("_t_dot") * F.lit(1000000.0)).cast("bigint")
                ).cast("double")
                / F.count(F.lit(1))
                / F.lit(1000000.0),
                9,
            ).alias("mean_dot"),
        )
    )
    assert _rows(out) == _rows(batch)
    # arrivals actually spanned multiple micro-batches: with 4 one-file
    # triggers over a hash split, the drifted set cannot fit one batch
    assert out.agg(F.sum("n_assigned")).collect()[0][0] == drifted.count()


def test_session_cached_checkpoints_every_frame_and_drops_lock(spark):
    """Every frame a builder returns is checkpointed eagerly inside
    `session_cached`, a lazily-cut one included: it analyzes to a bare
    LogicalRDD like a materialized frame, so passing it through would
    leave its build to the first consumer, outside the key's lock. A
    key's build lock is dropped once its cache slot is populated."""
    from dataframe_differ_spark.operators import session_cache as sc

    key = ("session_cached_test_chain", "x")
    lazy_cut = spark.range(5).localCheckpoint(eager=False)
    lazy = spark.range(3).selectExpr("id * 2 AS id")
    ctx = spark.sparkContext
    group = "session_cached_test_build"
    ctx.setJobGroup(group, group)
    try:
        got = sc.session_cached(spark, key, lambda: (lazy_cut, lazy))
    finally:
        ctx.setLocalProperty("spark.jobGroup.id", None)
    assert got[0] is not lazy_cut
    assert got[1] is not lazy
    # one materialization job per frame ran inside session_cached
    assert len(ctx.statusTracker().getJobIdsForGroup(group)) >= 2
    assert sorted(r.id for r in got[0].collect()) == [0, 1, 2, 3, 4]
    assert sorted(r.id for r in got[1].collect()) == [0, 2, 4]
    # the per-key lock entry is gone once the slot is populated
    assert key not in sc._KEY_LOCKS.get(spark, {})
    # second call is a pure cache hit
    assert sc.session_cached(spark, key, lambda: 1 / 0) is got


def test_ivf_index_and_copurchase_edges_use_session_cache(spark, sf_small):
    """The IVF quantizer and the co-purchase edge list live in the one
    per-session frame cache: emptying it for the session (a cold run)
    makes both rebuild into new frames with the same rows, under keys
    that show up in `session_cache._CACHE`."""
    import os

    from dataframe_differ_spark.operators import session_cache as sc
    from dataframe_differ_spark.queries.composites import copurchase_edges
    from dataframe_differ_spark.queries.vectors import _ivf_index_cached

    def build():
        return (copurchase_edges(spark, sf_small),) + tuple(
            _ivf_index_cached(spark, sf_small, 16)
        )

    before = build()
    sc._CACHE.pop(spark, None)
    after = build()
    for old, new in zip(before, after):
        assert new is not old
        assert _rows(new) == _rows(old)
    keys = set(sc._CACHE[spark])
    assert ("copurchase_edges", os.path.abspath(sf_small)) in keys
    assert ("ivf_index", os.path.abspath(sf_small), 16) in keys
    assert copurchase_edges(spark, sf_small) is after[0]


def test_weak_session_caches_only_in_session_cache_and_tables():
    # session_cached is the one per-session frame cache; tables keeps its
    # scan-plan cache. A WeakKeyDictionary anywhere else is a hand-rolled
    # cache that session-cache resets and counters would miss.
    import ast
    import pathlib

    import dataframe_differ_spark

    root = pathlib.Path(dataframe_differ_spark.__file__).parent

    def weak_dicts(tree):
        return any(
            isinstance(n, ast.Call)
            and getattr(n.func, "attr", getattr(n.func, "id", None))
            == "WeakKeyDictionary"
            for n in ast.walk(tree)
        )

    users = {
        p.relative_to(root).as_posix()
        for p in root.rglob("*.py")
        if weak_dicts(ast.parse(p.read_text()))
    }
    assert users == {"operators/session_cache.py", "tables.py"}


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_hyp = settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)


@_hyp
@given(
    n_rows=st.integers(min_value=1, max_value=40),
    dup_mask=st.lists(st.booleans(), min_size=1, max_size=5),
    n_files=st.integers(min_value=1, max_value=3),
)
def test_compact_artifact_property(spark, tmp_path_factory, n_rows, dup_mask, n_files):
    """For ANY base store, ANY append pattern (each chunk optionally
    replayed), and ANY target shard count: compaction preserves the
    distinct row set, removes exactly the duplicates, keeps params, and
    is idempotent (a second compaction is a no-op on content)."""
    from pyspark.sql import functions as F

    from dataframe_differ_spark.operators.persistence import (
        compact_artifact,
        load_artifact,
        save_artifact,
    )

    p = str(tmp_path_factory.mktemp("cmp") / "store")
    params = {"num_perm": 4, "bands": 2, "shingle_n": 3}
    base = spark.range(n_rows).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 4).cast("int").alias("j"),
        (F.col("id") * 13 % 97).alias("s"),
    )
    save_artifact(base, p, "minhash_signatures", params=params)
    expected = n_rows
    for k, replay in enumerate(dup_mask):
        chunk = spark.range(n_rows, n_rows + 3).select(
            (F.col("id") + 100 * (k + 1)).alias("doc_id"),
            F.lit(k).cast("int").alias("j"),
            F.lit(7).cast("long").alias("s"),
        )
        for _ in range(2 if replay else 1):
            chunk.write.mode("append").parquet(f"{p}/data")
        expected += 3

    before = load_artifact(spark, p, "minhash_signatures")
    distinct_rows = _rows(before.df.distinct())
    stats = compact_artifact(
        spark, p, "minhash_signatures", num_files=n_files
    )
    assert stats.rows_after == expected == len(distinct_rows)
    assert stats.files_after <= max(n_files, stats.files_before)
    after = load_artifact(spark, p, "minhash_signatures")
    assert after.params == params
    assert _rows(after.df) == distinct_rows
    # idempotence: compacting an already-compact store changes nothing
    stats2 = compact_artifact(
        spark, p, "minhash_signatures", num_files=n_files
    )
    assert stats2.rows_before == stats2.rows_after == expected
    assert _rows(load_artifact(spark, p, "minhash_signatures").df) == (
        distinct_rows
    )
