"""Cross-cutting query invariants (SURVEY.md §5.3): streaming twins equal
batch results, LSH recall vs brute force, registry hygiene."""

from __future__ import annotations

import pytest

from dataframe_differ_spark.queries import load_all


@pytest.fixture(scope="module")
def registry():
    return load_all()


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_registry_complete(registry):
    # Every query is callable; oracles are non-empty SQL strings.
    assert len(registry) >= 50
    for name, q in registry.items():
        assert callable(q.fn), name
        if q.oracle is not None:
            assert "SELECT" in q.oracle.upper(), name


def test_scale_path_contract(registry):
    # Bounded exact verifiers (brute all-pairs forms kept to ground-truth a
    # sub-linear sibling) must name their declared 100 TB scale path, and
    # that name must be a registered query (round-2 verdict item #4: no
    # registered query may be quadratic-unbounded without a declared
    # sibling). NOTE the limit of this guard: it validates every PRESENT
    # annotation and pins the three known verifiers — it cannot detect a
    # NEW unbounded all-pairs query that ships with scale_path=None
    # (quadratic-ness isn't machine-checkable here); that remains a
    # review-time obligation, enforced by tools/scale_probe.py ratios.
    for name, q in registry.items():
        if q.scale_path is not None:
            assert q.scale_path in registry, (
                f"{name}: scale_path {q.scale_path!r} is not a registered query"
            )
            assert q.scale_path != name, f"{name}: scale_path is itself"
    expected_verifiers = {
        "sim_join",
        "knn_classify",
        "sim_topk",
        # round-4: global-window exact forms now declare their shipped
        # two-phase distributed-rank siblings (rankops.py)
        "agg_histogram_equidepth",
        "layout_zorder",
        "diff_quantile_drift",
        "orders_rfm",
        "revenue_pareto",
    }
    annotated = {n for n, q in registry.items() if q.scale_path is not None}
    assert expected_verifiers <= annotated, (
        f"missing scale_path annotations: {expected_verifiers - annotated}"
    )


def test_golden_covers_every_query(registry):
    # The r1 postmortem: two queries shipped without ever being executed
    # because nothing asserted golden coverage == registry. Now it does.
    import json
    import os

    golden_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "golden_sf0001.json",
    )
    with open(golden_path) as f:
        golden = json.load(f)
    missing = sorted(set(registry) - set(golden))
    assert not missing, f"queries with no golden entry: {missing}"


def test_stream_tumbling_equals_batch_twin(spark, sf_small, registry):
    batch = registry["window_tumbling"].fn(spark, sf_small)
    stream = registry["stream_tumbling"].fn(spark, sf_small)
    b = _rows(
        batch.selectExpr(
            "CAST(window_start AS STRING) ws", "event_type", "n_events"
        ),
        ["ws", "event_type", "n_events"],
    )
    s = _rows(
        stream.selectExpr(
            "CAST(window_start AS STRING) ws", "event_type", "n_events"
        ),
        ["ws", "event_type", "n_events"],
    )
    assert b == s


def test_stream_dedup_equals_batch_distinct(spark, sf_small, registry):
    from dataframe_differ_spark.tables import load_table

    stream = registry["stream_dedup"].fn(spark, sf_small)
    batch = (
        load_table(spark, sf_small, "events")
        .dropDuplicates(["event_id"])
        .groupBy("event_type")
        .count()
    )
    s = _rows(stream, ["event_type", "n_events"])
    b = _rows(batch.withColumnRenamed("count", "n_events"), ["event_type", "n_events"])
    assert s == b


def test_lsh_recall_vs_brute_force(spark, sf_small, registry):
    brute = registry["sim_topk"].fn(spark, sf_small)
    lsh = registry["sim_topk_lsh"].fn(spark, sf_small)
    truth = {(r["query_id"], r["vec_id"]) for r in brute.collect()}
    approx = {(r["query_id"], r["vec_id"]) for r in lsh.collect()}
    recall = len(truth & approx) / len(truth)
    # 4 bands × 4 bits on unit vectors: generous candidate sets; require a
    # meaningful floor so a broken signature computation fails loudly.
    assert recall >= 0.5, f"LSH recall too low: {recall:.2f}"


def test_stream_stateful_totals(spark, sf_small, registry):
    from pyspark.sql import functions as F

    from dataframe_differ_spark.tables import load_table

    out = registry["stream_stateful"].fn(spark, sf_small)
    total = out.agg(F.sum("n_events")).collect()[0][0]
    assert total == load_table(spark, sf_small, "events").count()


def test_minhash_recovers_planted_dups(spark, sf_small, registry):
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in registry["dedup_near"].fn(spark, sf_small).collect()
    }
    planted = {
        (r["doc_id"], r["doc_id"] + 100000)
        for r in spark.read.parquet(f"{sf_small}/documents.parquet")
        .filter("doc_id % 13 = 0")
        .select("doc_id")
        .collect()
    }
    recall = len(planted & pairs) / len(planted)
    # LSH is probabilistic by design; 6 bands x 2 rows gives ~98% capture
    # even for the shortest planted dup (j~0.7), ~100% for typical ones.
    assert recall >= 0.9, f"MinHash-LSH recall too low: {recall:.2f}"


def test_simhash_recovers_planted_dups(spark, sf_small, registry):
    out = registry["dedup_simhash"].fn(spark, sf_small)
    pairs = {(r["doc_a"], r["doc_b"]) for r in out.collect()}
    planted = {
        (r["doc_id"], r["doc_id"] + 100000)
        for r in spark.read.parquet(f"{sf_small}/documents.parquet")
        .filter("doc_id % 13 = 0")
        .select("doc_id")
        .collect()
    }
    recall = len(planted & pairs) / len(planted)
    assert recall >= 0.8, f"SimHash recall too low: {recall:.2f}"


def test_stream_sliding_equals_batch_twin(spark, sf_small, registry):
    batch = registry["window_sliding"].fn(spark, sf_small)
    stream = registry["stream_sliding"].fn(spark, sf_small)
    b = _rows(
        batch.selectExpr("CAST(window_start AS STRING) ws", "n_events"),
        ["ws", "n_events"],
    )
    s = _rows(
        stream.selectExpr("CAST(window_start AS STRING) ws", "n_events"),
        ["ws", "n_events"],
    )
    assert b == s


def test_stream_session_equals_batch_twin(spark, sf_small, registry):
    batch = registry["window_session"].fn(spark, sf_small)
    stream = registry["stream_session"].fn(spark, sf_small)
    b = _rows(
        batch.selectExpr(
            "user_id", "CAST(session_start AS STRING) ss", "n_events"
        ),
        ["user_id", "ss", "n_events"],
    )
    s = _rows(
        stream.selectExpr(
            "user_id", "CAST(session_start AS STRING) ss", "n_events"
        ),
        ["user_id", "ss", "n_events"],
    )
    assert b == s


def test_stream_sink_parquet_equals_batch(spark, sf_small, registry):
    from dataframe_differ_spark.tables import load_table

    out = registry["stream_sink_parquet"].fn(spark, sf_small).collect()
    batch_n = (
        load_table(spark, sf_small, "events")
        .filter("event_type = 'purchase'")
        .count()
    )
    assert len(out) == 1
    assert out[0]["n_events"] == batch_n
    assert out[0]["n_distinct_events"] == batch_n


def test_stream_cdc_diff_all_unchanged(spark, sf_small, registry):
    rows = registry["stream_cdc_diff"].fn(spark, sf_small).collect()
    assert {r["diff_status"] for r in rows} == {"N"}, rows


def test_dedup_clusters_structure(spark, sf_small, registry):
    out = {r["component_id"]: r["cluster_size"]
           for r in registry["dedup_clusters"].fn(spark, sf_small).collect()}
    planted = [
        r["doc_id"]
        for r in spark.read.parquet(f"{sf_small}/documents.parquet")
        .filter("doc_id % 13 = 0")
        .select("doc_id")
        .collect()
    ]
    # every planted chain doc -> +100000 -> +200000 is one component of 3,
    # labeled by its minimum member (the original doc id)
    assert out == {d: 3 for d in planted}


def test_stream_replay_incremental_equals_batch_twin(spark, sf_small, registry):
    # Rate-limited replay (4 micro-batches) must converge to the same
    # windowed counts as the single-batch twin.
    batch = registry["window_tumbling"].fn(spark, sf_small)
    stream = registry["stream_replay_incremental"].fn(spark, sf_small)
    cols = ["ws", "event_type", "n_events"]
    sel = lambda df: _rows(
        df.selectExpr("CAST(window_start AS STRING) ws", "event_type", "n_events"),
        cols,
    )
    assert sel(batch) == sel(stream)


def test_stream_foreach_batch_merges_across_batches(spark, sf_small, registry):
    from pyspark.sql import functions as F

    from dataframe_differ_spark.tables import load_table

    out = registry["stream_foreach_batch"].fn(spark, sf_small)
    # The merge must have crossed micro-batch boundaries.
    assert out.agg(F.max("n_batches")).first()[0] > 1
    twin = (
        load_table(spark, sf_small, "events")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy("user_id")
        .agg(
            F.expr("max_by(value, struct(ts, event_id))").alias("last_value"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    cols = ["user_id", "last_value", "n_events"]
    assert _rows(out.select(*cols), cols) == _rows(twin.select(*cols), cols)


def test_upsert_merge_sink_replayed_batch_is_idempotent(spark, tmp_path):
    # A foreachBatch micro-batch replayed after a restart arrives with the
    # same batch_id; the sink must leave the table as if it ran once.
    from datetime import datetime

    from dataframe_differ_spark.streaming.foreach_batch import UpsertMergeSink

    schema = "user_id bigint, ts timestamp, event_id bigint, value double"
    b0 = spark.createDataFrame(
        [(1, datetime(2024, 1, 1, 0), 1, 1.0), (2, datetime(2024, 1, 1, 0), 2, 2.0)],
        schema,
    )
    b1 = spark.createDataFrame([(1, datetime(2024, 1, 1, 1), 3, 3.0)], schema)
    cols = ["user_id", "last_value", "last_ts", "last_event_id", "n_events"]

    def run(name, batches):
        sink = UpsertMergeSink(str(tmp_path / name), keys=["user_id"])
        for batch_id, df in batches:
            sink(df, batch_id)
        return _rows(sink.result(spark), cols), sink.n_batches

    once = run("once", [(0, b0), (1, b1)])
    replayed = run("replayed", [(0, b0), (1, b1), (1, b1)])
    assert replayed == once
    assert once[1] == 2 and dict((r[0], r[4]) for r in once[0]) == {1: 2, 2: 1}


def test_upsert_merge_sink_fresh_sink_merges_onto_disk_version(spark, tmp_path):
    # After a restart a NEW sink on the same dir has seen no batch: it must
    # derive the snapshot schema from the batch frame alone, read v00000
    # from disk and merge batch 1 onto it exactly as a single sink does.
    from datetime import datetime

    from dataframe_differ_spark.streaming.foreach_batch import UpsertMergeSink

    schema = "user_id bigint, ts timestamp, event_id bigint, value double"
    b0 = spark.createDataFrame(
        [(1, datetime(2024, 1, 1, 0), 1, 1.0), (2, datetime(2024, 1, 1, 0), 2, 2.0)],
        schema,
    )
    b1 = spark.createDataFrame(
        [(1, datetime(2024, 1, 1, 1), 3, 3.0), (3, datetime(2024, 1, 1, 2), 4, 4.0)],
        schema,
    )
    cols = ["user_id", "last_value", "last_ts", "last_event_id", "n_events"]

    single = UpsertMergeSink(str(tmp_path / "single"), keys=["user_id"])
    single(b0, 0)
    single(b1, 1)

    restarted_dir = str(tmp_path / "restarted")
    UpsertMergeSink(restarted_dir, keys=["user_id"])(b0, 0)
    fresh = UpsertMergeSink(restarted_dir, keys=["user_id"])
    fresh(b1, 1)

    want, got = single.result(spark), fresh.result(spark)
    assert got.schema == want.schema
    assert _rows(got, cols) == _rows(want, cols)
    assert dict((r[0], r[4]) for r in _rows(got, cols)) == {1: 2, 2: 1, 3: 1}


def test_replay_stream_schema_equals_parquet_read_of_split(
    spark, sf_small, tmp_path
):
    # The stream schema is the split frame's, made nullable, with no read
    # of the files; it must be exactly what a parquet read reports.
    from dataframe_differ_spark.sources.replay import (
        incremental_events_stream,
        replay_stream,
        split_events_files,
    )

    path = split_events_files(spark, sf_small, 8)
    stream = incremental_events_stream(spark, sf_small, n_files=8)
    assert stream.schema == spark.read.parquet(path).schema

    # spark.range's id is NOT NULL; a parquet read reports it nullable.
    src = str(tmp_path / "range")
    spark.range(10).write.parquet(src)
    stream = replay_stream(spark, src, 1, spark.range(10).schema)
    assert stream.schema == spark.read.parquet(src).schema


def test_ivf_recall_vs_brute_force(spark, sf_small, registry):
    brute = registry["sim_topk"].fn(spark, sf_small)
    ivf = registry["sim_topk_ivf"].fn(spark, sf_small)
    truth = {(r["query_id"], r["vec_id"]) for r in brute.collect()}
    approx = {(r["query_id"], r["vec_id"]) for r in ivf.collect()}
    recall = len(truth & approx) / len(truth)
    # nprobe=6/16 on near-random embeddings (IVF's worst case) measured
    # ~0.7; require a floor so broken assignment/probing fails loudly.
    assert recall >= 0.55, f"IVF recall too low: {recall:.2f}"


def test_sim_join_lsh_recall_vs_exact(spark, sf_small, registry):
    # The LSH-blocked similarity join (the declared H4 scale path) must
    # recover >= 95% of the true pairs at cosine >= 0.9. Exact truth is
    # brute-forced here on the same planted pool.
    from pyspark.sql import functions as F

    from dataframe_differ_spark.queries.vectors import _SJL_NOISE, _emb_double

    e = _emb_double(spark, sf_small).select("vec_id", "e")
    noise = _SJL_NOISE.format(vid="vec_id", i="i")
    planted = e.filter(F.col("vec_id") % 7 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.expr(f"transform(e, (x, i) -> x + {noise})").alias("e"),
    )
    pool = e.unionByName(planted)
    a = pool.select(F.col("vec_id").alias("vec_a"), F.col("e").alias("ea"))
    b = pool.select(F.col("vec_id").alias("vec_b"), F.col("e").alias("eb"))
    cos = F.expr(
        "aggregate(zip_with(ea, eb, (x, y) -> x * y), CAST(0.0 AS DOUBLE), "
        "(acc, v) -> acc + v) / (sqrt(aggregate(zip_with(ea, ea, (x, y) -> x * y), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)) * "
        "sqrt(aggregate(zip_with(eb, eb, (x, y) -> x * y), CAST(0.0 AS DOUBLE), "
        "(acc, v) -> acc + v)))"
    )
    exact = {
        (r.vec_a, r.vec_b)
        for r in a.join(b, F.col("vec_a") < F.col("vec_b"))
        .withColumn("cos", cos)
        .filter(F.col("cos") >= 0.9)
        .collect()
    }
    lsh = {
        (r.vec_a, r.vec_b)
        for r in registry["sim_join_lsh"].fn(spark, sf_small).collect()
    }
    assert exact, "planted pool produced no true pairs"
    assert lsh <= exact, "LSH join emitted a pair below the threshold"
    recall = len(lsh & exact) / len(exact)
    assert recall >= 0.95, f"LSH sim-join recall too low: {recall:.2f}"


def test_knn_ivf_agreement_vs_brute(spark, sf_small, registry):
    brute = {
        r.query_id: r.pred_label
        for r in registry["knn_classify"].fn(spark, sf_small).collect()
    }
    ivf = {
        r.query_id: r.pred_label
        for r in registry["knn_classify_ivf"].fn(spark, sf_small).collect()
    }
    # The brute verifier is bounded to vec_id < 500 (fixed query-set cap —
    # round-3); IVF classifies the full held-out set, so brute ⊆ ivf.
    assert set(brute) <= set(ivf)
    assert brute, "bounded verifier produced no predictions"
    # On near-random embeddings (IVF's worst case) nprobe=6/16 measured
    # 0.61 label agreement; floor so broken candidate routing fails loudly.
    agree = sum(1 for k in brute if ivf[k] == brute[k]) / len(brute)
    assert agree >= 0.5, f"IVF kNN agreement too low: {agree:.2f}"


def test_stream_static_join_equals_batch_twin(spark, sf_small, registry):
    from pyspark.sql import functions as F

    from dataframe_differ_spark.tables import load_table

    out = registry["stream_static_join"].fn(spark, sf_small)
    e = load_table(spark, sf_small, "events")
    cohorts = e.groupBy("user_id").agg(
        F.weekofyear(F.min(F.to_date(F.col("ts").cast("timestamp")))).alias(
            "cohort_week"
        )
    )
    twin = (
        e.withColumn("ts", F.col("ts").cast("timestamp"))
        .filter(F.col("event_type") == "purchase")
        .join(cohorts, "user_id")
        .groupBy("cohort_week")
        .agg(F.count(F.lit(1)).alias("n_purchases"))
    )
    cols = ["cohort_week", "n_purchases"]
    assert _rows(out.select(*cols), cols) == _rows(twin.select(*cols), cols)


def test_stream_dedup_watermarked_equals_batch_distinct(spark, sf_small, registry):
    from dataframe_differ_spark.tables import load_table

    stream = registry["stream_dedup_watermarked"].fn(spark, sf_small)
    batch = (
        load_table(spark, sf_small, "events")
        .dropDuplicates(["event_id"])
        .groupBy("event_type")
        .count()
        .withColumnRenamed("count", "n_events")
    )
    cols = ["event_type", "n_events"]
    assert _rows(stream.select(*cols), cols) == _rows(batch.select(*cols), cols)


def test_semdedup_recovers_planted_dups(spark, sf_small, registry):
    # SemDeDup only compares pairs WITHIN a cluster, so a planted dup is
    # found iff the noisy copy lands in its origin's cluster (measured
    # ~0.96 here); every reported pair must BE a planted pair (the corpus
    # has no natural near-dups at cosine >= 0.99).
    out = registry["dedup_semantic"].fn(spark, sf_small).collect()
    planted = {
        r["vec_id"]
        for r in spark.read.parquet(f"{sf_small}/embeddings.parquet")
        .filter("vec_id % 7 = 0")
        .select("vec_id")
        .collect()
    }
    assert all(
        r.dup_id >= 100000 and r.canonical_id == r.dup_id - 100000 for r in out
    ), "SemDeDup reported a non-planted pair"
    recall = len({r.dup_id - 100000 for r in out} & planted) / len(planted)
    assert recall >= 0.85, f"SemDeDup recall too low: {recall:.2f}"


def test_semdedup_sqrtn_derives_k_and_recovers_dups(spark, sf_small, registry):
    # Round-5: the sqrt(N) variant must derive K = max(16, ceil(sqrt(N)))
    # from the corpus and keep the planted-pair recovery property.
    import math

    out = registry["dedup_semantic_sqrtn"].fn(spark, sf_small).collect()
    n = spark.read.parquet(f"{sf_small}/embeddings.parquet").count()
    expect_k = max(16, math.ceil(math.sqrt(n)))
    assert all(r.n_clusters == expect_k for r in out)
    assert all(
        r.dup_id >= 100000 and r.canonical_id == r.dup_id - 100000 for r in out
    ), "sqrtn SemDeDup reported a non-planted pair"
    planted = {
        r["vec_id"]
        for r in spark.read.parquet(f"{sf_small}/embeddings.parquet")
        .filter("vec_id % 7 = 0")
        .select("vec_id")
        .collect()
    }
    recall = len({r.dup_id - 100000 for r in out} & planted) / len(planted)
    assert recall >= 0.85, f"sqrtn SemDeDup recall too low: {recall:.2f}"


def test_tokenize_greedy_matches_python_maximal_munch(spark, sf_small, registry):
    # The fold-based segmentation must equal true longest-match-first
    # tokenization (guaranteed by prefix closure) — verified against an
    # independent Python reference implementation per document.
    from dataframe_differ_spark.queries.textops import _TOKENIZER_VOCAB

    vocab = set(_TOKENIZER_VOCAB)

    def munch(word):
        toks, i = [], 0
        while i < len(word):
            j = len(word)
            while j > i + 1 and word[i:j] not in vocab:
                j -= 1
            toks.append(word[i:j])
            i = j
        return toks

    out = {r.doc_id: r for r in registry["text_tokenize_greedy"].fn(spark, sf_small).collect()}
    docs = spark.read.parquet(f"{sf_small}/documents.parquet").collect()
    for d in docs:
        words = [w for w in d.text[:240].split(" ") if w]
        toks = [t for w in words for t in munch(w)]
        assert out[d.doc_id].n_words == len(words)
        assert out[d.doc_id].n_tokens == len(toks)
        assert out[d.doc_id].tokens_head == "/".join(toks[:5])


def test_triangle_count_matches_python_reference(spark, sf_small, registry):
    # Recompute the sampled co-purchase graph and its triangles in pure
    # Python from the same parquet; per-node counts must agree exactly.
    import hashlib
    from collections import Counter, defaultdict

    rows = (
        spark.read.parquet(f"{sf_small}/lineitem.parquet")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .collect()
    )
    by_order = defaultdict(list)
    for r in rows:
        by_order[r.l_orderkey].append(r.l_partkey)
    edges = set()
    for ok, parts in by_order.items():
        parts.sort(key=lambda p: hashlib.md5(f"{ok}:{p}".encode()).hexdigest())
        pick = parts[:3]
        for i in range(len(pick)):
            for j in range(i + 1, len(pick)):
                edges.add((min(pick[i], pick[j]), max(pick[i], pick[j])))
    deg = Counter()
    for u, v in edges:
        deg[u] += 1
        deg[v] += 1
    nbrs = defaultdict(set)
    for u, v in edges:
        a, b = sorted((u, v), key=lambda n: (deg[n], n))
        nbrs[a].add(b)
    tri_count = Counter()
    for a in nbrs:
        for b in nbrs[a]:
            common = nbrs[a] & nbrs.get(b, set())
            for c in common:
                tri_count[a] += 1
                tri_count[b] += 1
                tri_count[c] += 1
    expect = sorted(
        ((n, c, deg[n]) for n, c in tri_count.items()),
        key=lambda t: (-t[1], t[0]),
    )[:50]
    got = [
        (r.part, r.n_triangles, r.degree)
        for r in registry["graph_triangle_count"].fn(spark, sf_small).collect()
    ]
    assert got == expect


def test_recursive_cte_components_equal_iterative_loop(spark, sf_small, registry):
    # The declarative WITH RECURSIVE form must produce exactly the same
    # dedup groups as dedup_clusters' explicit O(diameter) join loop.
    cols = ["component_id", "cluster_size"]
    a = _rows(registry["sql_recursive_components"].fn(spark, sf_small).select(*cols), cols)
    b = _rows(registry["dedup_clusters"].fn(spark, sf_small).select(*cols), cols)
    assert a == b


# ---------------------------------------------------------------------------
# Round-5: state-store semantics of the rows-only stream_* queries.
# Output equality with the batch twin (tests above) proves WHAT was
# computed; these assert HOW — that the streaming run really exercised
# watermark drops / dedup state / session state, via the progress metrics
# captured by streaming.record_progress.
# ---------------------------------------------------------------------------


def _state_ops(prefix):
    from dataframe_differ_spark.streaming import LAST_PROGRESS

    return [
        op
        for p in LAST_PROGRESS[prefix]
        for op in p.get("stateOperators", [])
    ]


def test_stream_dedup_state_holds_exactly_distinct_ids(spark, sf_small, registry):
    from dataframe_differ_spark.tables import load_table

    registry["stream_dedup"].fn(spark, sf_small)
    ops = [o for o in _state_ops("dedup") if o.get("operatorName") == "dedupe"]
    assert ops, "dedupe state operator missing from streaming progress"
    n_distinct = (
        load_table(spark, sf_small, "events").select("event_id").distinct().count()
    )
    # state keeps first-seen per key: exactly the distinct ids, and the
    # union-doubled duplicates never became state updates
    assert max(o["numRowsTotal"] for o in ops) == n_distinct
    assert sum(o["numRowsUpdated"] for o in ops) == n_distinct


def test_stream_append_finalized_really_drops_late_rows(spark, sf_small, registry):
    registry["stream_append_finalized"].fn(spark, sf_small)
    dropped = sum(
        o.get("numRowsDroppedByWatermark", 0) for o in _state_ops("appendfin")
    )
    # the hash-split replay delivers old events in later batches; once the
    # 30-min watermark passed them they MUST be discarded, not aggregated
    assert dropped > 0


def test_stream_session_uses_session_window_state(spark, sf_small, registry):
    registry["stream_session"].fn(spark, sf_small)
    ops = [
        o
        for o in _state_ops("session")
        if "sessionWindow" in o.get("operatorName", "")
    ]
    assert ops, "session-window state operator missing from progress"
    assert max(o["numRowsTotal"] for o in ops) > 0


def test_stream_dedup_watermarked_evicts_state(spark, sf_small, registry):
    from dataframe_differ_spark.tables import load_table

    registry["stream_dedup_watermarked"].fn(spark, sf_small)
    ops = [
        o
        for o in _state_ops("dedupww")
        if "dedupe" in o.get("operatorName", "")
    ]
    assert ops, "watermarked-dedup state operator missing from progress"
    n_events = load_table(spark, sf_small, "events").count()
    # state is bounded by the watermark horizon: strictly fewer rows kept
    # than the stream delivered (eviction happened), but non-empty
    peak = max(o["numRowsTotal"] for o in ops)
    assert 0 < peak <= n_events


def _ckpt_dirs():
    import glob
    import os
    import tempfile

    return set(glob.glob(os.path.join(tempfile.gettempdir(), "ddspark_ckpt_*")))


def test_stream_runner_failure_restores_conf_and_removes_checkpoint(
    spark, tmp_path
):
    from dataframe_differ_spark.sources.replay import replay_stream
    from dataframe_differ_spark.streaming import run_available_now

    src = str(tmp_path / "src")
    spark.range(10).write.parquet(src)

    def boom(batch_df, batch_id):
        raise ValueError("boom in foreach_batch")

    prior = spark.conf.get("spark.sql.shuffle.partitions")
    before = _ckpt_dirs()
    with pytest.raises(Exception, match="boom in foreach_batch"):
        run_available_now(
            replay_stream(spark, src, 1, spark.range(10).schema),
            "boom",
            foreach_batch=boom,
        )
    assert spark.conf.get("spark.sql.shuffle.partitions") == prior
    assert not _ckpt_dirs() - before


@pytest.mark.parametrize("name", ["stream_tumbling", "stream_foreach_batch"])
def test_stream_queries_leave_no_checkpoint_dirs(spark, sf_small, registry, name):
    before = _ckpt_dirs()
    assert registry[name].fn(spark, sf_small).count() > 0
    assert not _ckpt_dirs() - before


def test_write_stream_only_in_stream_runner():
    # Every streaming start goes through streaming.run_available_now; an
    # inline writeStream elsewhere would bring back its own copy of the
    # lock/conf/checkpoint protocol.
    import ast
    import pathlib

    import dataframe_differ_spark

    root = pathlib.Path(dataframe_differ_spark.__file__).parent
    users = {
        p.relative_to(root).as_posix()
        for p in root.rglob("*.py")
        if any(
            isinstance(n, ast.Attribute) and n.attr == "writeStream"
            for n in ast.walk(ast.parse(p.read_text()))
        )
    }
    assert users == {"streaming/__init__.py"}


def test_stream_watermark_equals_batch_twin(spark, sf_small, registry):
    """G4 batch twin (round 7): with availableNow replay nothing is late,
    so the watermarked hourly counts must equal a plain batch windowed
    aggregation — the watermark only bounds state, never the values."""
    from pyspark.sql import functions as F

    from dataframe_differ_spark.tables import load_table

    stream = registry["stream_watermark"].fn(spark, sf_small)
    batch = (
        load_table(spark, sf_small, "events")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("window.start").alias("window_start"), "n_events")
    )
    s = _rows(
        stream.selectExpr("CAST(window_start AS STRING) ws", "n_events"),
        ["ws", "n_events"],
    )
    b = _rows(
        batch.selectExpr("CAST(window_start AS STRING) ws", "n_events"),
        ["ws", "n_events"],
    )
    assert s == b


def test_stream_stream_join_equals_batch_twin(spark, sf_small, registry):
    """Stream-stream join batch twin (round 7): the watermarked two-stream
    inner join must produce exactly the pairs of the equivalent batch
    time-range self-join (availableNow replay drops nothing)."""
    from pyspark.sql import functions as F

    from dataframe_differ_spark.tables import load_table

    stream = registry["stream_stream_join"].fn(spark, sf_small)
    e = load_table(spark, sf_small, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    batch = p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "inner",
    ).select("p_id", "c_id", "p_user")
    s = _rows(stream, ["p_id", "c_id", "p_user"])
    b = _rows(batch, ["p_id", "c_id", "p_user"])
    assert s == b


def test_agg_winsorize_rejects_non_digit_priority(spark, tmp_path, registry):
    # The bucket key reads the priority's leading digit; a priority without
    # one must fail the query, not fall into a NULL bucket.
    orders = spark.createDataFrame(
        [(1, 10.0, "1-URGENT"), (2, 20.0, "2-HIGH"), (3, 30.0, "X-BAD")],
        "o_orderkey long, o_totalprice double, o_orderpriority string",
    )
    orders.write.parquet(str(tmp_path / "orders.parquet"))
    with pytest.raises(Exception, match="must start with a digit, got X-BAD"):
        registry["agg_winsorize"].fn(spark, str(tmp_path)).collect()


# Twin runs of >= 10 normalized lines that stay duplicated on purpose,
# keyed by (path a, path b, first normalized line of the run), each with
# a one-line reason: folding would make the shared helper branch on its
# caller, or the code is on the benchmark path and stays as measured.
DUPLICATE_RUNS_ALLOWED: dict[tuple[str, str, str], str] = {}


def _duplicate_runs(root, min_len):
    """Maximal runs of >= ``min_len`` identical normalized lines that occur
    twice under ``root``: lines are stripped, and blank lines, ``#``
    comments and lines of 3 characters or fewer are dropped; 6-line
    windows are matched and extended to maximal runs."""
    import collections

    window = 6
    seqs = {}
    for p in sorted(root.rglob("*.py")):
        lines = [s.strip() for s in p.read_text().splitlines()]
        seqs[p.relative_to(root).as_posix()] = [
            s for s in lines if len(s) > 3 and not s.startswith("#")
        ]
    starts = collections.defaultdict(list)
    for path, seq in seqs.items():
        for k in range(len(seq) - window + 1):
            starts[tuple(seq[k : k + window])].append((path, k))
    runs = []
    for locs in starts.values():
        for i, (pa, a) in enumerate(locs):
            for pb, b in locs[i + 1 :]:
                sa, sb = seqs[pa], seqs[pb]
                if a and b and sa[a - 1] == sb[b - 1]:
                    continue  # not the start of a maximal run
                n = window
                while (
                    a + n < len(sa)
                    and b + n < len(sb)
                    and sa[a + n] == sb[b + n]
                    and not (pa == pb and a + n >= b)
                ):
                    n += 1
                if n >= min_len:
                    runs.append((pa, pb, sa[a], n))
    return runs


def test_no_duplicated_runs_of_ten_lines():
    # Twins share one builder (a CTE-text constant for oracle SQL, a frame
    # or column helper for Spark code) instead of a copied body.
    import pathlib

    import dataframe_differ_spark

    root = pathlib.Path(dataframe_differ_spark.__file__).parent
    runs = _duplicate_runs(root, 10)
    found = {(pa, pb, first) for pa, pb, first, _ in runs}
    assert not found - DUPLICATE_RUNS_ALLOWED.keys(), sorted(
        r for r in runs if r[:3] not in DUPLICATE_RUNS_ALLOWED
    )
    assert not DUPLICATE_RUNS_ALLOWED.keys() - found, "stale allow-list entries"
