"""Structural/accuracy properties of the round-3 scale operators.

The DuckDB oracle (tools/check.py) proves cross-engine value parity; these
tests assert the *semantic* guarantees the oracles can't express — CMS
one-sided error, MinHash recall on planted duplicates, z-order locality vs
a single-dimension sort, PSI null-case behavior.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dataframe_differ_spark.queries.scaleops import (
    q_agg_histogram_equidepth,
    q_dedup_minhash_exact,
    q_drift_psi,
    q_layout_zorder,
    q_retrieval_hybrid_rrf,
    q_sketch_cms_topk,
)
from dataframe_differ_spark.tables import load_table


def test_cms_never_undercounts_and_is_tight(spark, sf_small):
    rows = q_sketch_cms_topk(spark, sf_small).collect()
    assert len(rows) == 10
    for r in rows:
        # Count-min's defining guarantee: estimate >= true count.
        assert r.cms_est >= r.exact_cnt, r
        assert r.no_undercount
    # With w=256 cells over ~100 suppliers the expected collision inflation
    # is small; the top hitter's estimate should be within 2x of exact.
    top = max(rows, key=lambda r: r.exact_cnt)
    assert top.cms_est <= 2 * top.exact_cnt


def test_minhash_finds_planted_near_dups(spark, sf_small):
    pairs = q_dedup_minhash_exact(spark, sf_small).collect()
    docs = load_table(spark, sf_small, "documents")
    planted_ids = [
        r.doc_id for r in docs.filter(F.col("doc_id") % 11 == 0).collect()
    ]
    found = {(r.doc_a, r.doc_b) for r in pairs}
    # A planted copy differs by 2 dropped tokens -> Jaccard near 1; with
    # 4 bands of 4 rows the LSH should recover the vast majority.
    hits = sum((d, d + 100000) in found for d in planted_ids)
    assert hits >= 0.8 * len(planted_ids), (hits, len(planted_ids))
    # Estimates are probabilities.
    assert all(0.0 <= r.est_jaccard <= 1.0 for r in pairs)
    for r in pairs:
        if (r.doc_a, r.doc_b) in {(d, d + 100000) for d in planted_ids}:
            assert r.est_jaccard >= 0.5, r


def test_zorder_files_tight_in_both_dims(spark, sf_small):
    files = q_layout_zorder(spark, sf_small).collect()
    assert len(files) == 16
    # Z-order locality: averaged over files, each dimension's bucket span
    # must be far below the full 256-bucket range (a single-dim sort gives
    # ~256 span on the other dimension).
    cust_span = sum(f.max_cust_bucket - f.min_cust_bucket for f in files) / 16
    date_span = sum(f.max_date_bucket - f.min_date_bucket for f in files) / 16
    assert cust_span < 160, cust_span
    assert date_span < 160, date_span


def test_equidepth_deciles_balanced(spark, sf_small):
    rows = q_agg_histogram_equidepth(spark, sf_small).collect()
    assert len(rows) == 10
    counts = [r.cnt for r in rows]
    assert max(counts) - min(counts) <= 1  # ntile's balance guarantee
    by_decile = sorted(rows, key=lambda r: r.decile)
    for a, b in zip(by_decile, by_decile[1:]):
        assert a.hi <= b.lo  # deciles partition the value axis in order


def test_psi_self_split_is_near_zero(spark, sf_small):
    # The two cohorts are random halves of the same distribution, so total
    # PSI must be far below the conventional 0.1 "drift" alarm threshold.
    rows = q_drift_psi(spark, sf_small).collect()
    total = sum(r.psi_bin for r in rows)
    assert all(r.psi_bin >= -1e-12 for r in rows)  # (p-q)ln(p/q) >= 0
    assert total < 0.1, total


def test_rrf_fuses_both_rankers(spark, sf_small):
    rows = q_retrieval_hybrid_rrf(spark, sf_small).collect()
    assert len(rows) == 10
    scores = [r.rrf_score for r in rows]
    assert scores == sorted(scores, reverse=True)
    # Fusion actually used both lists: some top-10 doc carries both ranks.
    assert any(
        r.rank_lex is not None and r.rank_vec is not None for r in rows
    )
    # Score is exactly the RRF formula over the two ranks.
    for r in rows:
        expect = 0.0
        if r.rank_lex is not None:
            expect += 1.0 / (60 + r.rank_lex)
        if r.rank_vec is not None:
            expect += 1.0 / (60 + r.rank_vec)
        assert abs(r.rrf_score - expect) < 1e-9, r


def test_substring_spans_catch_planted_boilerplate(spark, sf_small):
    from dataframe_differ_spark.queries.scaleops import q_dedup_substring_spans

    rows = q_dedup_substring_spans(spark, sf_small).collect()
    docs = load_table(spark, sf_small, "documents")
    n_planted = docs.filter(F.col("doc_id") % 9 == 0).count()
    # The planted 22-token boilerplate yields 22-20+1 = 3 fully-internal
    # window keys shared by every planted doc.
    full_spread = [r for r in rows if r.n_docs == n_planted]
    assert len(full_spread) >= 3, (len(full_spread), n_planted)
    for r in rows:
        assert r.n_occurrences >= r.n_docs >= 2


def test_skew_diag_loads_sum_to_parallelism(spark, sf_small):
    from dataframe_differ_spark.queries.scaleops import q_diag_skew_partitions

    rows = q_diag_skew_partitions(spark, sf_small).collect()
    assert len(rows) <= 32
    total_ratio = sum(r.load_ratio for r in rows)
    assert abs(total_ratio - 32.0) < 1e-6  # ratios partition the load
    assert sum(r.n_rows for r in rows) == load_table(
        spark, sf_small, "orders"
    ).count()


def test_compaction_groups_reach_target(spark, sf_small):
    from dataframe_differ_spark.queries.scaleops import (
        _TARGET_BYTES,
        q_maintenance_compaction_plan,
    )

    rows = q_maintenance_compaction_plan(spark, sf_small).collect()
    by_month = {}
    for r in rows:
        by_month.setdefault(r.part_month, []).append(r)
    for month, groups in by_month.items():
        groups.sort(key=lambda r: r.compaction_group)
        # Next-fit property: every group that was CLOSED (i.e. all but the
        # partition's last) must have reached the target size.
        for g in groups[:-1]:
            assert g.group_bytes >= _TARGET_BYTES, (month, g)


def test_pq_codes_compress_and_reconstruct(spark, sf_small):
    from dataframe_differ_spark.queries.scaleops import (
        _PQ_K,
        _PQ_M,
        q_vec_pq_codes,
    )

    rows = q_vec_pq_codes(spark, sf_small).collect()
    n_vecs = load_table(spark, sf_small, "embeddings").count()
    assert len(rows) == n_vecs  # every vector got a code
    limit = 1 << (4 * _PQ_M)
    for r in rows:
        assert 0 <= r.pq_code < limit  # 32-bit code space
        assert r.recon_err_sq >= 0.0
        # Unpack: each nibble must be a valid centroid id.
        for s in range(_PQ_M):
            assert 0 <= (r.pq_code >> (4 * s)) & 0xF < _PQ_K
    # A seed vector IS one of the centroids, so at least one vector
    # (per subspace all-self) reconstructs near-exactly.
    assert min(r.recon_err_sq for r in rows) < 1e-12


def test_observe_metrics_match_direct_aggregate(spark, sf_small):
    from dataframe_differ_spark.queries.scaleops import q_pipeline_observe_metrics

    row = q_pipeline_observe_metrics(spark, sf_small).collect()[0]
    orders = load_table(spark, sf_small, "orders")
    direct = orders.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("o_totalprice") * 100)).alias("cents"),
    ).collect()[0]
    assert row.n_rows == direct.n
    assert row.revenue_cents == direct.cents
    assert row.n_nonpositive == 0
    assert row.min_price <= row.max_price


def test_python_sink_roundtrip_lossless(spark, sf_small):
    from dataframe_differ_spark.queries.udfs import q_sink_python_datasource

    back = {
        r.o_orderstatus: (r.n_orders, r.revenue_micros)
        for r in q_sink_python_datasource(spark, sf_small).collect()
    }
    direct = {
        r.o_orderstatus: (r.n, r.m)
        for r in load_table(spark, sf_small, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("o_totalprice") * F.lit(1000000.0))).alias("m"),
        )
        .collect()
    }
    assert back == direct


def test_e2e_dedup_clusters_contain_planted_chains(spark, sf_small):
    from dataframe_differ_spark.queries.scaleops import q_dedup_pipeline_e2e

    rows = q_dedup_pipeline_e2e(spark, sf_small).collect()
    by_canon = {r.canonical_id: r for r in rows}
    docs = load_table(spark, sf_small, "documents")
    planted = [r.doc_id for r in docs.filter(F.col("doc_id") % 11 == 0).collect()]
    # Most planted (doc, doc+100000) pairs must have merged into a cluster
    # whose canonical is the original (minimum) id.
    found = sum(1 for d in planted if d in by_canon and by_canon[d].n_members >= 2)
    assert found >= 0.6 * len(planted), (found, len(planted))
    for r in rows:
        assert r.n_removed == r.n_members - 1


def test_adc_ranks_close_to_exact(spark, sf_small):
    from dataframe_differ_spark.queries.scaleops import q_vec_pq_adc_topk

    rows = q_vec_pq_adc_topk(spark, sf_small).collect()
    assert len(rows) == 10
    # ADC is sorted ascending; the query vector itself must rank first
    # (its quantized distance is its own reconstruction error — tiny).
    assert rows[0].vec_id == 0
    assert rows[0].exact_d2 == 0.0
    adcs = [r.adc_d2 for r in rows]
    assert adcs == sorted(adcs)
    # Quantized distance can't be wildly detached from the exact one for
    # the nearest hits (both are squared L2 in the same space).
    for r in rows[1:]:
        assert r.adc_d2 > 0


def test_binary_dedup_groups_planted_copies(spark, sf_small):
    from dataframe_differ_spark.queries.udfs import q_multimodal_binary_dedup

    rows = q_multimodal_binary_dedup(spark, sf_small).collect()
    docs = load_table(spark, sf_small, "documents")
    n_planted = docs.filter(F.col("doc_id") % 13 == 0).count()
    # Every planted copy must land in a duplicate group whose canonical is
    # the original doc (min id), unless two originals shared identical
    # text already (then the group is just bigger).
    assert sum(r.n_copies - 1 for r in rows) >= n_planted
    for r in rows:
        assert r.canonical_doc < 300000


def test_emb_drift_self_cohorts_small(spark, sf_small):
    from dataframe_differ_spark.queries.scaleops import q_emb_drift_centroid

    rows = q_emb_drift_centroid(spark, sf_small).collect()
    emb = load_table(spark, sf_small, "embeddings")
    assert len(rows) == emb.select("label").distinct().count()
    for r in rows:
        assert r.n_a + r.n_b == emb.filter(F.col("label") == r.label).count()
        assert r.drift_micro >= 0.0
        # Random halves of the same distribution: the centroid gap scales
        # as sigma*sqrt(dims*(1/n_a + 1/n_b)). With unit-norm vectors
        # (per-dim sigma ~ 0.125 = 125k micro), 2.5e6*sqrt(1/na+1/nb)
        # is a ~3-sigma envelope — a real model shift (~0.5/dim -> 4e6
        # L2) would blow through it at any cohort size.
        bound = 2.5e6 * (1.0 / r.n_a + 1.0 / r.n_b) ** 0.5
        assert r.drift_micro < bound, (r, bound)


def test_pit_features_monotone_per_user(spark, sf_small):
    from dataframe_differ_spark.queries.scaleops import q_join_pit_features

    rows = q_join_pit_features(spark, sf_small).collect()
    orders = load_table(spark, sf_small, "orders")
    assert len(rows) == orders.filter(F.col("o_custkey") <= 200).count()
    # Within a user, later orders can only ever see MORE history.
    od = {
        r.o_orderkey: r.o_orderdate
        for r in orders.select("o_orderkey", "o_orderdate").collect()
    }
    by_user = {}
    for r in rows:
        by_user.setdefault(r.o_custkey, []).append(r)
    for u, rs in by_user.items():
        rs.sort(key=lambda r: (od[r.o_orderkey], r.o_orderkey))
        for a, b in zip(rs, rs[1:]):
            assert a.n_events_before <= b.n_events_before, (u, a, b)
            assert a.value_before <= b.value_before + 1e-9, (u, a, b)


def test_streaming_conf_survives_concurrent_starts(spark, sf_small):
    """Regression pin for the round-3 race fixes: concurrent streaming
    starts must not leak the temporary shuffle-partition conf, and the
    shared events split-copy must survive concurrent builders."""
    import threading

    from dataframe_differ_spark.queries import load_all

    reg = load_all()
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    results, errors = {}, []

    def run(name):
        try:
            results[name] = reg[name].fn(spark, sf_small).count()
        except Exception as e:  # surface, don't deadlock the join()
            errors.append((name, e))

    names = [
        "stream_replay_incremental",
        "stream_foreach_batch",
        "stream_tumbling",
        # Python DataSource queries resolve through thread-local session
        # state — pins the setActiveSession + registration-lock fix.
        "sink_python_datasource",
        "source_python_datasource",
        # Session-scoped state added round 4 cont.: the recursive-CTE
        # query registers a temp view (idempotent re-register under
        # concurrency), and dedup_semantic goes through the per-key
        # build lock of session_cached on a first miss.
        "sql_recursive_components",
        "dedup_semantic",
    ]
    ts = [threading.Thread(target=run, args=(n,)) for n in names]
    for t in ts:
        t.start()
    for t in ts:
        t.join(timeout=300)
    assert not errors, errors
    assert all(results.get(n, 0) > 0 for n in names), results
    assert spark.conf.get("spark.sql.shuffle.partitions") == saved


def test_simhash_portable_flags_planted_docs(spark, sf_small):
    from dataframe_differ_spark.queries.scaleops import q_dedup_simhash_portable

    rows = {r.doc_id: r for r in q_dedup_simhash_portable(spark, sf_small).collect()}
    docs = load_table(spark, sf_small, "documents")
    planted = [r.doc_id for r in docs.filter(F.col("doc_id") % 10 == 0).collect()]
    # Most planted copies (3 leading tokens dropped) must be flagged with
    # a small min-hamming — their token sets barely changed.
    flagged = [d + 200000 for d in planted if d + 200000 in rows]
    assert len(flagged) >= 0.7 * len(planted), (len(flagged), len(planted))
    assert all(rows[d].min_hamming <= 9 for d in flagged)
    for r in rows.values():
        assert r.n_near >= 1 and 0 <= r.min_hamming <= 9


def test_variance_exact_matches_numpy(spark, sf_small):
    from dataframe_differ_spark.queries.scaleops import q_agg_variance_exact

    rows = {r.o_orderstatus: r for r in q_agg_variance_exact(spark, sf_small).collect()}
    import numpy as np

    pdf = (
        load_table(spark, sf_small, "orders")
        .select("o_orderstatus", "o_totalprice")
        .toPandas()
    )
    for status, grp in pdf.groupby("o_orderstatus"):
        cents = np.floor(grp["o_totalprice"].to_numpy() * 100)
        r = rows[status]
        assert r.n == len(grp)
        assert abs(r.mean_price - cents.mean() / 100) < 1e-6
        # numpy computes in float128-ish accumulation; the integer-moment
        # form is exact, so they agree to float precision of the answer.
        assert abs(r.var_pop_price - cents.var() / 10000) < 1e-2, (
            status,
            r.var_pop_price,
            cents.var() / 10000,
        )


def test_append_finalized_emits_only_closed_windows(spark, sf_small):
    from dataframe_differ_spark.queries.advanced_streaming import (
        q_stream_append_finalized,
    )
    from dataframe_differ_spark.tables import load_table as lt

    emitted = {
        (r.window_start, r.event_type): r.n_events
        for r in q_stream_append_finalized(spark, sf_small).collect()
    }
    assert emitted, "append mode emitted nothing — watermark never advanced"
    batch = {
        (r.window_start, r.event_type): r.n_events
        for r in (
            lt(spark, sf_small, "events")
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .groupBy(F.window("ts", "1 hour"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                F.col("window.start").alias("window_start"),
                "event_type",
                "n_events",
            )
        ).collect()
    }
    # Append-mode invariants: a window is emitted at most once, only for
    # keys the batch run also has, and never OVERcounts it — the
    # hash-split replay delivers genuinely late events (later files carry
    # older timestamps), which the watermark DROPS, so emitted <= batch.
    for k, v in emitted.items():
        assert k in batch and v <= batch[k], (k, v, batch.get(k))
    # Most windows see no late data, so the two agree almost everywhere.
    equal = sum(1 for k, v in emitted.items() if batch[k] == v)
    assert equal >= 0.8 * len(emitted), (equal, len(emitted))
    # The stream's final open window(s) are withheld: the last batch
    # window is never emitted (watermark can't pass its end).
    assert max(ws for ws, _ in batch) not in {ws for ws, _ in emitted}


def test_update_mode_emits_per_batch_deltas(spark, sf_small):
    from dataframe_differ_spark.queries.advanced_streaming import (
        q_stream_update_deltas,
    )
    from dataframe_differ_spark.tables import load_table as lt

    rows = q_stream_update_deltas(spark, sf_small).collect()
    latest = {(r.window_start, r.event_type): r.n_events for r in rows}
    batch = {
        (r.window_start, r.event_type): r.n_events
        for r in (
            lt(spark, sf_small, "events")
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .groupBy(F.window("ts", "1 hour"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                F.col("window.start").alias("window_start"),
                "event_type",
                "n_events",
            )
        ).collect()
    }
    # No watermark → no late-drop: the final upserted value per group must
    # equal the batch aggregate exactly, for exactly the same key set.
    assert latest == batch
    # Delta semantics: at least one group updated across multiple batches
    # (re-emitted), and emissions are DELTAS, not complete-mode
    # re-broadcast of every group each batch.
    total_emissions = sum(r.n_emissions for r in rows)
    n_batches = max(r.last_batch for r in rows) + 1
    assert n_batches > 1, "replay did not produce multiple micro-batches"
    assert total_emissions > len(rows), "no group was ever re-emitted"
    assert total_emissions < len(rows) * n_batches, (
        "every group re-emitted every batch — complete, not update, semantics"
    )


def test_hilbert_index_matches_python_reference(spark):
    """Round 8: the unrolled xy2d fold (layout_hilbert_sketch) equals
    the classic Wikipedia algorithm on random points + the corners,
    and is a bijection on the order-3 grid."""
    import random

    from pyspark.sql import Row

    from dataframe_differ_spark.queries.rankops import hilbert_index

    def rot(n, x, y, rx, ry):
        if ry == 0:
            if rx == 1:
                x, y = n - 1 - x, n - 1 - y
            x, y = y, x
        return x, y

    def xy2d(order, x, y):
        n = 1 << order
        d, s = 0, n // 2
        while s > 0:
            rx = 1 if (x & s) > 0 else 0
            ry = 1 if (y & s) > 0 else 0
            d += s * s * ((3 * rx) ^ ry)
            x, y = rot(n, x, y, rx, ry)
            s //= 2
        return d

    rng = random.Random(61)
    pts = [(rng.randrange(256), rng.randrange(256)) for _ in range(200)]
    pts += [(0, 0), (0, 255), (255, 0), (255, 255), (1, 0), (0, 1)]
    df = spark.createDataFrame([Row(x=x, y=y, i=i) for i, (x, y) in enumerate(pts)])
    got = {(r.x, r.y): r.hd for r in hilbert_index(df, "x", "y", order=8).collect()}
    for x, y in pts:
        assert got[(x, y)] == xy2d(8, x, y), (x, y)

    # order-3 grid: hd is a bijection onto [0, 64)
    grid = spark.createDataFrame(
        [Row(x=x, y=y) for x in range(8) for y in range(8)]
    )
    ds = sorted(r.hd for r in hilbert_index(grid, "x", "y", order=3).collect())
    assert ds == list(range(64))
