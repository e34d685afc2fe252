"""Schema-agnostic unit tests for the round-5 parametric operator library
(operators/dedup.py, operators/similarity.py, operators/textquality.py).

Deliberately NOT testdata-bound: every test hand-builds a DataFrame with
arbitrary column names (pk/body/emb/...) to prove the operators work on a
user's own schema — the extraction contract from VERDICT r4 item #1. The
fixture-bound registry queries (dedup_near, sim_topk_*, text_quality, ...)
keep pinning the exact-value semantics against the DuckDB oracles.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from dataframe_differ_spark.operators.dedup import (
    connected_components,
    exact_dedup,
    minhash_candidates,
    minhash_dedup,
    semantic_dedup,
    shingles,
    simhash_dedup,
)
from dataframe_differ_spark.operators.similarity import (
    ivf_index,
    random_planes,
    topk_cosine,
    topk_cosine_ivf,
    topk_cosine_lsh,
)
from dataframe_differ_spark.operators.textquality import (
    language_id,
    quality_features,
    rolling_fingerprint,
    token_counts,
)

WORDS = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo "
    "lima mike november oscar papa quebec romeo sierra tango uniform victor"
).split()


def _doc(i: int, n: int = 30) -> str:
    import random

    rng = random.Random(1000 + i)
    return " ".join(rng.choice(WORDS) for _ in range(n))


@pytest.fixture(scope="module")
def docs_df(spark):
    """(pk, body): 12 base docs + truncated near-copies of pk 0 and 5."""
    rows = [Row(pk=i, body=_doc(i)) for i in range(12)]
    for i in (0, 5):
        rows.append(Row(pk=100 + i, body=" ".join(_doc(i).split()[:-3])))
    return spark.createDataFrame(rows)


def test_shingles_expression(spark):
    df = spark.createDataFrame(
        [("a b c d",), ("x y",), ("p p p p p",)], ["body"]
    )
    out = [r[0] for r in df.select(shingles("body", 3)).collect()]
    assert out[0] == ["a b c", "b c d"]
    assert out[1] == []  # fewer than n tokens
    assert out[2] == ["p p p"]  # distinct collapses repeats


def test_exact_dedup_counts(spark):
    df = spark.createDataFrame(
        [(1, "x", "u"), (2, "x", "u"), (3, "y", "u"), (4, "x", "v")],
        ["pk", "c1", "c2"],
    )
    out = {
        r.canonical_pk: r.copies
        for r in exact_dedup(df, ["c1", "c2"], "pk").collect()
    }
    # ("x","u") twice — canonical is min pk; ("y","u") and ("x","v") once.
    assert out == {1: 2, 3: 1, 4: 1}


def test_minhash_dedup_recovers_planted_pairs(docs_df):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_dedup(docs_df, "pk", "body", threshold=0.5).collect()
    }
    assert (0, 100) in pairs and (5, 105) in pairs
    assert all(j >= 0.5 for j in pairs.values())
    # no cross-document false positives between unrelated base docs
    assert all(b >= 100 for (a, b) in pairs)


def test_minhash_dedup_xxhash_variant_same_pairs(docs_df):
    pairs = {
        (r.id_a, r.id_b)
        for r in minhash_dedup(
            docs_df, "pk", "body", threshold=0.5, portable=False
        ).collect()
    }
    # exact-Jaccard verification makes the pair set hash-independent
    assert {(0, 100), (5, 105)} <= pairs


def test_minhash_bands_from_wide_row_match_collect_list_bands(docs_df):
    from dataframe_differ_spark.plans import plan_features

    # Band keys come from the wide per-document mins: no collect fold.
    assert plan_features(minhash_dedup(docs_df, "pk", "body")).collect_folds == 0

    sh = docs_df.select("pk", shingles("body", 3).alias("sh"))
    sigs, cand = minhash_candidates(sh, "pk", "sh", num_perm=12, bands=6)
    # Reference: band keys folded from the long (pk, j, s) signatures.
    bands = sigs.groupBy("pk", (F.col("j") / 2).cast("int").alias("band")).agg(
        F.expr(
            "concat_ws('-', transform(array_sort(collect_list(struct(j, s))),"
            " x -> cast(x.s as string)))"
        ).alias("bkey")
    )
    a, b = bands.alias("a"), bands.alias("b")
    ref = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.pk") < F.col("b.pk")),
        )
        .select(F.col("a.pk").alias("id_a"), F.col("b.pk").alias("id_b"))
        .distinct()
    )
    got = sorted(tuple(r) for r in cand.collect())
    assert got == sorted(tuple(r) for r in ref.collect())
    assert (0, 100) in got and (5, 105) in got


def test_simhash_dedup_recovers_planted_pairs(docs_df):
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_dedup(docs_df, "pk", "body").collect()
    }
    assert (0, 100) in pairs and (5, 105) in pairs
    assert all(h <= 16 for h in pairs.values())


def test_connected_components_chain_and_isolate(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["left_v", "right_v"]
    )
    verts = spark.createDataFrame([(v,) for v in [1, 2, 3, 10, 11, 99]], ["node"])
    out = {
        r.node: r.component_id
        for r in connected_components(
            edges, "left_v", "right_v", vertices=verts, vertex_col="node"
        ).collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 99: 99}


def _unit(v):
    n = math.sqrt(sum(x * x for x in v))
    return [x / n for x in v]


@pytest.fixture(scope="module")
def vec_df(spark):
    """(vid, emb): two well-separated unit-vector blobs in R^8."""
    import random

    rng = random.Random(7)
    rows = []
    for i in range(40):
        base = [1.0, 0, 0, 0, 0, 0, 0, 0] if i % 2 == 0 else [0, 0, 0, 0, 1.0, 0, 0, 0]
        v = [b + rng.gauss(0, 0.05) for b in base]
        rows.append(Row(vid=i, emb=_unit(v)))
    return spark.createDataFrame(rows)


def _brute_topk(rows, queries, k):
    truth = {}
    for qid, q in queries:
        scored = sorted(
            (
                (-sum(a * b for a, b in zip(q, v)), vid)
                for vid, v in rows
                if vid != qid
            ),
        )[:k]
        truth[qid] = [vid for _, vid in scored]
    return truth


def test_topk_cosine_matches_brute_force(vec_df):
    queries = vec_df.filter(F.col("vid") < 2).select(
        F.col("vid").alias("qid"), F.col("emb").alias("qemb")
    )
    got = topk_cosine(
        vec_df,
        queries,
        k=5,
        id_col="vid",
        vec_col="emb",
        query_id_col="qid",
        query_vec_col="qemb",
    ).collect()
    rows = [(r.vid, r.emb) for r in vec_df.collect()]
    truth = _brute_topk(rows, [(r.qid, r.qemb) for r in queries.collect()], 5)
    by_q = {}
    for r in sorted(got, key=lambda r: (r.qid, r.rank)):
        by_q.setdefault(r.qid, []).append(r.vid)
    assert by_q == truth


def test_topk_cosine_lsh_recall(vec_df):
    queries = vec_df.filter(F.col("vid") < 2).select(
        F.col("vid").alias("qid"), F.col("emb").alias("qemb")
    )
    got = topk_cosine_lsh(
        vec_df,
        queries,
        k=5,
        id_col="vid",
        vec_col="emb",
        query_id_col="qid",
        query_vec_col="qemb",
        planes=random_planes(8, 8, seed=3),
        n_bands=4,
    ).collect()
    rows = [(r.vid, r.emb) for r in vec_df.collect()]
    truth = _brute_topk(rows, [(r.qid, r.qemb) for r in queries.collect()], 5)
    by_q = {}
    for r in got:
        by_q.setdefault(r.qid, set()).add(r.vid)
    # clustered blobs + 4 bands of 2 bits: expect high recall of the top-5
    for qid, want in truth.items():
        assert len(by_q.get(qid, set()) & set(want)) >= 3


def test_cosine_join_lsh_finds_planted_pair(spark, vec_df):
    from dataframe_differ_spark.operators.similarity import cosine_join_lsh

    planted = vec_df.filter(F.col("vid") < 2).select(
        (F.col("vid") + 1000).alias("vid"),
        F.expr("transform(emb, x -> CAST(x * 1.0001 AS DOUBLE))").alias("emb"),
    )
    pool = vec_df.unionByName(planted)
    pairs = {
        (r.id_a, r.id_b): r.cos_sim
        for r in cosine_join_lsh(
            pool,
            id_col="vid",
            vec_col="emb",
            threshold=0.999,
            planes=random_planes(8, 16, seed=5),
            n_bands=4,
        ).collect()
    }
    for vid in range(2):
        assert (vid, 1000 + vid) in pairs
    assert all(a < b for (a, b) in pairs)
    assert all(s >= 0.999 for s in pairs.values())


def test_ivf_index_and_topk(vec_df):
    index, centroids = ivf_index(vec_df, "vid", "emb", n_clusters=2)
    assert centroids.count() == 2
    # the two blobs must separate: cluster purity by vid parity
    purity = (
        index.groupBy("cluster_id")
        .agg(F.avg((F.col("vid") % 2 == 0).cast("double")).alias("frac_even"))
        .collect()
    )
    assert all(r.frac_even in (0.0, 1.0) for r in purity)
    queries = vec_df.filter(F.col("vid") < 2).select(
        F.col("vid").alias("qid"), F.col("emb").alias("qemb")
    )
    got = topk_cosine_ivf(
        index,
        centroids,
        queries,
        k=5,
        id_col="vid",
        vec_col="emb",
        query_id_col="qid",
        query_vec_col="qemb",
        n_probe=1,
    ).collect()
    # with n_probe=1 every hit comes from the query's own blob
    for r in got:
        assert r.vid % 2 == r.qid % 2


def test_ivf_index_derives_k_from_count(vec_df):
    _, centroids = ivf_index(vec_df, "vid", "emb")  # N=40 → K=max(16,⌈√40⌉)
    assert centroids.count() == 16


def test_semantic_dedup_finds_planted_near_identical(spark, vec_df):
    planted = vec_df.filter(F.col("vid") < 3).select(
        (F.col("vid") + 1000).alias("vid"),
        F.expr("transform(emb, x -> CAST(x * 1.0001 AS DOUBLE))").alias("emb"),
    )
    pool = vec_df.unionByName(planted)
    out = {
        r.dup_id: r.canonical_id
        for r in semantic_dedup(
            pool, "vid", "emb", threshold=0.999, n_clusters=2
        ).collect()
    }
    for vid in range(3):
        assert out.get(1000 + vid) == vid
    assert all(c < d for d, c in out.items())


def test_quality_features_and_token_counts(spark):
    df = spark.createDataFrame(
        [(1, "aa bb aa cc9 dd ee"), (2, "zz zz")], ["pk", "body"]
    )
    q = {r.pk: r for r in quality_features(df, "body").collect()}
    assert q[1].n_tokens == 6 and q[1].n_distinct == 5
    assert q[1].passes_quality == 0  # < 20 tokens
    assert abs(q[2].ttr - 0.5) < 1e-12
    t = {r.pk: r for r in token_counts(df, "body").collect()}
    assert t[1].ws_tokens == 6 and t[1].word_tokens == 6
    assert t[2].bpe_est_tokens == 2  # ceil(2/4)=1 per "zz"


def test_language_id_profiles(spark):
    rows = [(i, "le chat et le chien", "fr") for i in range(5)]
    rows += [(10 + i, "the cat and the dog", "en") for i in range(5)]
    rows.append((99, "the dog and the cat sat", "en"))
    df = spark.createDataFrame(rows, ["pk", "body", "tongue"])
    out = {
        r.pk: r.predicted_lang
        for r in language_id(df, "pk", "body", "tongue").collect()
    }
    assert out[99] == "en" and out[0] == "fr"


def test_rolling_fingerprint_order_sensitive(spark):
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, "c b a")], ["pk", "body"]
    )
    out = {r.pk: r.fp for r in df.select(
        "pk", rolling_fingerprint("body").alias("fp")
    ).collect()}
    assert out[1] == out[2] and out[1] != out[3]


def test_hash_split_deterministic_and_partitioned(spark):
    from dataframe_differ_spark.operators.pipeline import hash_split

    df = spark.createDataFrame([(i,) for i in range(2000)], ["rec"])
    out = hash_split(df, "rec", (("a", 8), ("b", 8)))
    counts = {r.split: r["count"] for r in out.groupBy("split").count().collect()}
    assert set(counts) == {"a", "b"}
    # md5 is uniform: an 8/8 split lands near 50/50
    assert abs(counts["a"] - counts["b"]) < 300
    # identical membership across invocations (the anti-randomSplit point)
    again = {r.rec: r.split for r in hash_split(df, "rec", (("a", 8), ("b", 8))).collect()}
    assert all(again[r.rec] == r.split for r in out.collect())
    with pytest.raises(ValueError):
        hash_split(df, "rec", (("a", 9), ("b", 8)))


def test_pack_sequences_budget_boundaries(spark):
    from dataframe_differ_spark.operators.pipeline import pack_sequences

    rows = [("s1", i, 40) for i in range(10)] + [("s2", i, 100) for i in range(3)]
    df = spark.createDataFrame(rows, ["src", "seq", "n"])
    out = pack_sequences(
        df, "n", 100, partition_cols=["src"], order_cols=["seq"]
    ).collect()
    got = {(r.src, r.seq): r.pack_id for r in out}
    # s1: offsets 0,40,80,120,... -> packs 0,0,0,1,1,2,2,2,3,3
    assert [got[("s1", i)] for i in range(10)] == [0, 0, 0, 1, 1, 2, 2, 2, 3, 3]
    # s2: offsets 0,100,200 -> packs 0,1,2
    assert [got[("s2", i)] for i in range(3)] == [0, 1, 2]


def test_decontaminate_counts_shared_shingles(spark):
    from dataframe_differ_spark.operators.pipeline import decontaminate

    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over dogs"),
            (2, "completely different words here entirely now"),
        ],
        ["pk", "body"],
    )
    bench = spark.createDataFrame(
        [(100, "quick brown fox leaps"), (101, "brown fox jumps far")],
        ["pk", "body"],
    )
    out = {r.pk: r for r in decontaminate(train, bench, "pk", "body").collect()}
    # doc 1 shares "quick brown fox" (bench 100) and "brown fox jumps" (101)
    assert out[1].n_bench_docs == 2 and out[1].n_shared_shingles == 2
    assert 2 not in out  # clean doc reports nothing


def test_decode_features_custom_decoder(spark):
    from dataframe_differ_spark.operators.multimodal import decode_features

    df = spark.createDataFrame(
        [(1, bytearray(b"abcd")), (2, bytearray(b"xy"))], ["img_id", "blob"]
    )

    def my_decoder(payload: bytes):
        # user-pluggable decoder: derive dims from content (stand-in for PIL)
        return len(payload) * 10, len(payload) * 20, 1

    out = {
        r.img_id: r
        for r in decode_features(
            df, "img_id", "blob", decoder=my_decoder
        ).collect()
    }
    assert out[1].n_bytes == 4 and out[1].width == 40 and out[1].height == 80
    assert out[2].channels == 1


def test_sample_frames_variable_rows(spark):
    from dataframe_differ_spark.operators.multimodal import sample_frames

    df = spark.createDataFrame(
        [(7, bytearray(b"z" * 250)), (8, bytearray(b"q" * 10))],
        ["vid_id", "blob"],
    )
    out = sample_frames(df, "vid_id", "blob").collect()
    by_id = {}
    for r in out:
        by_id.setdefault(r.vid_id, []).append((r.frame_idx, r.byte_offset))
    assert by_id[7] == [(0, 0), (1, 100)]  # 250 bytes -> 2 frames
    assert by_id[8] == [(0, 0)]  # short payload -> at least 1 frame


def test_dedup_payloads_binary_groups(spark):
    from dataframe_differ_spark.operators.multimodal import dedup_payloads

    df = spark.createDataFrame(
        [(1, bytearray(b"same")), (2, bytearray(b"same")), (3, bytearray(b"other"))],
        ["asset", "blob"],
    )
    out = {
        r.canonical_asset: r.copies
        for r in dedup_payloads(df, "blob", "asset").collect()
    }
    assert out == {1: 2, 3: 1}
