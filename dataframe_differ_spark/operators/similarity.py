"""Parametric similarity-search operators over arbitrary DataFrames.

Round-5 extraction (VERDICT r4 item #1): the H3/H4 ANN family — brute
exact top-k, sign-LSH banding, and an IVF coarse quantizer — as a
reusable library:

    from dataframe_differ_spark.operators.similarity import topk_cosine
    hits = topk_cosine(corpus, queries, k=10, id_col="pk", vec_col="emb",
                       query_id_col="qid", query_vec_col="emb")

Shared design rules:

- Vectors are ``array<double>`` (cast ``array<float>`` inputs first —
  exact widening); all arithmetic is native HOFs (``zip_with`` +
  ``aggregate``) inside whole-stage codegen — no UDFs, no Arrow hop.
- Query sets are assumed small enough to broadcast (the ANN regime);
  candidate generation is always an equi-join on a bucket key (band
  signature / cluster id) so the all-pairs explosion never materializes.
- The k-means quantizer is deterministic end to end (md5-ordered seeding,
  sequential-fold means) so results are reproducible across runs,
  cluster layouts, and engines — the property the full DuckDB oracles
  check. At 100 TB you would swap the sequential-fold mean for plain
  ``avg`` (bit-exactness vs a second engine is a parity device, not a
  production requirement).

Fixture bindings + oracles: ``sim_topk`` / ``sim_topk_lsh`` /
``sim_topk_ivf`` / ``dedup_semantic`` / ``knn_classify_ivf``.
"""

from __future__ import annotations

import random
from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dataframe_differ_spark.functions.vector import dot as _dot, norm as _norm
from dataframe_differ_spark.operators.ranks import partitioned_topk

__all__ = [
    "random_planes",
    "topk_cosine",
    "range_search",
    "lsh_band_signatures",
    "topk_cosine_lsh",
    "cosine_join_lsh",
    "assign_clusters",
    "ivf_index",
    "topk_cosine_ivf",
    "rrf_fuse",
]


def random_planes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Seeded Gaussian hyperplanes for sign-LSH — plain Python literals so
    the identical weights can be embedded in a second engine's plan."""
    rng = random.Random(seed)
    return [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(n_planes)]


def topk_cosine(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    *,
    id_col: str = "vec_id",
    vec_col: str = "e",
    query_id_col: str = "query_id",
    query_vec_col: str = "qe",
    exclude_self: bool = True,
    rank_col: str = "rank",
    sim_col: str = "cos_sim",
) -> DataFrame:
    """Exact brute-force top-k cosine: the ANN ground-truth baseline.

    The query set broadcasts; the corpus is scanned once and scored
    JVM-side. Ranking is the two-phase ``partitioned_topk`` — with few
    queries a single-phase window key is maximally skewed (k reducers
    sort the whole corpus); the per-partition prune makes the final
    per-query exchange see ≤ k·partitions rows. Linear in the corpus,
    never quadratic. ``exclude_self`` drops corpus rows whose id equals
    the query id (self-matches).
    """
    cond = (
        F.col(id_col) != F.col(query_id_col)
        if exclude_self
        else F.lit(True)
    )
    scored = corpus.join(F.broadcast(queries), cond).withColumn(
        sim_col,
        _dot(query_vec_col, vec_col) / (_norm(query_vec_col) * _norm(vec_col)),
    )
    return partitioned_topk(
        scored,
        [query_id_col],
        [F.col(sim_col).desc(), F.col(id_col)],
        k,
        rank_col=rank_col,
    ).select(query_id_col, id_col, rank_col, sim_col)


def range_search(
    corpus: DataFrame,
    queries: DataFrame,
    threshold: float,
    *,
    id_col: str = "vec_id",
    vec_col: str = "e",
    query_id_col: str = "query_id",
    query_vec_col: str = "qe",
    exclude_self: bool = True,
    sim_col: str = "cos_sim",
) -> DataFrame:
    """Exact cosine RANGE query: every corpus vector with
    ``cos ≥ threshold`` of each query → ``(query_id, id, sim)``.

    The radius-based sibling of :func:`topk_cosine` (top-k fixes the
    result COUNT, range search fixes the result QUALITY — the right
    primitive for "all near-duplicates of these exemplars" sweeps).
    The threshold compare is done as ``dot ≥ τ·|q|·|v|`` — same
    predicate, but division-free, so the filter runs inside the scan's
    codegen and no sim is computed for rejected rows. Plan: broadcast
    queries, ONE corpus scan, no shuffle at all (output inherits the
    scan's partitioning) — linear at 100 TB; for huge query sets swap
    in the LSH-bucketed ``cosine_join_lsh``.
    """
    cond = (
        F.col(id_col) != F.col(query_id_col)
        if exclude_self
        else F.lit(True)
    )
    scored = corpus.join(F.broadcast(queries), cond).withColumn(
        "_sim_dot", _dot(query_vec_col, vec_col)
    ).withColumn("_sim_nn", _norm(query_vec_col) * _norm(vec_col))
    return (
        scored.filter(F.col("_sim_dot") >= F.lit(threshold) * F.col("_sim_nn"))
        .withColumn(sim_col, F.col("_sim_dot") / F.col("_sim_nn"))
        .select(query_id_col, id_col, sim_col)
    )


def lsh_band_signatures(
    df: DataFrame,
    vec_col: str,
    planes: Sequence[Sequence[float]],
    n_bands: int,
    *,
    band_col: str = "band",
    sig_col: str = "sig",
) -> DataFrame:
    """Explode each row into ``n_bands`` rows of (band, integer signature).

    Sign bit per hyperplane (sequential-fold dot ≥ 0), grouped into bands
    of ``len(planes) // n_bands`` bits, each band folded into an integer —
    the LSH index table. All other input columns are carried through.
    """
    n_planes = len(planes)
    if n_planes % n_bands != 0:
        raise ValueError(f"n_planes={n_planes} not divisible by n_bands={n_bands}")
    band_bits = n_planes // n_bands
    planes_sql = ", ".join(
        "array(" + ", ".join(f"CAST({w:.17g} AS DOUBLE)" for w in p) + ")"
        for p in planes
    )
    bits = F.expr(
        f"transform(array({planes_sql}), "
        f"p -> IF(aggregate(zip_with(p, {vec_col}, (x, y) -> x * y), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) >= 0, 1, 0))"
    )
    band_sigs = F.expr(
        f"transform(sequence(0, {n_bands - 1}), "
        f"b -> aggregate(slice(bits, b * {band_bits} + 1, {band_bits}), "
        "0, (acc, bit) -> acc * 2 + bit))"
    )
    return (
        df.withColumn("bits", bits)
        .withColumn("band_sigs", band_sigs)
        .select(
            *df.columns, F.posexplode("band_sigs").alias(band_col, sig_col)
        )
    )


def topk_cosine_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    *,
    id_col: str = "vec_id",
    vec_col: str = "e",
    query_id_col: str = "query_id",
    query_vec_col: str = "qe",
    planes: Sequence[Sequence[float]] | None = None,
    n_planes: int = 16,
    n_bands: int = 4,
    seed: int = 42,
    dim: int | None = None,
    rank_col: str = "rank",
    sim_col: str = "cos_sim",
) -> DataFrame:
    """Sign-LSH ANN top-k: banded candidate generation + exact re-rank.

    A corpus vector is a candidate iff it shares ANY band bucket with the
    query (bands multiply recall, bits per band control precision); only
    candidates get the exact cosine. At 100 TB the bucket join is an
    equi-join on (band, signature) — a uniform shuffle key — so the
    all-pairs explosion disappears. Recall < 1 by construction; the
    quality dial is (n_planes, n_bands). ``planes`` defaults to seeded
    Gaussian planes of dimension ``dim`` (required if planes omitted).
    """
    if planes is None:
        if dim is None:
            raise ValueError("pass planes= or dim= to generate them")
        planes = random_planes(dim, n_planes, seed)
    index = lsh_band_signatures(
        corpus.select(id_col, vec_col), vec_col, planes, n_bands
    )
    q_index = lsh_band_signatures(
        queries.select(query_id_col, query_vec_col),
        query_vec_col,
        planes,
        n_bands,
        band_col="_sl_qband",
        sig_col="_sl_qsig",
    )
    cand = (
        index.join(
            F.broadcast(q_index),
            (F.col("band") == F.col("_sl_qband"))
            & (F.col("sig") == F.col("_sl_qsig"))
            & (F.col(id_col) != F.col(query_id_col)),
        )
        .select(query_id_col, query_vec_col, id_col, vec_col)
        .dropDuplicates([query_id_col, id_col])  # any-band match, once
    )
    cos = _dot(query_vec_col, vec_col) / (_norm(query_vec_col) * _norm(vec_col))
    w = Window.partitionBy(query_id_col).orderBy(
        F.col(sim_col).desc(), F.col(id_col)
    )
    return (
        cand.withColumn(sim_col, cos)
        .withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
        .select(query_id_col, id_col, rank_col, sim_col)
    )


def cosine_join_lsh(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "e",
    threshold: float = 0.9,
    planes: Sequence[Sequence[float]] | None = None,
    n_planes: int = 50,
    n_bands: int = 5,
    seed: int = 42,
    dim: int | None = None,
    out_a: str = "id_a",
    out_b: str = "id_b",
    sim_col: str = "cos_sim",
) -> DataFrame:
    """LSH-blocked self similarity join: all pairs with cosine ≥ threshold.

    Sign-LSH banding as candidate generation (pairs sharing ANY band
    signature), exact sequential-fold cosine as verification — the
    declared 100 TB form of a similarity join: candidates come from an
    equi-join on (band, sig) whose bucket sizes are n·2^-bits in
    expectation, never an all-pairs product. Recall < 1 by construction
    (S-curve of the band parameters); pairs are returned with
    ``out_a < out_b``.

    Planes ship as a broadcast table, not per-row literals — the literal
    form blows past codegen method limits and falls back to interpreted
    evaluation (measured 14 s → 3 s at sf0.1). In-bucket pairs are
    generated with a bounded HOF over the sorted member list, so the
    signature computation runs once and no join side recomputes it.
    Fixture binding + full DuckDB oracle: ``sim_join_lsh``.
    """
    if planes is None:
        if dim is None:
            raise ValueError("pass planes= or dim= to generate them")
        planes = random_planes(dim, n_planes, seed)
    if len(planes) % n_bands != 0:
        raise ValueError(f"n_planes={len(planes)} not divisible by n_bands={n_bands}")
    band_bits = len(planes) // n_bands
    pool = df.select(id_col, vec_col)
    planes_df = df.sparkSession.createDataFrame(
        [(i, [float(x) for x in p]) for i, p in enumerate(planes)],
        "plane_id int, p array<double>",
    )
    bit_rows = pool.crossJoin(F.broadcast(planes_df)).select(
        id_col,
        F.expr(f"plane_id div {band_bits}").alias("band"),
        (F.col("plane_id") % band_bits).alias("pos"),
        F.when(_dot("p", vec_col) >= 0, 1).otherwise(0).alias("bit"),
    )
    sigs = bit_rows.groupBy(id_col, "band").agg(
        F.expr("sum(bit * shiftleft(1, pos))").alias("sig")
    )
    buckets = (
        sigs.groupBy("band", "sig")
        .agg(F.sort_array(F.collect_list(id_col)).alias("m"))
        .filter(F.size("m") >= 2)
    )
    cand = (
        buckets.select(
            F.explode(
                F.expr(
                    "flatten(transform(m, (x, i) -> "
                    "transform(slice(m, i + 2, size(m) - i - 1), "
                    "y -> struct(x AS a, y AS b))))"
                )
            ).alias("p")
        )
        .select(F.col("p.a").alias(out_a), F.col("p.b").alias(out_b))
        .distinct()
    )
    pa = pool.select(F.col(id_col).alias(out_a), F.col(vec_col).alias("_si_ea"))
    pb = pool.select(F.col(id_col).alias(out_b), F.col(vec_col).alias("_si_eb"))
    scored = cand.join(pa, out_a).join(pb, out_b).withColumn(
        sim_col, _dot("_si_ea", "_si_eb") / (_norm("_si_ea") * _norm("_si_eb"))
    )
    return scored.filter(F.col(sim_col) >= threshold).select(
        out_a, out_b, sim_col
    )


def assign_clusters(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Assign each row to its max-dot centroid via broadcast crossJoin +
    ``max_by`` (ties break on highest cluster_id — deterministic).
    ``centroids`` must be ``(cluster_id, ce)`` with unit-norm ``ce`` so
    cosine argmax == dot argmax. Returns ``(id_col, cluster_id, vec_col)``.
    """
    scored = df.join(F.broadcast(centroids), how="cross").withColumn(
        "_si_dot", _dot("ce", vec_col)
    )
    return scored.groupBy(id_col).agg(
        F.expr("max_by(cluster_id, struct(_si_dot, cluster_id))").alias(
            "cluster_id"
        ),
        F.first(vec_col).alias(vec_col),
    )


def ivf_index(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "e",
    n_clusters: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Build an IVF coarse quantizer: ``(index, centroids)`` DataFrames.

    Deterministic md5-ordered seeding, one distributed Lloyd iteration
    (assign via broadcast crossJoin + max_by(dot); recompute means via
    posexplode → groupBy(cluster, dim) → re-assemble), then the final
    assignment. ``index`` is ``(id_col, cluster_id, vec_col)``;
    ``centroids`` is ``(cluster_id, ce)`` unit-normalized. At 100 TB
    ``cluster_id`` would be the on-disk partitioning key so a probe
    touches only nprobe/n_clusters of the data.

    ``n_clusters=None`` derives K = max(16, ceil(sqrt(N))) from a count —
    the executable K ~ √N scale law (per-cluster work stays bounded as N
    grows). The Lloyd mean is a DETERMINISTIC sequential fold (running
    window ordered by id, last row per group) instead of ``avg`` whose
    partial-aggregation order is partition-dependent — what makes the
    quantizer bit-reproducible across engines; at 100 TB use plain avg.
    """
    e = df.select(id_col, vec_col)
    if n_clusters is None:
        n = e.count()
        n_clusters = max(16, int(n**0.5 + 0.999999))

    seeds = (
        e.orderBy(F.md5(F.col(id_col).cast("string")))
        .limit(n_clusters)
        .select(
            F.row_number()
            .over(Window.orderBy(F.md5(F.col(id_col).cast("string"))))
            .alias("cluster_id"),
            F.col(vec_col).alias("ce"),
        )
    )
    assigned0 = assign_clusters(e, seeds, id_col, vec_col)
    member_dims = assigned0.select(
        id_col, "cluster_id", F.posexplode(vec_col).alias("dim", "val")
    )
    wrun = (
        Window.partitionBy("cluster_id", "dim")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    mean_dims = (
        member_dims.withColumn("s", F.sum("val").over(wrun))
        .withColumn(
            "n", F.count(F.lit(1)).over(Window.partitionBy("cluster_id", "dim"))
        )
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("cluster_id", "dim").orderBy(
                    F.col(id_col).desc()
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select("cluster_id", "dim", (F.col("s") / F.col("n")).alias("mean_val"))
    )
    centroids = (
        mean_dims.groupBy("cluster_id")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(dim, mean_val))), "
                "x -> x.mean_val)"
            ).alias("ce_raw")
        )
        .withColumn(
            "ce",
            F.expr(
                "transform(ce_raw, x -> x / sqrt(aggregate("
                "zip_with(ce_raw, ce_raw, (a, b) -> a * b), "
                "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)))"
            ),
        )
        .select("cluster_id", "ce")
        # Lazy cut: the final assignment and the caller both consume the
        # centroids, so the Lloyd chain runs once. assign_clusters
        # broadcasts them explicitly, so no size estimate is lost.
        .localCheckpoint(eager=False)
    )
    return assign_clusters(e, centroids, id_col, vec_col), centroids


def topk_cosine_ivf(
    corpus_index: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 10,
    *,
    id_col: str = "vec_id",
    vec_col: str = "e",
    query_id_col: str = "query_id",
    query_vec_col: str = "qe",
    n_probe: int = 6,
    exclude_self: bool = True,
    rank_col: str = "rank",
    sim_col: str = "cos_sim",
) -> DataFrame:
    """IVF ANN top-k: probe the query's ``n_probe`` nearest clusters only.

    ``corpus_index`` / ``centroids`` come from :func:`ivf_index` (build
    once, reuse across queries — at scale the index is the persisted,
    cluster-partitioned form of the corpus). Queries rank centroids
    (broadcast crossJoin over K rows), take ``n_probe``, and exact-cosine
    re-rank only those clusters' members — scanning nprobe/K of the data.
    """
    q_probes = (
        queries.join(F.broadcast(centroids), how="cross")
        .withColumn("_si_dot", _dot("ce", query_vec_col))
        .withColumn(
            "_si_crank",
            F.row_number().over(
                Window.partitionBy(query_id_col).orderBy(
                    F.col("_si_dot").desc(), F.col("cluster_id")
                )
            ),
        )
        .filter(F.col("_si_crank") <= n_probe)
        .select(query_id_col, query_vec_col, "cluster_id")
    )
    cond = (corpus_index["cluster_id"] == q_probes["cluster_id"]) & (
        (F.col(id_col) != F.col(query_id_col))
        if exclude_self
        else F.lit(True)
    )
    cand = corpus_index.join(F.broadcast(q_probes), cond).select(
        query_id_col, query_vec_col, id_col, vec_col
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col(sim_col).desc(), F.col(id_col)
    )
    return (
        cand.withColumn(
            sim_col,
            _dot(query_vec_col, vec_col) / (_norm(query_vec_col) * _norm(vec_col)),
        )
        .withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
        .select(query_id_col, id_col, rank_col, sim_col)
    )


def rrf_fuse(runs, item_col: str, rank_col: str, *, k: int = 60, round_dp: int = 9):
    """Reciprocal Rank Fusion of N ranked retrieval runs → one row per
    item: ``(item, rank_1..rank_N, rrf_score)`` — the standard
    zero-tuning hybrid-search combiner (Cormack et al. 2009).

    ``runs`` is a sequence of DataFrames each holding (item, rank); runs
    are FULL-outer fused so an item ranked by only one run still
    surfaces, its missing ranks contributing 0 to the score
    Σ 1/(k + rank_i). Cost is N−1 joins of per-query top-k frames —
    whatever produced the runs dominates. The divisions are single IEEE
    ops on identical operands in any engine; ``round_dp`` pins the sum
    for oracle replays.
    """
    runs = list(runs)
    if len(runs) < 2:
        raise ValueError("rrf_fuse needs at least two runs")
    fused = None
    rank_cols = []
    for idx, run in enumerate(runs, start=1):
        rc = f"rank_{idx}"
        rank_cols.append(rc)
        side = run.select(
            F.col(item_col), F.col(rank_col).cast("long").alias(rc)
        )
        fused = side if fused is None else fused.join(side, item_col, "full_outer")
    score = None
    for rc in rank_cols:
        term = F.coalesce(F.lit(1.0) / (F.lit(k) + F.col(rc)), F.lit(0.0))
        score = term if score is None else score + term
    return fused.select(
        item_col, *rank_cols, F.round(score, round_dp).alias("rrf_score")
    )
