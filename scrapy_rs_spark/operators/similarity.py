"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exactness baseline, and an
LSH-bucketed (random-hyperplane / SRP) variant as the scale path —
probing only matching sign-buckets instead of all pairs.

All vector math is JVM-side (zip_with/aggregate higher-order
functions, whole-stage codegen) — no Python in the scoring loop. The
hyperplanes are deterministic (numpy seed 42) literals broadcast into
the plan, so results are reproducible run-to-run and under task retry.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_expr(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_with_norms(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """cosine_expr with the two norms supplied as precomputed columns.

    Bit-identical to cosine_expr when na/nb are _norm(a)/_norm(b): the
    same fold produces the same double, and the product/division are
    the same IEEE ops. The point is WHERE the norm fold runs — array
    higher-order functions are interpreted (no codegen), so computing
    each vector's norm once in a projection *below* the pair join,
    instead of once per scored pair, cuts the interpreted fold count
    from 3 per pair to 1 (guide §1.2 step 2: per-task work)."""
    return _dot(a, b) / (na * nb)


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k per query: broadcast the (small) query set
    against the corpus, rank per query. The corpus never shuffles —
    one pass, partial top-k per partition via the per-query Window
    (queries are the partition key, so parallelism = n_queries × AQE).

    Deterministic tie-break: (score DESC, id ASC)."""
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        _norm(F.col(vec_col)).alias("__qn"),
    )
    v = vectors.select(
        F.col(id_col), F.col(vec_col), _norm(F.col(vec_col)).alias("__vn")
    )
    scored = v.crossJoin(F.broadcast(q)).select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        F.round(
            cosine_with_norms(
                F.col(vec_col), F.col("__qv"), F.col("__vn"), F.col("__qn")
            ),
            6,
        ).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def srp_planes(dim: int, n_planes: int = 16, seed: int = 42) -> list[list[float]]:
    """Deterministic signed-random-projection hyperplanes."""
    rng = np.random.RandomState(seed)
    return rng.randn(n_planes, dim).astype(float).tolist()


def srp_bucket_expr(vec: Column, planes: list[list[float]]) -> Column:
    """LSH bucket id = sign bits of the vector against each plane."""
    bucket = F.lit(0).cast("bigint")
    for j, plane in enumerate(planes):
        p = F.array(*[F.lit(float(x)) for x in plane])
        bit = F.when(_dot(vec, p) >= 0, F.lit(1)).otherwise(F.lit(0))
        bucket = bucket + (bit.cast("bigint") * F.lit(1 << j))
    return bucket


def srp_band_buckets_udf(
    planes: list[list[float]], n_bands: int, n_planes: int
):
    """vec → [bucket_0, …, bucket_{b-1}]: one Arrow-batched numpy
    matmul against all b·r planes, sign bits packed per band.

    Chosen over a column-expression formulation deliberately: b·r
    plane-dot folds as Catalyst expressions put thousands of literals in
    the plan tree (optimizer passes + codegen dominate runtime), while
    the whole-batch BLAS matmul is O(1) plan size and vectorized — the
    same shape a 10^10-row corpus needs (measured 3-5× faster even at
    500 rows)."""
    from pyspark.sql.functions import pandas_udf

    P = np.asarray(planes, dtype=np.float64)  # (b·r) × dim
    weights = 2 ** np.arange(n_planes - 1, -1, -1, dtype=np.int64)

    @pandas_udf("array<bigint>")
    def _buckets(vecs: pd.Series) -> pd.Series:
        M = np.vstack(vecs.to_numpy()).astype(np.float64)  # n × dim
        bits = (M @ P.T >= 0).astype(np.int64)  # n × (b·r)
        bands = np.stack(
            [
                bits[:, b * n_planes : (b + 1) * n_planes] @ weights
                for b in range(n_bands)
            ],
            axis=1,
        )  # n × b
        return pd.Series(list(bands))

    return _buckets


def lsh_ann_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k: score only corpus vectors sharing the query's
    SRP bucket. At 10^9 vectors this turns an all-pairs scan into a
    bucket-equi-join (expected bucket size = n/2^planes); recall is
    tunable via n_planes (fewer planes → bigger buckets → higher
    recall). Exactness NOT guaranteed — pair with brute_force_topk on
    a sample to measure recall."""
    if dim is None:
        dim = len(vectors.select(vec_col).first()[0])
    planes = srp_planes(dim, n_planes)
    vb = vectors.withColumn(
        "__bucket", srp_bucket_expr(F.col(vec_col), planes)
    ).withColumn("__vn", _norm(F.col(vec_col)))
    qb = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        _norm(F.col(vec_col)).alias("__qn"),
    ).withColumn("__bucket", srp_bucket_expr(F.col("__qv"), planes))
    scored = vb.join(F.broadcast(qb), "__bucket").select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        F.round(
            cosine_with_norms(
                F.col(vec_col), F.col("__qv"), F.col("__vn"), F.col("__qn")
            ),
            6,
        ).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def _normed(M: "np.ndarray") -> "np.ndarray":
    return M / np.maximum(
        np.linalg.norm(M, axis=1, keepdims=True), 1e-300
    )


def ivf_assign(
    vectors: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector to its nearest centroid (max cosine) — the
    IVF coarse quantizer as ONE Arrow-batched numpy matmul (n×dim @
    dim×k), first max wins (deterministic argmax).

    Chosen over a k-fold column expression deliberately: k cosine folds
    put k·dim literals into the Catalyst plan and optimizer passes end
    up dominating runtime; the BLAS matmul is O(1) plan size, no
    shuffle, and is exactly the batch shape a 10^10-row corpus wants."""
    from pyspark.sql.functions import pandas_udf

    C = _normed(
        np.asarray([c for _, c in centroids], dtype=np.float64)
    )  # k × dim, L2-normalized
    ids = np.asarray([cid for cid, _ in centroids], dtype=np.int64)

    @pandas_udf("bigint")
    def _assign(vecs: pd.Series) -> pd.Series:
        M = _normed(np.vstack(vecs.to_numpy()).astype(np.float64))
        return pd.Series(ids[np.argmax(M @ C.T, axis=1)])

    return vectors.withColumn("centroid_id", _assign(F.col(vec_col)))


def kmeans_centroids(
    vectors: DataFrame,
    k: int = 8,
    n_iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_fraction: float | None = None,
    seed: int = 42,
) -> list[tuple[int, list[float]]]:
    """Deterministic seeded k-means (Lloyd) for the IVF coarse
    quantizer, run as DataFrame jobs.

    - init: the k vectors with the lowest xxhash64(id) — a
      deterministic pseudo-random spread (no wall clock / RNG state,
      stable under retry).
    - assign: ivf_assign (one codegen'd projection, no shuffle).
    - update: posexplode(vec) → groupBy(centroid, dim).avg — one
      partial-agg shuffle of k×dim cells; the collected result is
      k×dim scalars (tiny), never the corpus.
    - empty cluster keeps its previous centroid.

    At 10^9+ vectors fit on a sample (sample_fraction) — the coarse
    quantizer only needs the density shape, and assignment of the full
    corpus happens once afterwards in ivf_ann_topk."""
    fit = vectors
    if sample_fraction is not None:
        fit = vectors.sample(fraction=sample_fraction, seed=seed)
    init_rows = (
        fit.select(id_col, vec_col)
        .orderBy(F.xxhash64(F.col(id_col)).asc(), F.col(id_col).asc())
        .limit(k)
        .collect()
    )
    cents = [
        (i, [float(x) for x in r[vec_col]]) for i, r in enumerate(init_rows)
    ]
    for _ in range(n_iters):
        assigned = ivf_assign(fit, cents, vec_col)
        cells = (
            assigned.select(
                "centroid_id", F.posexplode(F.col(vec_col)).alias("dim", "v")
            )
            .groupBy("centroid_id", "dim")
            .agg(F.avg(F.col("v").cast("double")).alias("mean"))
            .collect()
        )
        by_cid: dict[int, dict[int, float]] = {}
        for row in cells:
            by_cid.setdefault(row["centroid_id"], {})[row["dim"]] = row["mean"]
        cents = [
            (
                cid,
                [by_cid[cid][d] for d in sorted(by_cid[cid])]
                if cid in by_cid
                else vec,
            )
            for cid, vec in cents
        ]
    return cents


def ivf_ann_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 8,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    centroids: list[tuple[int, list[float]]] | None = None,
    kmeans_iters: int = 3,
) -> DataFrame:
    """IVF approximate top-k: corpus bucketed into inverted lists by
    nearest centroid; each query scores only its n_probe nearest lists.
    At 10^9 vectors with 4096 lists and n_probe=8 this scans ~0.2% of
    the corpus per query. Exactness not guaranteed — recall tunable via
    n_probe (n_probe = n_centroids ≡ brute force regardless of centroid
    quality). Centroids default to deterministic seeded k-means
    (kmeans_iters Lloyd passes); pass kmeans_iters=0 for the cheap
    lowest-hash init, or precomputed ``centroids`` to amortize the fit
    across query batches."""
    if centroids is not None:
        cents = centroids
    else:
        cents = kmeans_centroids(
            vectors, n_centroids, kmeans_iters, id_col, vec_col
        )
    corpus = ivf_assign(vectors, cents, vec_col)

    # per-query probe lists: rank centroids by cosine, keep n_probe —
    # one numpy UDF emitting the probe-id array (stable argsort: ties
    # break toward the lower centroid id), exploded to join keys. No
    # k-way union, no Window.
    from pyspark.sql.functions import pandas_udf

    C = _normed(
        np.asarray([c for _, c in cents], dtype=np.float64)
    )
    ids = np.asarray([cid for cid, _ in cents], dtype=np.int64)
    keep = min(n_probe, len(cents))

    @pandas_udf("array<bigint>")
    def _probe(vecs: pd.Series) -> pd.Series:
        M = _normed(np.vstack(vecs.to_numpy()).astype(np.float64))
        order = np.argsort(-(M @ C.T), axis=1, kind="stable")[:, :keep]
        return pd.Series(list(ids[order]))

    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        _norm(F.col(vec_col)).alias("__qn"),
    )
    probes = q.select(
        "query_id",
        "__qv",
        "__qn",
        F.explode(_probe(F.col("__qv"))).alias("centroid_id"),
    )

    scored = corpus.withColumn("__vn", _norm(F.col(vec_col))).join(
        F.broadcast(probes), "centroid_id"
    ).select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        F.round(
            cosine_with_norms(
                F.col(vec_col), F.col("__qv"), F.col("__vn"), F.col("__qn")
            ),
            6,
        ).alias("score"),
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def lsh_band_candidates(
    vectors: DataFrame,
    n_bands: int = 8,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """Banded multi-table SRP candidate pairs: b independent hash
    tables of r planes each; a pair is a candidate iff all r sign bits
    agree in ANY band (AND within band, OR across bands — classic
    banded LSH). Collision prob for angle θ is 1-(1-p^r)^b with
    p = 1-θ/π, so r bounds bucket size (expected n/2^r per band) while
    b recovers recall. The self-join runs per (band, bucket) key — a
    pure equi-join shuffle, never all-pairs — and pairs colliding in
    several bands are deduped BEFORE scoring so each pair's cosine is
    computed once.

    Returns (id_a, id_b, va, vb, __na, __nb) with id_a < id_b — the
    norms ride along so scorers pay one interpreted fold per pair,
    not three (see cosine_with_norms)."""
    if dim is None:
        dim = len(vectors.select(vec_col).first()[0])
    planes = srp_planes(dim, n_bands * n_planes, seed=seed)
    band_buckets = srp_band_buckets_udf(planes, n_bands, n_planes)(
        F.col(vec_col)
    )
    # the band self-join moves IDS ONLY: each vector's full payload
    # previously rode the ×b band explode on BOTH join sides and was
    # shuffled again through the pair-dedup aggregation (~b×2×|vec|
    # bytes of avoidable exchange per row at corpus scale). Deduped
    # (id_a, id_b) pairs pick their vectors back up with one equi-join
    # per side, so each payload crosses the wire once (guide §2.3 /
    # §8: decide with small rows, move big rows once). Output rows
    # are identical — ids are unique, so first(va) ≡ the joined va.
    vb = vectors.select(
        F.col(id_col), F.posexplode(band_buckets).alias("__band", "__bucket")
    )
    a = vb.select("__band", "__bucket", F.col(id_col).alias("id_a"))
    b = vb.select("__band", "__bucket", F.col(id_col).alias("id_b"))
    pairs = (
        a.join(b, ["__band", "__bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    va = vectors.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        _norm(F.col(vec_col)).alias("__na"),
    )
    vbk = vectors.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        _norm(F.col(vec_col)).alias("__nb"),
    )
    return (
        pairs.join(va, "id_a")
        .join(vbk, "id_b")
        .select("id_a", "id_b", "va", "vb", "__na", "__nb")
    )


def lsh_near_dup_pairs(
    vectors: DataFrame,
    threshold: float = 0.8,
    n_bands: int = 8,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Near-dup pairs via banded multi-table SRP — the scale path for
    cosine_near_dup_pairs. At near-dup thresholds (cos ≥ 0.9 → θ ≤ 26°,
    p ≈ 0.86) the default 8 bands × 8 planes catches ≈ 93% of true
    pairs while expected bucket size is n/256 per band, so candidate
    volume is O(b · n²/2^r) — a 256× reduction vs a single 0-plane
    table, and tunable: more planes → smaller buckets, more bands →
    recall back."""
    cands = lsh_band_candidates(
        vectors, n_bands, n_planes, id_col, vec_col, dim
    )
    return (
        cands.select(
            "id_a",
            "id_b",
            F.round(
                cosine_with_norms(
                    F.col("va"), F.col("vb"), F.col("__na"), F.col("__nb")
                ),
                6,
            ).alias("score"),
        )
        .filter(F.col("score") >= threshold)
    )


def cosine_near_dup_pairs(
    vectors: DataFrame,
    threshold: float = 0.8,
    max_id: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, score ≥
    threshold). Bounded all-pairs (optionally id-capped) — the exact
    baseline; the LSH bucket join above is the scale path."""
    v = vectors
    if max_id is not None:
        v = v.filter(F.col(id_col) < max_id)
    a = v.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        _norm(F.col(vec_col)).alias("__na"),
    )
    b = v.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        _norm(F.col(vec_col)).alias("__nb"),
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                cosine_with_norms(
                    F.col("va"), F.col("vb"), F.col("__na"), F.col("__nb")
                ),
                6,
            ).alias("score"),
        )
        .filter(F.col("score") >= threshold)
    )
