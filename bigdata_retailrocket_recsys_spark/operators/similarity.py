"""Similarity search over embedding columns (north-star extension).

Retrieval paths (SURVEY §2.11), each an exact oracle or its scale tier:
- ``cosine_topk``: brute-force top-k — broadcast the (small) query set,
  JVM-side cosine via array HOFs, per-query top-k via WindowGroupLimit.
  Exact; one pass over the corpus; O(queries × corpus).
- ``dot_topk_lsh_int``: sign-LSH buckets over md5-derived ±1 planes;
  queries only score their own bucket, by exact integer dot.
- ``dot_topk_int8``: brute force in the symmetric int8 domain.
- ``cosine_topk_ivf`` (KMeans cells, rows-only) and
  ``ivf_pinned_write_at_rest`` / ``dot_topk_ivf_pinned_at_rest`` (the
  exact-integer IVF index written cell-partitioned, so a probe prunes
  directories).

The integer tiers share one eligibility rule and one quantizer
(``functions.vector.quantizable`` / ``quantized``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdata_retailrocket_recsys_spark.functions.vector import (
    cosine_similarity,
    quantizable,
    quantized,
    to_double_array,
)
from bigdata_retailrocket_recsys_spark.operators.iterate import Iteration
from bigdata_retailrocket_recsys_spark.operators.windows import topk_per_group


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    include_self: bool = False,
) -> DataFrame:
    """Exact brute-force top-k cosine neighbors for each query vector.

    Output: query_id, vec_id, cosine, rank (1-based, ties broken by
    vec_id asc). ``queries`` needs (query_id_col, vec_col).
    """
    c = corpus.select(
        F.col(id_col).alias("vec_id"), to_double_array(vec_col).alias("cvec")
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"), to_double_array(vec_col).alias("qvec")
    )
    pairs = c.crossJoin(F.broadcast(q))
    if not include_self:
        pairs = pairs.filter(F.col("vec_id") != F.col("query_id"))
    scored = pairs.select(
        "query_id",
        "vec_id",
        cosine_similarity(F.col("qvec"), F.col("cvec")).alias("cosine"),
    )
    return topk_per_group(
        scored,
        group_cols=["query_id"],
        order_by=[F.col("cosine").desc(), F.col("vec_id").asc()],
        k=k,
        rank_col="rank",
    )


def _int_plane(dim: int, plane: int) -> list[int]:
    """±1 hyperplane weights from md5 — Python hashlib md5 ≡ SQL md5 on
    both engines, so the identical weights are derivable in SQL:
    ``w_ij = +1 iff substr(md5(i || ':' || j), 1, 1) >= '8'`` (first hex
    nibble ≥ 8). Driver-side here (bits × dim tiny ints, shipped as
    array literals); SQL-side in the DuckDB oracle."""
    import hashlib

    return [
        1
        if int(hashlib.md5(f"{plane}:{j}".encode()).hexdigest()[0], 16) >= 8
        else -1
        for j in range(dim)
    ]


def dot_topk_lsh_int(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    dim: int,
    bits: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Sign-LSH bucketed top-k by EXACT-INTEGER dot product, with
    :func:`cosine_topk` as its exact twin: components quantize to
    ``floor(v*1e6)`` bigints (CLAUDE.md arbitrary-float rule — the
    double multiply is IEEE-deterministic, the floor exact), hyperplanes
    are md5-derived ±1 weights (:func:`_int_plane`), so bucket
    assignment, candidate sets, scores, and ranks are all bit-identical
    across engines. Scores are dot products, not cosine — documented
    contract (rank-by-dot; for normalized embeddings the two orders
    coincide). Dims fit bigint: |v|≤1 → |idot| ≤ dim·1e12.

    Vectors outside :func:`quantizable` are excluded up front (same
    rule in the oracle). Scale shape: bucket join with broadcast
    queries, WindowGroupLimit top-k.
    """

    def bucketed(df: DataFrame, out_id: str, src_id: str) -> DataFrame:
        base = quantizable(df, dim=dim, id_col=src_id, vec_col=vec_col).select(
            F.col(src_id).alias(out_id), quantized(vec_col, 1_000_000).alias("qv")
        )
        bucket = F.lit(0).cast("bigint")
        for i in range(bits):
            w = F.array(*[F.lit(v) for v in _int_plane(dim, i)])
            d = F.aggregate(
                F.zip_with(F.col("qv"), w, lambda x, y: x * y),
                F.lit(0).cast("bigint"),
                lambda a, x: a + x,
            )
            bucket = bucket + F.when(d > 0, F.lit(1 << i)).otherwise(F.lit(0))
        return base.withColumn("bucket", bucket.cast("bigint"))

    c = bucketed(corpus, "vec_id", id_col)
    q = bucketed(queries, "query_id", query_id_col).withColumnRenamed(
        "qv", "qqv"
    )
    pairs = c.join(F.broadcast(q), "bucket").filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = pairs.select(
        "query_id",
        "vec_id",
        F.aggregate(
            F.zip_with(F.col("qv"), F.col("qqv"), lambda x, y: x * y),
            F.lit(0).cast("bigint"),
            lambda a, x: a + x,
        ).alias("idot"),
    )
    return topk_per_group(
        scored,
        group_cols=["query_id"],
        order_by=[F.col("idot").desc(), F.col("vec_id").asc()],
        k=k,
        rank_col="rank",
    )


def cosine_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) index: MLlib KMeans
    partitions the corpus into ``n_cells`` Voronoi cells; each query scores
    only the vectors in its ``nprobe`` nearest cells.

    Scale shape: the corpus is scanned once to assign cells (distributed
    KMeans fit + transform); at rest the corpus would be *written
    partitioned by cell* so a query reads nprobe/n_cells of the data.
    Centroids (n_cells × dim doubles) broadcast to assign query probes —
    no driver-side loops over the corpus. Output: query_id, vec_id,
    cosine, rank. Recall < 1 by design; calibrate against cosine_topk.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    c = corpus.select(
        F.col(id_col).alias("vec_id"), to_double_array(vec_col).alias("cvec")
    )
    # degenerate vectors crash the KMeans fit (NULL) or poison centroids
    # (NaN/inf); zero vectors have no cosine -- drop all of them up front
    sq = F.aggregate("cvec", F.lit(0.0), lambda a, x: a + x * x)
    c = c.filter(
        F.col("cvec").isNotNull()
        & ~F.isnan(sq)
        & (sq != float("inf"))
        & (sq > 0.0)
    )
    fitted = KMeans(
        k=n_cells, seed=seed, featuresCol="features", predictionCol="cell"
    ).fit(c.select(array_to_vector("cvec").alias("features")))
    assigned = fitted.transform(
        c.select("vec_id", "cvec", array_to_vector("cvec").alias("features"))
    ).select("vec_id", "cvec", "cell")

    # centroid table: n_cells rows — broadcast side of every probe join
    centroids = (
        fitted.clusterCenters()
    )  # small driver-side list (n_cells × dim), by construction
    spark = corpus.sparkSession
    cent_df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(centroids)],
        "cell int, centroid array<double>",
    )

    q = queries.select(
        F.col(query_id_col).alias("query_id"), to_double_array(vec_col).alias("qvec")
    )
    # nprobe nearest cells per query by euclidean distance to centroid
    probes = topk_per_group(
        q.crossJoin(F.broadcast(cent_df)).select(
            "query_id",
            "qvec",
            "cell",
            F.aggregate(
                F.zip_with(
                    F.col("qvec"), F.col("centroid"), lambda x, y: (x - y) * (x - y)
                ),
                F.lit(0.0),
                lambda a, x: a + x,
            ).alias("dist2"),
        ),
        group_cols=["query_id"],
        order_by=[F.col("dist2").asc(), F.col("cell").asc()],
        k=nprobe,
        rank_col="probe_rank",
    ).select("query_id", "qvec", "cell")

    pairs = assigned.join(F.broadcast(probes), "cell").filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = pairs.select(
        "query_id",
        "vec_id",
        cosine_similarity(F.col("qvec"), F.col("cvec")).alias("cosine"),
    )
    return topk_per_group(
        scored,
        group_cols=["query_id"],
        order_by=[F.col("cosine").desc(), F.col("vec_id").asc()],
        k=k,
        rank_col="rank",
    )


def ivf_pinned_write_at_rest(
    corpus: DataFrame,
    path: str,
    *,
    dim: int,
    n_cells: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1_000_000,
    bound: float = 100.0,
) -> None:
    """Exact-integer IVF index AT REST with PINNED sample centroids —
    the ORACLED twin of the KMeans tier :func:`cosine_topk_ivf` (r13
    graduation, VERDICT r12 #4; the md5 SimHash twin move applied to
    IVF): instead of iterative float KMeans, the centroids are the
    quantized vectors of the ``n_cells`` smallest eligible corpus ids (sample-initialized
    cells — the standard no-iteration IVF seeding), every assignment is
    an argmin of EXACT bigint squared distances over floor(v·scale)
    components with a deterministic (dist², cell) tie-break, and the
    probe ranks by exact bigint dot — so the whole
    write→partition→probe→top-k chain is bit-reproducible in DuckDB.
    Vectors outside :func:`quantizable` with ``|v| < bound`` are
    excluded: floor(v·1e6) over |v| < 100 keeps dist² and dot sums
    inside bigint ((2e8)²·64 ≈ 2.6e18 < 2⁶³).

    Layout: ``{path}/vectors`` —
    (vec_id, qv, cell) parquet partitioned by cell so a probe prunes
    directories; ``{path}/centroids`` — n_cells rows of
    (cell, cent: array<bigint>).
    """
    elig = quantizable(
        corpus, dim=dim, id_col=id_col, vec_col=vec_col, bound=bound
    ).select(F.col(id_col).alias("vec_id"), quantized(vec_col, scale).alias("qv"))
    from pyspark.sql import Window

    # n_cells smallest ids → cells 0..n_cells-1 (bounded frame: limit
    # runs before the window, so the rank is over ≤ n_cells rows)
    cent = (
        elig.orderBy(F.col("vec_id").asc())
        .limit(n_cells)
        .select(
            (
                F.row_number().over(Window.orderBy(F.col("vec_id").asc())) - 1
            ).alias("cell"),
            F.col("qv").alias("cent"),
        )
    )
    dist2 = F.aggregate(
        F.zip_with("qv", "cent", lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"),
        lambda a, x: a + x,
    )
    assigned = topk_per_group(
        elig.crossJoin(F.broadcast(cent)).select(
            "vec_id", "qv", "cell", dist2.alias("d2")
        ),
        group_cols=["vec_id"],
        order_by=[F.col("d2").asc(), F.col("cell").asc()],
        k=1,
        rank_col="__rn",
    ).select("vec_id", "qv", "cell")
    assigned.write.mode("overwrite").partitionBy("cell").parquet(
        path + "/vectors"
    )
    cent.write.mode("overwrite").parquet(path + "/centroids")


def dot_topk_ivf_pinned_at_rest(
    spark,
    path: str,
    queries: DataFrame,
    *,
    dim: int,
    k: int = 5,
    nprobe: int = 2,
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    scale: int = 1_000_000,
    bound: float = 100.0,
) -> DataFrame:
    """Probe the pinned exact-integer IVF index
    (:func:`ivf_pinned_write_at_rest`): each query picks its ``nprobe``
    nearest centroids by exact bigint dist² (ties → smaller cell),
    scans ONLY those cell partitions (the probe-cell set is one bounded
    driver-side collect — ≤ nprobe × n_queries ints, the same class as
    KMeans ``clusterCenters()``), and ranks candidates by exact bigint dot with a
    total (dot desc, vec_id asc) tie-break. Output: query_id, vec_id,
    dot (bigint), rank — every column integer, full DuckDB hash oracle.
    """
    cent = spark.read.parquet(path + "/centroids")
    q = quantizable(
        queries, dim=dim, id_col=query_id_col, vec_col=vec_col, bound=bound
    ).select(
        F.col(query_id_col).alias("query_id"),
        quantized(vec_col, scale).alias("qq"),
    )
    dist2 = F.aggregate(
        F.zip_with("qq", "cent", lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"),
        lambda a, x: a + x,
    )
    probes = topk_per_group(
        q.crossJoin(F.broadcast(cent)).select(
            "query_id", "qq", "cell", dist2.alias("d2")
        ),
        group_cols=["query_id"],
        order_by=[F.col("d2").asc(), F.col("cell").asc()],
        k=nprobe,
        rank_col="__pr",
    ).select("query_id", "qq", "cell")
    cells = sorted(
        r["cell"] for r in probes.select("cell").distinct().collect()
    )
    vecs = spark.read.parquet(path + "/vectors").filter(
        F.col("cell").isin(cells)
    )
    dot = F.aggregate(
        F.zip_with("qv", "qq", lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda a, x: a + x,
    )
    scored = (
        vecs.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", dot.alias("dot"))
    )
    return topk_per_group(
        scored,
        group_cols=["query_id"],
        order_by=[F.col("dot").desc(), F.col("vec_id").asc()],
        k=k,
        rank_col="rank",
    )


def dot_topk_int8(
    corpus: DataFrame,
    query_ids: "list[int]",
    *,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Top-k similarity search IN THE QUANTIZED DOMAIN: scores are
    integer dot products over SYMMETRIC int8 codes — the scan reads a
    quarter of the float bytes and every score/rank is exact integer
    arithmetic (cross-engine value-hashable, no float rule needed).

    SYMMETRIC (zero-preserving) quantization is load-bearing here:
    ``code = floor(v/s·127)`` with ONE global scale ``s = max|v|`` makes
    the quantized dot ≈ ``(127/s)²·dot`` — monotone in the true dot, so
    ranks survive compression (measured recall@10 vs exact cosine in the
    unit test). The per-dim MIN-MAX codes of
    ``q_vector_quantize`` (plans/catalog_ext) are the STORAGE tier
    and are NOT usable for dot scoring — their additive shift makes
    Σ(a·v+b)(a·v'+b) rank by component sums, not similarity (measured:
    recall ≈ 0; this split is the documented lesson).

    Relational shape — ARRAY-GRAIN, not component-grain: keep the
    :func:`quantizable` vectors, one
    global-max aggregate over ``array_max(transform(abs))`` (no explode)
    broadcast as a 1-row frame, per-vector code ARRAYS via one
    ``transform``, broadcast of the |queries| query arrays, and each
    (vec, query) dot is one in-row ``zip_with``+``aggregate`` — N·|Q|
    row operations inside whole-stage codegen instead of the
    N·dim·|Q|-row exploded join (measured 3.8× at 1M×64: 22.7 s vs
    85.9 s, value-identical). WindowGroupLimit top-k.

    The top-k output is BOUNDED (|queries|·k rows), so it is
    checkpointed and both corpus-sized caches are released before
    returning — repeated calls in one session (rehearsals,
    q_retrieval_rrf) no longer accumulate executor storage.
    """
    with Iteration() as it:
        # S7 discipline: both derived frames are referenced twice (base by
        # the scale agg AND the code projection; codes by the query filter
        # AND the scoring crossJoin) and Spark never reuses a shared
        # exchange — cache both or the scan+quantization recompute per ref.
        base = it.cache(
            quantizable(corpus, dim=dim, id_col=id_col, vec_col=vec_col).select(
                F.col(id_col).alias("__id"), to_double_array(vec_col).alias("__v")
            )
        )
        s = base.agg(
            F.max(
                F.array_max(F.transform("__v", lambda x: F.abs(x)))
            ).alias("__s")
        )
        codes = it.cache(base.crossJoin(F.broadcast(s)).select(
            "__id",
            F.transform(
                "__v",
                lambda x: F.when(F.col("__s") == 0.0, F.lit(0).cast("bigint"))
                .otherwise(
                    F.floor(x / F.col("__s") * F.lit(127.0)).cast("bigint")
                ),
            ).alias("cv"),
        ))
        q = codes.filter(F.col("__id").isin(query_ids)).select(
            F.col("__id").alias("query_id"), F.col("cv").alias("qv")
        )
        scored = (
            codes.crossJoin(F.broadcast(q))
            .filter(F.col("__id") != F.col("query_id"))
            .select(
                "query_id",
                F.col("__id").alias(id_col),
                F.aggregate(
                    F.zip_with(F.col("cv"), F.col("qv"), lambda x, y: x * y),
                    F.lit(0).cast("bigint"),
                    lambda a, x: a + x,
                ).alias("idot8"),
            )
        )
        out = topk_per_group(
            scored,
            group_cols=["query_id"],
            order_by=[F.col("idot8").desc(), F.col(id_col).asc()],
            k=k,
            rank_col="rank",
        )
        return it.result(it.checkpoint(out).df)


def rrf_fuse(
    ranked: "list[DataFrame]",
    *,
    id_col: str = "doc_id",
    rank_col: str = "rank",
    k_const: int = 60,
    top_k: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack/Clarke/Büttcher) of N retrieval
    towers — the standard hybrid-search combiner (lexical BM25 + vector
    ANN, or any ranked lists over one id space): fused score =
    Σ_towers 1/(k + rank). Rank-based, so towers with incomparable raw
    scores (µ-floored BM25 bigints vs integer dots) fuse without
    calibration; k=60 is the published default.

    Determinism: per-tower contributions are µ-floored bigints
    (``floor(1e12/(k+rank))`` — one IEEE tree, integer rank input) and
    summed exactly, so fused scores and ranks are cross-engine
    value-hashable. An id missing from a tower contributes nothing
    (UNION ALL semantics — no outer-join NULL handling needed).

    Scale shape: inputs are already per-tower top-k (bounded — each
    tower's WindowGroupLimit/TakeOrdered did the heavy lifting), so the
    union is ≤ Σ tower_k rows; the final global rank window runs on
    that bounded set, not the corpus (same boundedness argument as the
    sharded-rank offset tables). Output: (id, rrf_u, n_towers,
    fused_rank), top_k rows.
    """
    from functools import reduce

    from pyspark.sql import Window

    parts = [
        df.select(
            F.col(id_col).alias("__id"),
            F.col(rank_col).cast("bigint").alias("__r"),
        )
        for df in ranked
    ]
    u = reduce(lambda a, b: a.unionByName(b), parts)
    contrib = F.floor(
        F.lit(1000000000000.0)
        / (F.lit(float(k_const)) + F.col("__r").cast("double"))
    ).cast("bigint")
    scored = u.groupBy("__id").agg(
        F.sum(contrib).cast("bigint").alias("rrf_u"),
        F.count(F.lit(1)).cast("bigint").alias("n_towers"),
    )
    w = Window.orderBy(F.col("rrf_u").desc(), F.col("__id").asc())
    return (
        scored.withColumn("fused_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("fused_rank") <= top_k)
        .select(
            F.col("__id").alias(id_col), "rrf_u", "n_towers", "fused_rank"
        )
    )
