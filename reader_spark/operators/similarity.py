"""Similarity search over embedding columns (`array<float>`).

Beyond-reference surface (BASELINE.json): brute-force cosine top-k as
the correctness baseline, plus a bucketed (IVF-style) variant as the
scale path.

Scale design (100 TB):
  * Brute force is O(Q x N) — correct baseline, only viable when the
    query set is small: queries are BROADCAST, the corpus streams
    through a map-only stage, and top-k is a per-query window. The
    partial_topk flag pre-reduces with a bounded per-partition top-k
    (Arrow batch) so the shuffle carries <= P x Q x k rows.
  * IVF (multi-probe): corpus vectors indexed under their nearest
    coarse centroid, queries probe their nprobe nearest cells; the
    big join is an equi-join on the cluster key (skew handled by
    AQE). The quantizer is either one deterministic label-seeded
    Lloyd iteration (oracle-reproducible) or a pyspark.ml KMeans
    fitted once at ingest (`ivf_fit`, searched through the
    materialized index: `ivf_index_write` / `knn_ivf_indexed`).

The dot product folds LEFT-TO-RIGHT (`aggregate` over `zip_with`) so
the float result is bit-reproducible against the DuckDB oracle's
equivalent sequential fold.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from reader_spark.cache import pin
from reader_spark.functions.localrel import local_df


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product over double arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def knn_bruteforce(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    partial_topk: bool = False,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query id.

    Queries (small) are broadcast; corpus side never shuffles until
    the final per-query top-k window. partial_topk=True inserts a
    map-side bounded top-k before that shuffle (see _local_topk) —
    identical results, shuffle shrinks from Q x N to <= P x Q x k
    rows; flip it on when the corpus is large relative to executor
    shuffle capacity (it costs an Arrow hop, a loss at toy scale).
    """
    from pyspark.sql import Window as W

    # Self-norms are computed ONCE per row (N x D work), not once per
    # pair (Q x N x D) — same sequential fold, so the doubles are
    # bit-identical to folding inside the pair stage.
    vecs = embeddings.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("vec"),
    ).withColumn("nv", dot(F.col("vec"), F.col("vec")))
    queries = vecs.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("nv").alias("nq"),
    )
    cand = (
        vecs.join(F.broadcast(queries), F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.round(
                dot(F.col("qvec"), F.col("vec"))
                / (F.sqrt(F.col("nq")) * F.sqrt(F.col("nv"))),
                6,
            ).alias("cos_sim"),
        )
    )
    # The per-query top-k window shuffles Q x N scored rows. NB a
    # two-stage "local top-k" via a second WINDOW keyed on (query,
    # partition_id) does NOT help — window functions hash-partition
    # their input, so it would ADD a full shuffle, not remove one.
    # True map-side truncation (partial_topk) runs a bounded per-
    # partition top-k in an Arrow batch BEFORE the exchange, so the
    # shuffle carries at most P x Q x k rows instead of Q x N — the
    # 100 TB path once Q x N x 24 B exceeds comfortable shuffle
    # volume. Exact: per-partition top-k under the SAME (score desc,
    # id asc) order is a lossless pre-filter for the global top-k.
    if partial_topk:
        cand = _local_topk(cand, k)
    w = W.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


def _local_topk(cand: DataFrame, k: int) -> DataFrame:
    """Per-PARTITION per-query top-k over (query_id, neighbor_id,
    cos_sim) via mapInPandas — a bounded-heap combine the built-in
    aggregates can't express (collect_list would still move the full
    list through the exchange). Arrow-batched, numpy sort; emits at
    most Q x k rows per partition, preserving the global tie-break
    order (cos_sim desc, neighbor_id asc)."""
    import pandas as pd

    schema = cand.schema

    def combine(batches):
        acc: dict = {}
        for pdf in batches:
            frames = acc.setdefault("f", [])
            frames.append(pdf)
            # keep the running accumulator bounded: re-truncate once
            # the buffered rows exceed 4x the output bound
            if sum(len(f) for f in frames) > 4 * max(1_000, k * 64):
                acc["f"] = [_truncate(pd.concat(frames, ignore_index=True), k)]
        frames = acc.get("f", [])
        if frames:
            yield _truncate(pd.concat(frames, ignore_index=True), k)

    def _truncate(pdf, kk):
        pdf = pdf.sort_values(
            ["query_id", "cos_sim", "neighbor_id"],
            ascending=[True, False, True],
        )
        return pdf.groupby("query_id", sort=False).head(kk)

    return cand.mapInPandas(combine, schema)


def label_seeded_centroids(
    vecs: DataFrame,
    cluster_col: str = "cluster",
    id_col: str = "vec_id",
    vec_col: str = "vec",
) -> DataFrame:
    """Coarse-quantizer centroids: one Lloyd iteration seeded by an
    existing grouping column — (cl, c, nc) with c the per-group mean
    vector.

    Bit-reproducible across engines: the element-wise vector sum folds
    SEQUENTIALLY in id order (sorted collect_list, fold from the first
    element — exactly DuckDB's `list_reduce(list(v ORDER BY id))`), so
    the float centroids are identical to the oracle's. The collected
    per-group list is the training cost — this runs once at ingest;
    the production path is `ivf_fit` (pyspark.ml KMeans)."""
    sorted_vecs = F.transform(
        F.array_sort(
            F.collect_list(F.struct(F.col(id_col).alias("i"), F.col(vec_col).alias("v")))
        ),
        lambda s: s.getField("v"),
    )
    summed = F.aggregate(
        F.slice(sorted_vecs, 2, 2_000_000_000),
        F.get(sorted_vecs, 0),
        lambda acc, v: F.zip_with(acc, v, lambda a, b: a + b),
    )
    n = F.size(sorted_vecs).cast("double")
    centroid = F.transform(summed, lambda x: x / n)
    return (
        vecs.groupBy(F.col(cluster_col).alias("cl"))
        .agg(centroid.alias("c"))
        .withColumn("nc", dot(F.col("c"), F.col("c")))
    )


def _nearest_cluster_arrow(
    side: DataFrame, cents: DataFrame, id_col: str
) -> DataFrame:
    """nprobe=1 cluster attach as ONE Arrow map-only pass: every
    side column passes through untouched, `cl` is attached. No join,
    no aggregate, no shuffle — the assignment is a pure projection
    of the row against the closed-over centroid matrix. The distance
    matrix is bit-identical to the SQL form `nv - 2*dot + nc` with a
    left-fold dot (sequential cumsum == the fold), and argmin-first
    over ascending-cl centroids == min(struct(dist, cl)).

    Contract notes: this pass emits one output row PER INPUT ROW —
    callers must feed unique ids (every in-repo caller does: the side
    is a projected corpus keyed by its primary id). Output columns
    are `id_col` first, then passthrough, then `cl` (a final
    projection), the same order as the nprobe>1 window. `cents` is
    collect()ed at PLAN-CONSTRUCTION time — a bounded control-plane
    read (K centroid rows by construction), same class as the IVF
    directory reads."""
    import numpy as np

    rows = sorted(cents.collect(), key=lambda r: r["cl"])
    passthrough = [c for c in side.columns if c != id_col]
    if not rows:
        # empty centroid frame: no row has a nearest centroid, so
        # return an empty frame instead of crashing the (0,)-shape
        # unpack below, in the SAME column order as the non-empty
        # path
        return (
            side.withColumn(
                "cl", F.lit(None).cast(cents.schema["cl"].dataType)
            )
            .limit(0)
            .select(id_col, *passthrough, "cl")
        )
    CL = np.asarray([r["cl"] for r in rows], dtype=np.int64)
    C = np.asarray([list(r["c"]) for r in rows], dtype=np.float64)
    NC = np.asarray([r["nc"] for r in rows], dtype=np.float64)
    n_c, dim = C.shape
    cl_field = cents.schema["cl"]
    from pyspark.sql import types as T

    schema = T.StructType(
        list(side.schema.fields)
        + [T.StructField("cl", cl_field.dataType, True)]
    )
    max_rows = max(1, (32 << 20) // max(1, n_c * dim))

    def compute(iterator):
        for pdf in iterator:
            n = len(pdf)
            if n == 0:
                continue
            V = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf["vec"]]
            )
            nv = pdf["nv"].to_numpy(dtype=np.float64)
            cl = np.empty(n, dtype=np.int64)
            for lo in range(0, n, max_rows):
                hi = min(n, lo + max_rows)
                dots = np.cumsum(
                    V[lo:hi, None, :] * C[None, :, :], axis=2
                )[:, :, -1]
                dist = (nv[lo:hi, None] - 2.0 * dots) + NC[None, :]
                cl[lo:hi] = CL[np.argmin(dist, axis=1)]
            out = pdf.copy()
            out["cl"] = cl
            yield out

    return side.mapInPandas(compute, schema).select(
        id_col, *passthrough, "cl"
    )


def nearest_clusters(
    side: DataFrame,
    cents: DataFrame,
    nprobe: int,
    id_col: str,
) -> DataFrame:
    """Attach each row's `nprobe` nearest centroids (squared-L2 argmin,
    ties broken by cluster id). Centroids are a handful of rows —
    broadcast nested-loop against them. At 100 TB this is the
    ingest-time assignment job; its output column is what the big
    equi-join keys on.

    nprobe=1 (the corpus-sized side) runs the Arrow kernel
    `_nearest_cluster_arrow`: map-only, no shuffle at all, and `side`
    rows must be unique on `id_col` (rows pass through 1:1). nprobe>1
    keeps the window; it only ever runs on the tiny query side. Both
    emit `id_col` first, then the passthrough columns, then `cl`."""
    from pyspark.sql import Window as W

    if nprobe == 1:
        return _nearest_cluster_arrow(side, cents, id_col)
    dist = F.col("nv") - F.lit(2.0) * dot(F.col("vec"), F.col("c")) + F.col("nc")
    joined = side.join(F.broadcast(cents), F.lit(True)).withColumn("__dist", dist)
    w = W.partitionBy(id_col).orderBy(F.col("__dist").asc(), F.col("cl").asc())
    return (
        joined.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= nprobe)
        .drop("__r", "__dist", "c", "nc")
    )


def _topk_probed(
    corpus: DataFrame, probes: DataFrame, k: int, id_col: str
) -> DataFrame:
    """Equi-join corpus (indexed under its nearest centroid) against
    the query probe lists on the cluster key, score cosine, keep
    per-query top-k. A (query, neighbor) pair appears at most once —
    the corpus side has exactly one assignment — so no dedup shuffle."""
    from pyspark.sql import Window as W

    cand = corpus.join(
        probes,
        (F.col("cl") == F.col("qcl")) & (F.col(id_col) != F.col("query_id")),
    ).select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        F.round(
            dot(F.col("qvec"), F.col("vec"))
            / (F.sqrt(F.col("nq")) * F.sqrt(F.col("nv"))),
            6,
        ).alias("cos_sim"),
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


def knn_ivf(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_col: str = "label",
    nprobe: int = 2,
) -> DataFrame:
    """Multi-probe IVF ANN: corpus vectors are indexed under their
    nearest centroid; each query probes its `nprobe` nearest centroids.

    The coarse quantizer here is one label-seeded Lloyd iteration
    (deterministic -> oracle-reproducible); `ivf_fit` +
    `knn_ivf_indexed` is the pyspark.ml KMeans production path with
    identical probe mechanics. The big join is an equi-join on the
    cluster key — the candidate set shrinks ~n_clusters/nprobe-fold vs
    brute force, and AQE handles cluster-size skew."""
    vecs = embeddings.select(
        F.col(id_col),
        F.col(cluster_col).alias("cluster"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    ).withColumn("nv", dot(F.col("vec"), F.col("vec")))
    # centroids feed both the corpus assignment and the query probes —
    # persist so the training aggregation runs once, not per consumer
    cents = pin(label_seeded_centroids(vecs))
    corpus = nearest_clusters(vecs.drop("cluster"), cents, 1, id_col)
    probes = nearest_clusters(
        vecs.drop("cluster").filter(F.col(id_col).isin(query_ids)), cents, nprobe, id_col
    ).select(
        F.col(id_col).alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("nv").alias("nq"),
        F.col("cl").alias("qcl"),
    )
    return _topk_probed(corpus, probes, k, id_col)


def ann_recall_report(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_col: str = "label",
) -> DataFrame:
    """Recall@k audit of the IVF approximate path against the exact
    brute-force ranking — the acceptance gate every ANN deployment
    needs before the index serves retrieval (FAISS's own benchmarks
    report exactly this curve: recall@k vs nprobe). Per query:
    `n_exact` ground-truth neighbors, `n_hits` of them the IVF path
    returned, and `recall_ppm = n_hits*1e6 // n_exact` — integer
    outputs only (float-parity rule).

    Both rankings reuse the deterministic, individually
    oracle-checked paths (`knn_bruteforce`, `knn_ivf`), so the
    report itself is bit-reproducible. The top-k frames are Q x k
    rows — the intersection join and the per-query aggregate are
    driver-trivial no matter the corpus size; the corpus cost is the
    two underlying searches, each already bounded (brute force is
    the ground-truth pass you run ON A SAMPLE at 100 TB — pass the
    sampled frame in as `embeddings`)."""
    exact = knn_bruteforce(
        embeddings, query_ids, k=k, id_col=id_col, vec_col=vec_col
    ).select("query_id", "neighbor_id")
    approx = knn_ivf(
        embeddings,
        query_ids,
        k=k,
        id_col=id_col,
        vec_col=vec_col,
        cluster_col=cluster_col,
        nprobe=nprobe,
    ).select("query_id", "neighbor_id", F.lit(1).alias("hit"))
    return (
        exact.join(approx, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("*").alias("n_exact"),
            F.coalesce(F.sum("hit"), F.lit(0)).cast("long").alias("n_hits"),
        )
        .withColumn(
            "recall_ppm", F.expr("(n_hits * 1000000) div n_exact")
        )
    )


def ivf_fit(
    embeddings: DataFrame,
    n_clusters: int = 16,
    seed: int = 7,
    vec_col: str = "embedding",
):
    """Production coarse quantizer: pyspark.ml KMeans fitted ONCE at
    ingest (the model is a handful of centroids; assignments are a
    stored column, recomputed only on refit)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = embeddings.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
    )
    return KMeans(k=n_clusters, seed=seed, featuresCol="features").fit(feats)


def _kmeans_vecs(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed_col: str = "label",
) -> DataFrame:
    """Shared pinned (id, cluster, vec, nv) frame for the Lloyd
    family. Deliberately NOT spread: per-row numeric work here (one
    64-dim fold per row) is ~1000x lighter than the md5 text passes
    `ensure_parallelism` exists for, and an r12 A/B showed spreading
    the 2000-row embeddings scan to defaultParallelism made every
    Lloyd stage a 32-tiny-task stage and regressed the whole family
    (cluster_sample 0.73 s -> 1.71 s, cluster_health 1.05 -> 2.23,
    embedding_clusters 1.14 -> 2.33 best-of-3). Consumers that need
    parallel downstream work key it from a shuffle (e.g.
    semdedup_prune's merge-hinted dominance join on `cl`) rather
    than pre-spreading this frame."""
    return pin(
        embeddings.select(
            F.col(id_col),
            F.col(seed_col).alias("cluster"),
            F.col(vec_col).cast("array<double>").alias("vec"),
        ).withColumn("nv", dot(F.col("vec"), F.col("vec")))
    )


def kmeans_lloyd(
    vecs: DataFrame,
    n_iters: int = 2,
    id_col: str = "vec_id",
) -> DataFrame:
    """`n_iters` deterministic Lloyd iterations from the label-seeded
    centroids: re-assign (`nearest_clusters`' map-only kernel over
    the collected centroids) then re-average (sorted sequential fold
    — bit-identical to the DuckDB oracle's
    `list_reduce(list(v ORDER BY id))`).

    Returns the final centroid table (cl, c, nc). Each iteration is
    one map-only assignment pass plus one mean aggregation — the
    canonical broadcast-Lloyd shape that scales to any corpus size
    (centroid count, not corpus size, bounds the broadcast). The
    trained-model production path is `ivf_fit` (pyspark.ml KMeans);
    this variant exists for oracle-reproducible clustering.

    Expects `vecs` with (id_col, cluster, vec, nv) — the `knn_ivf`
    input shape."""
    cents = label_seeded_centroids(vecs)
    for _ in range(max(0, n_iters - 1)):
        assigned = nearest_clusters(vecs.drop("cluster"), cents, 1, id_col)
        cents = label_seeded_centroids(assigned, cluster_col="cl", vec_col="vec")
    return cents


def kmeans_clusters(
    embeddings: DataFrame,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed_col: str = "label",
) -> DataFrame:
    """Cluster census after `n_iters` Lloyd iterations: one row per
    non-empty cluster with its member count and medoid-style
    representative (the member nearest the final centroid, ties by
    id) — the cluster map a SemDeDup-style semantic curation pass
    starts from (cf. reference's grouped-aggregation surface; this is
    beyond-reference LLM-pipeline capability).

    All outputs are integers (ids/counts) so the oracle check is
    float-free; distances are compared, never emitted. Plan shape:
    K-row centroid reads + per-iteration (a) a map-only assignment
    pass (no exchange) and (b) the
    centroid re-average, which shuffles each cluster's vectors to one
    task for the sorted sequential fold — the price of
    bit-reproducible float means (the oracle path; at 100 TB train
    the quantizer with `ivf_fit` on a sample, where the mean is a
    true partial aggregate and K scales with the corpus). The census
    aggregation itself is min-struct partial-aggregated, K rows out."""
    vecs = _kmeans_vecs(embeddings, id_col, vec_col, seed_col)
    cents = kmeans_lloyd(vecs, n_iters=n_iters, id_col=id_col)
    final = nearest_clusters(vecs.drop("cluster"), cents, 1, id_col)
    scored = final.join(F.broadcast(cents), "cl").withColumn(
        "__dist",
        F.col("nv") - F.lit(2.0) * dot(F.col("vec"), F.col("c")) + F.col("nc"),
    )
    return (
        scored.groupBy(F.col("cl").alias("cluster_id"))
        .agg(
            F.count("*").alias("n_members"),
            F.min(F.struct(F.col("__dist"), F.col(id_col))).alias("__m"),
        )
        .select(
            "cluster_id",
            "n_members",
            F.col("__m").getField(id_col).alias("rep_id"),
        )
    )


def kmeans_assign(
    embeddings: DataFrame,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed_col: str = "label",
) -> DataFrame:
    """Per-vector cluster assignment after `n_iters` Lloyd iterations
    (id_col, vec, nv, cl) — the ingest-time labeling job downstream
    cluster-aware curation (balanced sampling, SemDeDup pruning)
    keys on."""
    vecs = _kmeans_vecs(embeddings, id_col, vec_col, seed_col)
    cents = kmeans_lloyd(vecs, n_iters=n_iters, id_col=id_col)
    return nearest_clusters(vecs.drop("cluster"), cents, 1, id_col)


def _health_stats(scored: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """Mergeable per-cluster health frame from a scored (cl, dist)
    frame: (cluster_id, n_members, sum_err_ppm, worst_id,
    worst_err_ppm). Every field is a monoid — counts and integer-ppm
    sums add, the worst member max-merges on (err DESC, id ASC) — so
    incremental maintenance unions partial frames and re-aggregates
    without touching prior rows' inputs."""
    err = F.floor(F.col("dist") * F.lit(1_000_000.0)).cast("long")
    return (
        scored.withColumn("__err", err)
        .groupBy(F.col("cl").alias("cluster_id"))
        .agg(
            F.count("*").alias("n_members"),
            F.sum("__err").alias("sum_err_ppm"),
            F.max(
                F.struct(
                    F.col("__err").alias("err"),
                    (-F.col(id_col)).alias("nid"),
                )
            ).alias("__w"),
        )
        .select(
            "cluster_id",
            "n_members",
            "sum_err_ppm",
            (-F.col("__w.nid")).alias("worst_id"),
            F.col("__w.err").alias("worst_err_ppm"),
        )
    )


def cluster_health(
    embeddings: DataFrame,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed_col: str = "label",
) -> DataFrame:
    """Quantizer-health report — the refit signal `ivf_index_update`
    punts on ('refit remains a full ivf_index_write'): per cluster,
    occupancy and quantization error, so an operator can alarm on
    occupancy skew (cells going hot shift search cost onto few
    directories) or error creep (centroid drift degrading recall).

    Float-parity by construction: the per-row squared-L2 error is
    floored to integer ppm BEFORE aggregation, so the cross-engine
    comparison only ever sees order-independent integer sums/maxes —
    no double is emitted or summed (the r5 float rule). `worst_id` is
    the argmax member (ties to the smaller id): where to look first
    when a cluster degrades.

    Scale: one assignment pass + one K-group integer aggregate —
    partial-aggregated map-side, K rows out. On a stored IVF index
    the same report reads (id, cl, vec) columns only; run it on the
    maintenance cadence, not per query."""
    scored = kmeans_assign_scored(
        embeddings,
        n_iters=n_iters,
        id_col=id_col,
        vec_col=vec_col,
        seed_col=seed_col,
    )
    return _with_mean_err(_health_stats(scored, id_col))


def _with_mean_err(stats: DataFrame) -> DataFrame:
    """Attach the derived floor-mean column in the report order.
    floor(double-division): both engines' IEEE division is correctly
    rounded, and an exactly-integer quotient means sum == k*n is
    exactly representable — floor never straddles an engine boundary
    (vs cast, where Spark truncates and DuckDB rounds)."""
    return stats.select(
        "cluster_id",
        "n_members",
        "sum_err_ppm",
        F.floor(F.col("sum_err_ppm") / F.col("n_members")).alias(
            "mean_err_ppm"
        ),
        "worst_id",
        "worst_err_ppm",
    )


def kmeans_assign_scored(
    embeddings: DataFrame,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed_col: str = "label",
) -> DataFrame:
    """`kmeans_assign` plus the squared-L2 distance to the assigned
    centroid (`dist`) — the geometry key SemDeDup-style pruning ranks
    duplicates by and the census medoid step minimizes. One extra
    K-row broadcast join over `kmeans_assign`; the distance expression
    is the same `nv - 2<vec,c> + nc` shape `nearest_clusters` scored
    with, so it is bit-identical to the argmin's winning value (and to
    the DuckDB oracle's)."""
    vecs = _kmeans_vecs(embeddings, id_col, vec_col, seed_col)
    cents = kmeans_lloyd(vecs, n_iters=n_iters, id_col=id_col)
    assigned = nearest_clusters(vecs.drop("cluster"), cents, 1, id_col)
    return (
        assigned.join(F.broadcast(cents), "cl")
        .withColumn(
            "dist",
            F.col("nv")
            - F.lit(2.0) * dot(F.col("vec"), F.col("c"))
            + F.col("nc"),
        )
        .drop("c", "nc")
    )


# ---------------------------------------------------------------------------
# scalar-quantized (int8) ANN — the memory-bandwidth scale path


def ivf_index_write(
    embeddings: DataFrame,
    path: str,
    model,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the IVF index: centroids (tiny) and the corpus
    WITH its cluster assignment, written as parquet partitioned by
    the cluster key — searches then read ONLY the probed cells
    (directory pruning), the disk layout equivalent of the equi-join
    cell restriction. Run at ingest; refresh on refit.
    """
    from reader_spark.operators import atomic_dir

    spark = embeddings.sparkSession
    cents = local_df(
        spark,
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "cl int, c array<double>",
    ).withColumn("nc", dot(F.col("c"), F.col("c")))
    vecs = embeddings.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("vec")
    ).withColumn("nv", dot(F.col("vec"), F.col("vec")))
    assigned = nearest_clusters(vecs, cents, 1, id_col)

    # Pointer-flip published as ONE unit (centroids + corpus): a
    # REFIT writes a complete fresh version while searches keep
    # reading the live one, then flips — a crash mid-refit leaves the
    # previous index intact (before this, a crashed rebuild left a
    # torn corpus and no recovery short of re-embedding). The
    # displaced version is retained one publish long (in-flight
    # readers), so refits transiently hold 2x index storage — the
    # same retention economics as every pointer-flip sink here.
    def write_fn(vdir: str) -> None:
        cents.write.mode("overwrite").parquet(f"{vdir}/centroids")
        (
            assigned.repartition(F.col("cl"))
            .write.mode("overwrite")
            .partitionBy("cl")
            .parquet(f"{vdir}/corpus")
        )

    atomic_dir.publish(path, write_fn)


def ivf_index_update(
    spark,
    path: str,
    new_embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[int]:
    """Incremental IVF maintenance: assign the NEW/CHANGED vectors
    under the STORED centroids and rewrite ONLY their target cell
    directories (dynamic partition overwrite) — existing rows whose
    ids reappear in the delta are replaced (upsert), all other cells'
    files are untouched. Returns the touched cell ids.

    This is the ingest-path companion of `ivf_index_write`: the index
    stays fresh per micro-batch without a corpus-wide rebuild, and a
    search via `knn_ivf_indexed` sees results identical to a full
    re-index under the same quantizer (asserted in
    test_dedup_similarity.py). Quantizer REFIT (centroid drift)
    remains a full `ivf_index_write` — updating assignments without
    their centroids would silently degrade recall.

    A CHANGED vector can move cells: its new assignment lands in cell
    B while its old row sits in cell A. The touched set therefore
    unions the delta's NEW cells with the OLD home cells of every
    delta id — found by an (id, cl)-column-pruned semi-join probe of
    the stored corpus — so the stale row in A is dropped when A is
    rewritten, not left behind as a duplicate.

    Scale: the delta assignment is delta-sized (broadcast centroids);
    the rewrite reads + writes k touched cells of ~N/n_clusters rows
    each. The old-home probe reads only the (id, cl) columns of the
    corpus (parquet column pruning) against a broadcast delta-id set;
    at the 10^8-vector tier, replace the probe with a maintained
    id->cell reverse index (same bucketed layout). The touched-cell
    list comes from the tiny delta frame plus that probe, not from
    the written frame — re-deriving it from the full merged frame
    would re-run the merge (the measured 3x trap)."""
    from reader_spark.operators import atomic_dir

    # Updates mutate the LIVE version's cell dirs in place (dynamic
    # partition overwrite is already the per-cell idempotent-replace
    # contract); only full rebuilds/refits publish a new version.
    root = atomic_dir.resolve(path)
    cents = spark.read.parquet(f"{root}/centroids")
    vecs = new_embeddings.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("vec")
    ).withColumn("nv", dot(F.col("vec"), F.col("vec")))
    assigned = nearest_clusters(vecs, cents, 1, id_col)
    corpus = spark.read.parquet(f"{root}/corpus")
    delta_ids = assigned.select(id_col).distinct()
    old_homes = (
        corpus.select(id_col, "cl")
        .join(F.broadcast(delta_ids), id_col, "left_semi")
        .select("cl")
        .distinct()
    )
    touched = sorted(
        {r["cl"] for r in assigned.select("cl").distinct().collect()}
        | {r["cl"] for r in old_homes.collect()}
    )
    old = corpus.filter(F.col("cl").isin(touched))
    merged = old.join(
        assigned.select(id_col), id_col, "left_anti"
    ).unionByName(assigned.select(*old.columns))
    _overwrite_cells(spark, merged, f"{root}/corpus", touched)
    return touched


def _overwrite_cells(spark, merged: DataFrame, dest: str, touched: list) -> None:
    """Dynamic-partition-overwrite `merged` into `dest`'s cell dirs,
    then REMOVE the directories of touched cells that ended empty —
    dynamic overwrite cannot express an empty partition, so without
    this a cell whose every row moved away in an update would keep
    its stale files and resurrect moved ids at search time."""
    import shutil

    surviving = {r["cl"] for r in merged.select("cl").distinct().collect()}
    if surviving:
        (
            merged.repartition(F.col("cl"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("cl")
            .parquet(dest)
        )
    for c in touched:
        if c not in surviving:
            shutil.rmtree(f"{dest}/cl={c}", ignore_errors=True)


def ivf_index_maintain(
    spark,
    path: str,
    max_files_per_cell: int = 4,
    target_bytes: int = 128 << 20,
) -> dict[str, int]:
    """Compact the incremental IVF index's cell directories: each
    `ivf_index_update` rewrite wave can leave multiple files per
    touched cell (and streamed updates accrete them). Row-preserving
    (search results identical before and after — asserted in
    test_dedup_similarity.py); the ANN-index counterpart of
    `bm25_index_maintain`."""
    from reader_spark.operators import atomic_dir
    from reader_spark.operators.transfer import compact_partition_dirs

    return compact_partition_dirs(
        spark,
        f"{atomic_dir.resolve(path)}/corpus",
        max_files_per_cell,
        target_bytes,
    )


def ivf_index_maintainer(path: str, id_col: str = "vec_id", vec_col: str = "embedding"):
    """`foreachBatch` body keeping a materialized IVF index fresh
    from an embedding STREAM: each micro-batch is an
    `ivf_index_update` delta (assign under stored centroids, rewrite
    touched cells only). Pair with a checkpointed writeStream for
    at-least-once; the per-id replace in `ivf_index_update` makes
    replays idempotent — the same write-then-commit + idempotent-sink
    contract as the CDC transfer path (K1/K3).

        stream.writeStream.foreachBatch(ivf_index_maintainer(path))
              .option("checkpointLocation", ckpt).start()
    """

    def body(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        ivf_index_update(
            batch_df.sparkSession, path, batch_df, id_col, vec_col
        )

    return body


def _scored_under_stored(spark, index_path: str, vecs: DataFrame) -> DataFrame:
    """(.., cl, dist) of `vecs` rows assigned+scored under the STORED
    centroids of a materialized IVF index — one broadcast join, no
    refit."""
    from reader_spark.operators import atomic_dir

    cents = spark.read.parquet(
        f"{atomic_dir.resolve(index_path)}/centroids"
    )
    assigned = nearest_clusters(vecs, cents, 1, "vec_id")
    return assigned.join(F.broadcast(cents), "cl").withColumn(
        "dist",
        F.col("nv") - F.lit(2.0) * dot(F.col("vec"), F.col("c")) + F.col("nc"),
    )


def ivf_health_write(
    spark, index_path: str, health_path: str, epoch: int | None = None
) -> None:
    """Full health scan of a materialized IVF index: per-cell
    occupancy + integer-ppm quantization error of every stored row
    under the stored centroids, pointer-flip published (readers never
    see a torn table). Run at index build; `ivf_health_update` keeps
    it fresh per micro-batch after that. The K-row output is the
    refit trigger's input: alarm on occupancy skew or mean/worst
    error creep, then run a full `ivf_index_write` refit.

    `epoch` stamps the rebuilt table with the batch id that caused
    it (the autorefit path passes its batch_id): without it the
    rebuild resets the epoch to -1, and a crash between the refit
    and the stream checkpoint commit would let the REPLAYED batch's
    `ivf_health_update` monoid-merge a delta the rescan already
    counted — double-counted n_members/sum_err_ppm."""
    from reader_spark.operators import atomic_dir

    corpus = spark.read.parquet(
        f"{atomic_dir.resolve(index_path)}/corpus"
    ).select("vec_id", "vec", "nv")
    stats = _health_stats(_scored_under_stored(spark, index_path, corpus))

    def write_fn(vdir: str) -> None:
        stats.coalesce(1).write.mode("overwrite").parquet(vdir)
        atomic_dir.write_epoch(vdir, epoch)

    atomic_dir.publish(health_path, write_fn)


def ivf_health_update(
    spark,
    index_path: str,
    health_path: str,
    new_embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    epoch: int | None = None,
) -> None:
    """Incremental health maintenance: score ONLY the delta under the
    stored centroids and monoid-merge into the stats table (counts
    and ppm sums add, the worst member max-merges) — update == a full
    `ivf_health_write` rescan, exactly, because every field is an
    integer monoid (asserted in test_kmeans.py). The rescan the full
    write performs never happens again; per batch this reads a K-row
    table and a delta.

    Append-only contract (same as `bm25_index_update`): delta ids
    must be NEW — a changed vector's previous error contribution
    cannot be subtracted from the sums without its old row; id
    replacement needs the rescan. Crash-replay exactly-once comes
    from `epoch` (the foreachBatch batch id): the marker publishes
    ATOMICALLY with the stats via the pointer flip, an
    already-applied epoch is skipped, and a crash mid-publish leaves
    the previous stats+epoch live."""
    from reader_spark.operators import atomic_dir

    root = atomic_dir.resolve(health_path)
    stamp = atomic_dir.epoch_gate(root, epoch)
    if stamp is None:
        return
    vecs = new_embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    ).withColumn("nv", dot(F.col("vec"), F.col("vec")))
    delta = _health_stats(_scored_under_stored(spark, index_path, vecs))
    merged = (
        spark.read.parquet(root)
        .unionByName(delta)
        .groupBy("cluster_id")
        .agg(
            F.sum("n_members").alias("n_members"),
            F.sum("sum_err_ppm").alias("sum_err_ppm"),
            F.max(
                F.struct(
                    F.col("worst_err_ppm").alias("err"),
                    (-F.col("worst_id")).alias("nid"),
                )
            ).alias("__w"),
        )
        .select(
            "cluster_id",
            "n_members",
            "sum_err_ppm",
            (-F.col("__w.nid")).alias("worst_id"),
            F.col("__w.err").alias("worst_err_ppm"),
        )
    )

    def write_fn(vdir: str) -> None:
        merged.coalesce(1).write.mode("overwrite").parquet(vdir)
        atomic_dir.write_epoch(vdir, stamp)

    atomic_dir.publish(health_path, write_fn)


def ivf_health_read(spark, health_path: str) -> DataFrame:
    """The health report (with the derived floor-mean column),
    resolving the pointer-published layout."""
    from reader_spark.operators import atomic_dir

    return _with_mean_err(spark.read.parquet(atomic_dir.resolve(health_path)))


def ivf_refit_check(
    spark,
    health_path: str,
    baseline_path: str,
    max_skew_ppm: int = 4_000_000,
    max_err_growth_ppm: int = 300_000,
) -> dict:
    """The refit decision, from two K-row tables (bounded
    control-plane read — no corpus access): current health vs the
    baseline snapshotted at the last (re)fit.

    Trips on either signal the IVF literature refits for:
    - occupancy skew: max cell / mean cell occupancy (ppm) above
      `max_skew_ppm` — hot cells shift search cost onto few
      directories and starve nprobe recall;
    - error creep: corpus-wide mean quantization error grown more
      than `max_err_growth_ppm` (ppm of the baseline mean) — the
      stored centroids no longer describe the distribution.

    Returns the integer evidence alongside the boolean so operators
    can log WHY a refit fired."""
    cur = {r["cluster_id"]: r for r in ivf_health_read(spark, health_path).collect()}
    base = {
        r["cluster_id"]: r for r in ivf_health_read(spark, baseline_path).collect()
    }
    n_total = sum(r["n_members"] for r in cur.values())
    err_total = sum(r["sum_err_ppm"] for r in cur.values())
    mean_err = err_total // max(n_total, 1)
    base_n = sum(r["n_members"] for r in base.values())
    base_err = sum(r["sum_err_ppm"] for r in base.values())
    base_mean = base_err // max(base_n, 1)
    max_cell = max((r["n_members"] for r in cur.values()), default=0)
    skew_ppm = (max_cell * 1_000_000 * max(len(cur), 1)) // max(n_total, 1)
    growth_ppm = (
        ((mean_err - base_mean) * 1_000_000) // max(base_mean, 1)
        if base_mean > 0
        else 0
    )
    return {
        "refit": skew_ppm > max_skew_ppm or growth_ppm > max_err_growth_ppm,
        "skew_ppm": skew_ppm,
        "err_growth_ppm": growth_ppm,
        "mean_err_ppm": mean_err,
        "baseline_mean_err_ppm": base_mean,
        "n_members": n_total,
    }


def ivf_autorefit_maintainer(
    index_path: str,
    health_path: str,
    baseline_path: str,
    n_clusters: int = 16,
    max_skew_ppm: int = 4_000_000,
    max_err_growth_ppm: int = 300_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """The complete ingest loop as one `foreachBatch` body: update
    the index (touched cells only) and the health table (K-row
    monoid merge), then consult `ivf_refit_check` — and when drift or
    skew trips it, run the full refit (`ivf_fit` + `ivf_index_write`)
    and re-baseline both health tables. Between refits no corpus
    rescan ever happens; the refit itself is the one the incremental
    path was always deferring, now fired by measured evidence instead
    of a human guess.

    Refit cost note: the refit re-reads the stored corpus (it is the
    corpus-wide operation by definition) — at 100 TB, schedule the
    maintainer on the compaction cadence and the check stays K-row
    cheap per batch."""

    def body(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        ivf_index_update(spark, index_path, batch_df, id_col, vec_col)
        ivf_health_update(
            spark, index_path, health_path, batch_df, id_col, vec_col,
            epoch=batch_id,
        )
        verdict = ivf_refit_check(
            spark, health_path, baseline_path, max_skew_ppm,
            max_err_growth_ppm,
        )
        if verdict["refit"]:
            from reader_spark.operators import atomic_dir

            # Read the LIVE version; ivf_index_write publishes the
            # refit as a NEW version and flips — no read-overwrite
            # conflict, and a crash mid-refit leaves this one intact.
            corpus = spark.read.parquet(
                f"{atomic_dir.resolve(index_path)}/corpus"
            ).select(F.col(id_col), F.col("vec").alias(vec_col))
            model = ivf_fit(corpus, n_clusters, vec_col=vec_col)
            ivf_index_write(corpus, index_path, model, id_col, vec_col)
            # Carry this batch's epoch onto the rebuilt tables: the
            # rescan already includes this batch's rows (index_update
            # ran first), so a crash-replay of this batch must hit
            # the epoch skip in ivf_health_update, not re-merge.
            ivf_health_write(spark, index_path, health_path, epoch=batch_id)
            ivf_health_write(spark, index_path, baseline_path, epoch=batch_id)

    return body


def knn_ivf_indexed(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Search a materialized IVF index: probe the stored centroids,
    read ONLY the probed cluster partitions (partition pruning on the
    `cl` directory key — the scan never touches unprobed cells), and
    rank candidates by exact cosine. The stored `nv` norms make the
    search scan-only: no per-corpus-row recompute at query time."""
    from pyspark.sql import Window as W

    from reader_spark.operators import atomic_dir

    root = atomic_dir.resolve(path)
    cents = spark.read.parquet(f"{root}/centroids")
    probes = nearest_clusters(
        queries.select(
            F.col(id_col),
            F.col(vec_col).cast("array<double>").alias("vec"),
        ).withColumn("nv", dot(F.col("vec"), F.col("vec"))),
        cents,
        nprobe,
        id_col,
    ).select(
        F.col(id_col).alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("nv").alias("nq"),
        F.col("cl").alias("qcl"),
    )
    probed_cells = [r["qcl"] for r in probes.select("qcl").distinct().collect()]
    corpus = spark.read.parquet(f"{root}/corpus").filter(
        F.col("cl").isin(probed_cells)
    )
    cand = corpus.join(
        F.broadcast(probes),
        (F.col("cl") == F.col("qcl")) & (F.col(id_col) != F.col("query_id")),
    ).select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        F.round(
            dot(F.col("qvec"), F.col("vec"))
            / (F.sqrt(F.col("nq")) * F.sqrt(F.col("nv"))),
            6,
        ).alias("cos_sim"),
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


def ivf_pq_index_write(
    embeddings: DataFrame,
    path: str,
    model,
    m: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    books: DataFrame | None = None,
) -> None:
    """Materialize the IVF index WITH resident PQ codes — the
    production shape `knn_ivf_pq` models in-query: alongside the
    centroids and the cell-partitioned corpus, store the tiny PQ
    codebooks (codewords seeded from the per-cell means, one
    deterministic Lloyd step — same quantizer family as the coarse
    level) and every vector's (s, code) rows partitioned by the SAME
    cell key. A search then reads int8-scale codes from ONLY the
    probed cell directories and touches full vectors just for the
    rescore rows. Published as ONE pointer-flip version: a crashed
    rebuild leaves the live index (corpus+codes+books consistent)
    serving.

    Maintenance contract: rebuild/refit-time (this writer). The
    incremental per-cell update path (`ivf_index_update`) serves the
    plain IVF layout; extending it here means encoding the delta
    under the STORED books and dynamic-overwriting the same touched
    cells in `codes/` — books must NOT be refit incrementally (codes
    already written would silently decode against the wrong
    codewords). Pass `books` to rebuild under EXISTING codebooks
    (e.g. compacting an incrementally-grown index without a codebook
    refit); omit it to (re)fit codewords from this corpus."""
    from reader_spark.operators import atomic_dir

    spark = embeddings.sparkSession
    cents = local_df(
        spark,
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "cl int, c array<double>",
    ).withColumn("nc", dot(F.col("c"), F.col("c")))
    vecs = embeddings.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("vec")
    ).withColumn("nv", dot(F.col("vec"), F.col("vec")))
    assigned = pin(nearest_clusters(vecs, cents, 1, id_col))
    if books is None:
        books = pq_codebooks(
            assigned.withColumn("cluster", F.col("cl")), m, dim, id_col=id_col
        )
    books = pin(books)
    codes = pq_encode(assigned, books, m, dim, id_col=id_col).join(
        assigned.select(id_col, "cl"), id_col
    )

    def write_fn(vdir: str) -> None:
        cents.write.mode("overwrite").parquet(f"{vdir}/centroids")
        books.write.mode("overwrite").parquet(f"{vdir}/books")
        (
            assigned.repartition(F.col("cl"))
            .write.mode("overwrite")
            .partitionBy("cl")
            .parquet(f"{vdir}/corpus")
        )
        (
            codes.repartition(F.col("cl"))
            .write.mode("overwrite")
            .partitionBy("cl")
            .parquet(f"{vdir}/codes")
        )

    atomic_dir.publish(path, write_fn)


def knn_ivf_pq_indexed(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    rerank: int = 10,
    nprobe: int = 2,
    m: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Search the materialized IVF+PQ index: probe the stored
    centroids, read (s, code) rows from ONLY the probed cell
    DIRECTORIES (partition pruning — the approximate pass never
    touches a vector), score by broadcast-LUT ADC in fixed subspace
    order, then rescore the top `rerank` with exact cosine using
    corpus rows read from the same probed cells. The scan-side cost
    per query is m bytes per candidate plus `rerank` full vectors —
    `knn_ivf_pq`'s join plan with the one-time work (assignment,
    codebooks, encoding) amortized into the index."""
    from pyspark.sql import Window as W

    from reader_spark.operators import atomic_dir

    root = atomic_dir.resolve(path)
    cents = spark.read.parquet(f"{root}/centroids")
    books = spark.read.parquet(f"{root}/books")
    sub = dim // m
    probes = nearest_clusters(
        queries.select(
            F.col(id_col),
            F.col(vec_col).cast("array<double>").alias("vec"),
        ).withColumn("nv", dot(F.col("vec"), F.col("vec"))),
        cents,
        nprobe,
        id_col,
    ).select(
        F.col(id_col).alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("nv").alias("nq"),
        F.col("cl").alias("qcl"),
    )
    probed_cells = [r["qcl"] for r in probes.select("qcl").distinct().collect()]
    qsub = (
        probes.select("query_id", "qvec")
        .distinct()
        .select(
            "query_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(m - 1)),
                    lambda s: F.struct(
                        s.alias("s"),
                        F.slice("qvec", s * sub + 1, sub).alias("qs"),
                    ),
                )
            ).alias("e"),
        )
        .select("query_id", F.col("e.s").alias("s"), F.col("e.qs").alias("qs"))
    )
    lut = qsub.join(F.broadcast(books), "s").select(
        F.col("query_id").alias("q2"),
        F.col("s").alias("s2"),
        "cw",
        dot(F.col("qs"), F.col("c")).alias("p"),
    )
    # probe fan-out as (query, cell) pairs; codes scan is pruned to
    # the probed cell directories
    cells = probes.select("query_id", "qcl")
    codes = spark.read.parquet(f"{root}/codes").filter(
        F.col("cl").isin(probed_cells)
    )
    joined = (
        codes.join(
            F.broadcast(cells),
            (F.col("cl") == F.col("qcl")) & (F.col(id_col) != F.col("query_id")),
        )
        .join(
            F.broadcast(lut),
            (F.col("query_id") == F.col("q2"))
            & (F.col("s") == F.col("s2"))
            & (F.col("code") == F.col("cw")),
        )
        .select(F.col(id_col).alias("neighbor_id"), "query_id", "s", "p")
    )
    ordered = sum(
        (F.sum(F.when(F.col("s") == i, F.col("p"))) for i in range(1, m)),
        F.sum(F.when(F.col("s") == 0, F.col("p"))),
    )
    approx = joined.groupBy("query_id", "neighbor_id").agg(
        ordered.alias("approx_dot")
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("approx_dot").desc(), F.col("neighbor_id")
    )
    cand = (
        approx.withColumn("arank", F.row_number().over(w))
        .filter(F.col("arank") <= rerank)
        .select("query_id", "neighbor_id")
    )
    nbr = spark.read.parquet(f"{root}/corpus").filter(
        F.col("cl").isin(probed_cells)
    ).select(
        F.col(id_col).alias("neighbor_id"),
        F.col("vec").alias("nvec"),
        F.col("nv").alias("nn"),
    )
    qv = probes.select("query_id", "qvec", "nq").distinct()
    exact = (
        cand.join(nbr, "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("qvec"), F.col("nvec"))
                / (F.sqrt(F.col("nq")) * F.sqrt(F.col("nn"))),
                6,
            ).alias("cos_sim"),
        )
    )
    w2 = W.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


# ---------------------------------------------------------------------------
# product quantization (PQ) — the codebook-compression ANN tier


def pq_codebooks(
    vecs: DataFrame,
    m: int,
    dim: int,
    cluster_col: str = "cluster",
    id_col: str = "vec_id",
    vec_col: str = "vec",
) -> DataFrame:
    """Deterministic PQ codebooks: the vector splits into `m`
    subvectors of dim/m; each subspace's codebook is the label-seeded
    per-subspace mean (one Lloyd iteration — same deterministic
    quantizer family as label_seeded_centroids, so the whole PQ
    pipeline keeps a DuckDB oracle; pyspark.ml KMeans per subspace is
    the production swap, exactly as ivf_fit is for knn_ivf).

    Returns (s, cw, c): subspace ordinal, codeword id, mean
    subvector. Output size is m x |codebook| rows — tiny; built with
    ONE aggregate over the corpus (all m subspaces in one pass).
    """
    sub = dim // m
    sorted_vecs = F.transform(
        F.array_sort(
            F.collect_list(
                F.struct(F.col(id_col).alias("i"), F.col(vec_col).alias("v"))
            )
        ),
        lambda s: s.getField("v"),
    )
    summed = F.aggregate(
        F.slice(sorted_vecs, 2, 2_000_000_000),
        F.get(sorted_vecs, 0),
        lambda acc, v: F.zip_with(acc, v, lambda a, b: a + b),
    )
    n = F.size(sorted_vecs).cast("double")
    mean = F.transform(summed, lambda x: x / n)
    full = vecs.groupBy(F.col(cluster_col).alias("cw")).agg(mean.alias("mv"))
    # slice the full-dim mean into the m subspace codewords
    return full.select(
        "cw",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda s: F.struct(
                    s.alias("s"), F.slice("mv", s * sub + 1, sub).alias("c")
                ),
            )
        ).alias("e"),
    ).select(F.col("e.s").alias("s"), "cw", F.col("e.c").alias("c"))


def pq_encode(
    vecs: DataFrame,
    books: DataFrame,
    m: int,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "vec",
) -> DataFrame:
    """Encode each vector as `m` codeword ids: per subspace, the
    codeword with minimum squared L2 distance (ties to the smaller
    codeword id). Output: (id, s, code).

    ONE Arrow `mapInPandas` pass over the vectors — the encode
    fan-out (m x |codebook| distances per vector) is THE ingest-scan
    cost of a PQ index at 100 TB. The codebook (m x C x sub doubles,
    tiny by construction) is collected once driver-side and closed
    over, a bounded control-plane read like the IVF centroid reads;
    each batch computes the full (n, C, sub) difference tensor per
    subspace in numpy, reduces it with a sequential cumsum (the same
    partial-sum order as a left fold, so the DuckDB oracle's
    distances match bit for bit), and emits the (id, s, code) rows
    directly — no explode, no m x C-way join fan-out, no shuffle.
    Batches sub-chunk so the tensor stays ~256 MB."""
    import numpy as np
    import pandas as pd

    sub = dim // m
    rows = sorted(
        ((int(r["s"]), int(r["cw"]), list(r["c"])) for r in books.collect()),
        key=lambda t: (t[0], t[1]),
    )
    cw_by_s: dict[int, list[int]] = {}
    mat_by_s: dict[int, list[list[float]]] = {}
    for s, cw, c in rows:
        cw_by_s.setdefault(s, []).append(cw)
        mat_by_s.setdefault(s, []).append(c)
    cws = {s: np.asarray(v, dtype=np.int64) for s, v in cw_by_s.items()}
    mats = {
        s: np.asarray(v, dtype=np.float64) for s, v in mat_by_s.items()
    }
    base = vecs.select(F.col(id_col), F.col(vec_col).alias("__v"))
    from pyspark.sql import types as T

    id_field = base.schema.fields[0]
    schema = T.StructType(
        [
            id_field,
            T.StructField("s", T.IntegerType(), False),
            T.StructField("code", T.LongType(), True),
        ]
    )
    # degenerate codebooks degrade like an inner join against the
    # books: an empty codebook encodes nothing, and a subspace absent
    # from the books emits no rows for that s (instead of raising
    # from max()/KeyError).
    present = sorted(s for s in cw_by_s if 0 <= s < m)
    if not present:
        return local_df(vecs.sparkSession, [], schema)
    n_codes = max(len(v) for v in cw_by_s.values())
    max_rows = max(1, (32 << 20) // max(1, n_codes * sub))

    def compute(iterator):
        n_s = len(present)
        for pdf in iterator:
            n = len(pdf)
            if n == 0:
                continue
            V = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf["__v"]]
            )
            ids = pdf[id_field.name].to_numpy()
            out_codes = np.empty((n, n_s), dtype=np.int64)
            for j, s in enumerate(present):
                B = mats[s]  # (C, sub)
                Vs = V[:, s * sub : (s + 1) * sub]
                for lo in range(0, n, max_rows):
                    hi = min(n, lo + max_rows)
                    diff = Vs[lo:hi, None, :] - B[None, :, :]
                    d2 = np.cumsum(diff * diff, axis=2)[:, :, -1]
                    out_codes[lo:hi, j] = cws[s][np.argmin(d2, axis=1)]
            yield pd.DataFrame(
                {
                    id_field.name: np.repeat(ids, n_s),
                    "s": np.tile(
                        np.asarray(present, dtype=np.int32), n
                    ),
                    "code": out_codes.reshape(-1),
                }
            )

    return base.mapInPandas(compute, schema)


def knn_pq_rescore(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    rerank: int = 10,
    m: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_col: str = "label",
) -> DataFrame:
    """Product-quantized ANN with asymmetric distance computation and
    exact rescore: corpus stored as m int codes per vector (m bytes
    at |codebook| <= 256 — 64x less than doubles at m=8/dim=64), the
    approximate pass scores full-precision queries against per-
    (query, subspace, codeword) lookup partials, the top `rerank`
    rescored exactly.

    Determinism: the approx score sums the m partials in FIXED
    subspace order (conditional single-row sums added 0..m-1, never a
    float sum whose partial-aggregation order floats) — so the
    pipeline is bit-reproducible and fully oracle-checkable.

    100 TB: the only corpus-sized artifacts are the (id, s, code)
    frame (joined to the broadcast LUT on uniform tiny keys) and one
    aggregate keyed on (query, id); codebooks and LUT are
    m x |codebook| and Q x m x |codebook| — broadcast. The ADC join
    never touches vectors.
    """
    from pyspark.sql import Window as W

    from reader_spark.operators.dedup import ensure_parallelism

    vecs = ensure_parallelism(
        embeddings.select(
            F.col(id_col),
            F.col(cluster_col).alias("cluster"),
            F.col(vec_col).cast("array<double>").alias("vec"),
        )
    )
    books = pin(pq_codebooks(vecs, m, dim))
    codes = pq_encode(vecs, books, m, dim)
    queries = vecs.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col("vec").alias("qvec")
    )
    sub = dim // m
    # LUT: per (query, subspace, codeword) the partial dot
    # dot(q_s, codeword) — Q x m x |codebook| rows, broadcast
    qsub = queries.select(
        "query_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda s: F.struct(
                    s.alias("s"),
                    F.slice("qvec", s * sub + 1, sub).alias("qs"),
                ),
            )
        ).alias("e"),
    ).select("query_id", F.col("e.s").alias("s"), F.col("e.qs").alias("qs"))
    lut = qsub.join(F.broadcast(books), "s").select(
        "query_id", "s", "cw", dot(F.col("qs"), F.col("c")).alias("p")
    )
    # ADC: join codes to LUT, then sum partials in FIXED subspace
    # order — m conditional single-row sums added 0..m-1
    ccodes = codes.select(
        F.col(id_col).alias("neighbor_id"),
        F.col("s").alias("ss"),
        F.col("code"),
    )
    joined = ccodes.join(
        F.broadcast(lut),
        (F.col("ss") == F.col("s"))
        & (F.col("code") == F.col("cw"))
        & (F.col("neighbor_id") != F.col("query_id")),
    ).select("neighbor_id", "query_id", "ss", "p")
    ordered = sum(
        (F.sum(F.when(F.col("ss") == i, F.col("p"))) for i in range(1, m)),
        F.sum(F.when(F.col("ss") == 0, F.col("p"))),
    )
    approx = joined.groupBy("query_id", "neighbor_id").agg(
        ordered.alias("approx_dot")
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("approx_dot").desc(), F.col("neighbor_id")
    )
    cand = (
        approx.withColumn("arank", F.row_number().over(w))
        .filter(F.col("arank") <= rerank)
        .select("query_id", "neighbor_id")
    )
    nbr = vecs.select(
        F.col(id_col).alias("neighbor_id"), F.col("vec").alias("nvec")
    )
    qv = vecs.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"),
        F.col("vec").alias("qvec"),
        dot(F.col("vec"), F.col("vec")).alias("nq"),
    )
    exact = (
        cand.join(nbr, "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .withColumn("nn", dot(F.col("nvec"), F.col("nvec")))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("qvec"), F.col("nvec"))
                / (F.sqrt(F.col("nq")) * F.sqrt(F.col("nn"))),
                6,
            ).alias("cos_sim"),
        )
    )
    w2 = W.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


def sq8_stats(vecs: DataFrame, dim: int) -> DataFrame:
    """Per-dimension [min, max] over the corpus as two `dim`-element
    arrays in one 1-row frame.

    Shape: posexplode -> groupBy(pos) min/max -> collect back into
    position-sorted arrays. The explode multiplies rows by `dim`, but
    the per-position aggregate partial-combines map-side to <= dim
    rows per task, so the exchange is tiny. The alternative — a
    single agg with 2*dim per-index expressions — builds a plan tree
    that grows linearly with dim and showed up as measurable
    driver-side analysis time in the composed ANN pipelines (r4
    verdict: ~1.2 s of the knn_ivf_sq8 wall time was plan work on
    64-wide literal trees); this form's plan is 3 narrow nodes
    regardless of dim."""
    per = (
        vecs.select(F.posexplode("vec").alias("pos", "x"))
        .groupBy("pos")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    )
    return per.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mn"))),
            lambda s: s.getField("mn"),
        ).alias("mn"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mx"))),
            lambda s: s.getField("mx"),
        ).alias("mx"),
    )


def sq8_encode(vecs: DataFrame, stats: DataFrame, dim: int) -> DataFrame:
    """Quantize each vector to `dim` int codes in [0, 255]:
    code_i = min(255, floor((x_i - mn_i) / (mx_i - mn_i) * 256)).

    At rest this is 64 B/vector instead of 512 B of doubles — an 8x
    scan-bandwidth win for the approximate pass; constant dims
    (mx == mn) code to 0. The 1-row stats frame is broadcast."""
    code = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.when(
            F.col("mx")[i] > F.col("mn")[i],
            F.least(
                F.lit(255).cast("long"),
                F.floor(
                    (F.col("vec")[i] - F.col("mn")[i])
                    / (F.col("mx")[i] - F.col("mn")[i])
                    * 256
                ),
            ),
        )
        .otherwise(F.lit(0).cast("long")),
    )
    return vecs.crossJoin(F.broadcast(stats)).select(
        "*", code.alias("codes")
    )


def knn_ivf_sq8(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    rerank: int = 10,
    dim: int = 64,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_col: str = "label",
) -> DataFrame:
    """IVF cell restriction x int8 scalar quantization — the two ANN
    scale levers composed, as a production index would run them:
    the coarse quantizer prunes WHICH vectors are scored (equi-join on
    the cluster key, ~n_clusters/nprobe-fold fewer candidates) and
    SQ8 prunes HOW MUCH is read per scored vector (64 B codes instead
    of 512 B doubles); the top `rerank` survivors per query are then
    rescored with exact cosine and the top `k` emitted.

    Everything is deterministic (label-seeded Lloyd centroids,
    mid-rise dequantization, fixed fold order), so the composed
    pipeline has a full DuckDB oracle — the property the trained
    KMeans variant gives up.

    100 TB: the single assignment is map-only, so the only
    corpus-sized shuffle is the probed equi-join, whose per-row
    payload is the int8 code array; full
    vectors are touched only for Q x rerank rescore rows.
    """
    from pyspark.sql import Window as W

    from reader_spark.operators.dedup import ensure_parallelism

    # vecs feeds SIX branches of the one-action DAG (centroid
    # training, corpus assignment, query probes, SQ8 stats, and both
    # rescore sides) — pinned so the scan + per-row norm fold runs
    # once instead of per branch. Narrow frame: id, cluster, vec, nv.
    vecs = pin(
        ensure_parallelism(
            embeddings.select(
                F.col(id_col),
                F.col(cluster_col).alias("cluster"),
                F.col(vec_col).cast("array<double>").alias("vec"),
            )
        ).withColumn("nv", dot(F.col("vec"), F.col("vec")))
    )
    cents = pin(label_seeded_centroids(vecs))
    corpus = nearest_clusters(vecs.drop("cluster"), cents, 1, id_col)
    probes = nearest_clusters(
        vecs.drop("cluster").filter(F.col(id_col).isin(query_ids)),
        cents,
        nprobe,
        id_col,
    ).select(
        F.col(id_col).alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("cl").alias("qcl"),
    )
    # r12: pinned — the min/max subtree (posexplode + grouped extrema
    # over the corpus) feeds BOTH the sq8_encode crossJoin and the
    # query-side dequantization factoring; unpinned it executed twice.
    stats = pin(sq8_stats(vecs, dim))
    # Factored approximate dot: sum_i q_i * (mn_i + (code_i+0.5)*d_i)
    # with d_i = (mx_i-mn_i)/256 rearranges to
    #   qs0 + sum_i s_i * code_i,  s_i = q_i*d_i,
    #   qs0 = sum_i q_i*mn_i + 0.5 * sum_i s_i.
    # The query-side terms (s, qs0) are precomputed on the Q-row
    # probe frame; the JOIN then carries only the int8 CODES on the
    # corpus side — the actual 8x scan/shuffle-bandwidth win SQ8
    # promises (the r4 form materialized reconstructed doubles into
    # the join, paying full vector width again). Same fold orders on
    # both engines, so the candidate ranking stays oracle-exact.
    d_i = lambda i: (F.col("mx")[i] - F.col("mn")[i]) / 256  # noqa: E731
    s_col = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.col("qvec")[i] * d_i(i),
    )
    probes2 = probes.crossJoin(F.broadcast(stats)).select(
        "query_id",
        "qcl",
        s_col.alias("s"),
        dot(F.col("qvec"), F.col("mn")).alias("qmn"),
    )
    probes3 = probes2.select(
        "query_id",
        "qcl",
        "s",
        (
            F.col("qmn")
            + F.lit(0.5)
            * F.aggregate(F.col("s"), F.lit(0.0), lambda acc, x: acc + x)
        ).alias("qs0"),
    )
    coded = sq8_encode(corpus.select(id_col, "cl", "vec"), stats, dim).select(
        id_col, "cl", "codes"
    )
    approx = coded.join(
        F.broadcast(probes3),
        (F.col("cl") == F.col("qcl")) & (F.col(id_col) != F.col("query_id")),
    ).select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        (
            F.col("qs0")
            + F.aggregate(
                F.zip_with(F.col("s"), F.col("codes"), lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ).alias("approx_dot"),
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("approx_dot").desc(), F.col("neighbor_id")
    )
    cand = (
        approx.withColumn("arank", F.row_number().over(w))
        .filter(F.col("arank") <= rerank)
        .select("query_id", "neighbor_id")
    )
    nbr = vecs.select(
        F.col(id_col).alias("neighbor_id"), F.col("vec").alias("nvec")
    )
    qv = vecs.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("nv").alias("nq"),
    )
    exact = (
        cand.join(nbr, "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .withColumn("nn", dot(F.col("nvec"), F.col("nvec")))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("qvec"), F.col("nvec"))
                / (F.sqrt(F.col("nq")) * F.sqrt(F.col("nn"))),
                6,
            ).alias("cos_sim"),
        )
    )
    w2 = W.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


def knn_ivf_pq(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    rerank: int = 10,
    m: int = 8,
    dim: int = 64,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_col: str = "label",
) -> DataFrame:
    """IVF cell restriction x product quantization — FAISS's standard
    large-corpus configuration (`IVFx,PQy`) composed from the same
    two oracle-checked halves `knn_ivf_sq8` composes with SQ8: the
    coarse quantizer prunes WHICH vectors are scored (equi-join on
    the probed cluster key) and PQ prunes HOW MUCH is read per scored
    vector (m int codes, m bytes at |codebook| <= 256 — 64x less than
    doubles at m=8/dim=64, vs SQ8's 8x); the top `rerank` per query
    are rescored with exact cosine.

    Determinism: label-seeded Lloyd centroids for BOTH quantizers,
    argmin-first code assignment (ties to the smaller codeword), and
    the ADC sums its m partials in
    FIXED subspace order — the composed pipeline keeps a full DuckDB
    oracle, the property the trained-KMeans variant gives up.

    100 TB: corpus-sized artifacts are the map-only single
    assignment, the (id, s, code) frame, and two bounded
    equi-joins (probed cells, then the broadcast LUT on tiny uniform
    keys); full vectors are touched only for Q x rerank rescore rows.
    """
    from pyspark.sql import Window as W

    from reader_spark.operators.dedup import ensure_parallelism

    vecs = pin(
        ensure_parallelism(
            embeddings.select(
                F.col(id_col),
                F.col(cluster_col).alias("cluster"),
                F.col(vec_col).cast("array<double>").alias("vec"),
            )
        ).withColumn("nv", dot(F.col("vec"), F.col("vec")))
    )
    cents = pin(label_seeded_centroids(vecs))
    corpus = nearest_clusters(vecs.drop("cluster"), cents, 1, id_col)
    probes = nearest_clusters(
        vecs.drop("cluster").filter(F.col(id_col).isin(query_ids)),
        cents,
        nprobe,
        id_col,
    ).select(F.col(id_col).alias("query_id"), F.col("vec").alias("qvec"), F.col("cl").alias("qcl"))
    books = pin(pq_codebooks(vecs, m, dim, id_col=id_col))
    codes = pq_encode(vecs, books, m, dim, id_col=id_col)
    sub = dim // m
    # query-side LUT: per (query, subspace, codeword) partial dot —
    # Q x m x |codebook| rows, broadcast (exactly knn_pq_rescore's)
    qsub = (
        probes.select("query_id", "qvec")
        .distinct()
        .select(
            "query_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(m - 1)),
                    lambda s: F.struct(
                        s.alias("s"),
                        F.slice("qvec", s * sub + 1, sub).alias("qs"),
                    ),
                )
            ).alias("e"),
        )
        .select("query_id", F.col("e.s").alias("s"), F.col("e.qs").alias("qs"))
    )
    lut = qsub.join(F.broadcast(books), "s").select(
        "query_id", "s", "cw", dot(F.col("qs"), F.col("c")).alias("p")
    )
    # cell restriction FIRST: corpus assignment equi-joined to the
    # broadcast probe list — each (query, id) pair appears at most
    # once (single corpus assignment), so no dedup shuffle
    cand_ids = corpus.select(id_col, "cl").join(
        F.broadcast(probes.select("query_id", "qcl")),
        (F.col("cl") == F.col("qcl")) & (F.col(id_col) != F.col("query_id")),
    ).select("query_id", id_col)
    lut2 = lut.select(
        F.col("query_id").alias("q2"),
        F.col("s").alias("s2"),
        "cw",
        "p",
    )
    joined = (
        codes.join(cand_ids, id_col)
        .join(
            F.broadcast(lut2),
            (F.col("query_id") == F.col("q2"))
            & (F.col("s") == F.col("s2"))
            & (F.col("code") == F.col("cw")),
        )
        .select(F.col(id_col).alias("neighbor_id"), "query_id", "s", "p")
    )
    # fixed subspace order: m conditional single-row sums added 0..m-1
    ordered = sum(
        (F.sum(F.when(F.col("s") == i, F.col("p"))) for i in range(1, m)),
        F.sum(F.when(F.col("s") == 0, F.col("p"))),
    )
    approx = joined.groupBy("query_id", "neighbor_id").agg(
        ordered.alias("approx_dot")
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("approx_dot").desc(), F.col("neighbor_id")
    )
    cand = (
        approx.withColumn("arank", F.row_number().over(w))
        .filter(F.col("arank") <= rerank)
        .select("query_id", "neighbor_id")
    )
    nbr = vecs.select(
        F.col(id_col).alias("neighbor_id"), F.col("vec").alias("nvec")
    )
    qv = vecs.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("nv").alias("nq"),
    )
    exact = (
        cand.join(nbr, "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .withColumn("nn", dot(F.col("nvec"), F.col("nvec")))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("qvec"), F.col("nvec"))
                / (F.sqrt(F.col("nq")) * F.sqrt(F.col("nn"))),
                6,
            ).alias("cos_sim"),
        )
    )
    w2 = W.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


def knn_sq8_rescore(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    rerank: int = 10,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric scalar-quantized kNN with exact rescoring.

    The approximate pass scores full-precision queries against
    mid-rise DEQUANTIZED corpus codes (recon_i = mn_i +
    (code_i + 0.5) * (mx_i - mn_i) / 256) — a map-only stage over the
    8x-smaller coded corpus with queries broadcast. The top `rerank`
    candidates per query are then rescored with exact cosine and the
    top `k` emitted. Everything is deterministic (identical float
    chains on both engines), so the whole pipeline has a DuckDB
    oracle — unlike trained-quantizer ANN.

    100 TB: approx pass reads 64 B/vec instead of 512 B; the rescore
    join touches only Q x rerank rows of full vectors. The same
    map-side bounded top-k used by knn_bruteforce applies upstream of
    the window when P x Q x rerank exceeds shuffle comfort.
    """
    from pyspark.sql import Window as W

    from reader_spark.operators.dedup import ensure_parallelism

    # The approx pass is interpreted lambda folds (higher-order
    # functions are CodegenFallback) — a single-file parquet corpus
    # would serialize all of it onto one core without this.
    vecs = ensure_parallelism(
        embeddings.select(
            F.col(id_col), F.col(vec_col).cast("array<double>").alias("vec")
        )
    )
    # r12: pinned — the min/max subtree (posexplode + grouped extrema
    # over the corpus) feeds BOTH the sq8_encode crossJoin and the
    # query-side dequantization factoring; unpinned it executed twice.
    stats = pin(sq8_stats(vecs, dim))
    # Factored approximate dot (the knn_ivf_sq8 form): the
    # dequantization folds into QUERY-side constants —
    #   approx_dot = qs0 + sum_i s_i * code_i,
    #   s_i = q_i * (mx_i-mn_i)/256,
    #   qs0 = sum_i q_i*mn_i + 0.5 * sum_i s_i —
    # so the corpus side of the Q x N scoring pass carries only the
    # int8 CODES (64 B/vec), never reconstructed doubles: the full
    # 8x bandwidth win, and one fold instead of recon + fold per
    # pair. Same fold orders both engines -> oracle-exact ranking.
    coded = sq8_encode(vecs.select(id_col, "vec"), stats, dim).select(
        id_col, "codes"
    )
    d_i = lambda i: (F.col("mx")[i] - F.col("mn")[i]) / 256  # noqa: E731
    s_col = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.col("qvec")[i] * d_i(i),
    )
    queries = (
        vecs.filter(F.col(id_col).isin(query_ids))
        .select(
            F.col(id_col).alias("query_id"),
            F.col("vec").alias("qvec"),
        )
        .crossJoin(F.broadcast(stats))
        .select(
            "query_id",
            s_col.alias("s"),
            dot(F.col("qvec"), F.col("mn")).alias("qmn"),
        )
        .select(
            "query_id",
            "s",
            (
                F.col("qmn")
                + F.lit(0.5)
                * F.aggregate(
                    F.col("s"), F.lit(0.0), lambda acc, x: acc + x
                )
            ).alias("qs0"),
        )
    )
    approx = (
        coded.join(F.broadcast(queries), F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            (
                F.col("qs0")
                + F.aggregate(
                    F.zip_with(
                        F.col("s"), F.col("codes"), lambda a, b: a * b
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            ).alias("approx_dot"),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("approx_dot").desc(), F.col("neighbor_id")
    )
    cand = (
        approx.withColumn("arank", F.row_number().over(w))
        .filter(F.col("arank") <= rerank)
        .select("query_id", "neighbor_id")
    )
    # Norms ONLY for what the rescore touches: unlike knn_bruteforce
    # (which scores every corpus row and amortizes a one-pass norm),
    # the rescore reads Q x rerank candidates — norming the whole
    # corpus would be a wasted 10^9-row fold at scale. The neighbor
    # norm is therefore computed ABOVE the candidate join (a
    # projection on the nbr side would run corpus-wide below it).
    nbr = vecs.select(
        F.col(id_col).alias("neighbor_id"),
        F.col("vec").alias("nvec"),
    )
    qv = vecs.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"),
        F.col("vec").alias("qvec"),
        dot(F.col("vec"), F.col("vec")).alias("nq"),
    )
    exact = (
        cand.join(nbr, "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .withColumn("nn", dot(F.col("nvec"), F.col("nvec")))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("qvec"), F.col("nvec"))
                / (F.sqrt(F.col("nq")) * F.sqrt(F.col("nn"))),
                6,
            ).alias("cos_sim"),
        )
    )
    w2 = W.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


# ---------------------------------------------------------------------------
# 1-bit binary quantization (sign codes + Hamming pre-rank)


def binary_codes(
    vecs: DataFrame, dim: int = 64, vec_col: str = "vec"
) -> DataFrame:
    """1-bit quantization: each vector collapses to sign bits packed
    into two 32-bit words (lo = dims 0-31, hi = dims 32-63) — 16
    bytes per vector, a 32x reduction over float64 and the cheapest
    useful ANN code there is (the RaBitQ/BQ family's storage tier).
    Two words rather than one keep every shift below the BIGINT sign
    bit, so Spark and DuckDB agree exactly."""
    if dim > 64:
        raise ValueError("binary_codes packs at most 64 dims")
    mid = min(32, dim)

    def word(lo: int, hi: int) -> Column:
        return F.expr(
            f"aggregate(sequence({lo}, {hi}), CAST(0 AS BIGINT), "
            f"(acc, i) -> acc + CASE WHEN element_at({vec_col}, i + 1) > 0 "
            f"THEN shiftleft(CAST(1 AS BIGINT), i - {lo}) "
            f"ELSE CAST(0 AS BIGINT) END)"
        )

    out = vecs.withColumn("bq_lo", word(0, mid - 1))
    if dim > 32:
        out = out.withColumn("bq_hi", word(32, dim - 1))
    else:
        out = out.withColumn("bq_hi", F.lit(0).cast("long"))
    return out


def knn_binary(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    rerank: int = 30,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Binary-quantized kNN with exact rescore: the approximate pass
    ranks by HAMMING distance between sign codes (bit_count of two
    word XORs — integer arithmetic, fully oracle-exact and the
    coarsest/cheapest tier below SQ8), takes the top `rerank` per
    query (neighbor-id tiebreak — Hamming ties are coarse, so rerank
    is sized generously), and rescores with exact cosine.

    100 TB: the scoring join carries 16 B/vector and the per-pair
    work is two XOR+popcounts — this is the tier that runs on the
    FULL corpus when even int8 codes are too big to scan, feeding
    survivors to SQ8/PQ/exact above it."""
    from pyspark.sql import Window as W

    from reader_spark.operators.dedup import ensure_parallelism

    vecs = ensure_parallelism(
        embeddings.select(
            F.col(id_col), F.col(vec_col).cast("array<double>").alias("vec")
        )
    ).withColumn("nv", dot(F.col("vec"), F.col("vec")))
    coded = binary_codes(vecs, dim).select(id_col, "bq_lo", "bq_hi")
    qcodes = (
        binary_codes(vecs.filter(F.col(id_col).isin(query_ids)), dim)
        .select(
            F.col(id_col).alias("query_id"),
            F.col("bq_lo").alias("q_lo"),
            F.col("bq_hi").alias("q_hi"),
        )
    )
    ham = F.bit_count(
        F.col("bq_lo").bitwiseXOR(F.col("q_lo"))
    ) + F.bit_count(F.col("bq_hi").bitwiseXOR(F.col("q_hi")))
    approx = coded.join(
        F.broadcast(qcodes), F.col(id_col) != F.col("query_id")
    ).select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        ham.alias("hamming"),
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("hamming").asc(), F.col("neighbor_id")
    )
    cand = (
        approx.withColumn("arank", F.row_number().over(w))
        .filter(F.col("arank") <= rerank)
        .select("query_id", "neighbor_id")
    )
    nbr = vecs.select(
        F.col(id_col).alias("neighbor_id"),
        F.col("vec").alias("nvec"),
        F.col("nv").alias("nn"),
    )
    qv = vecs.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("nv").alias("nq"),
    )
    exact = (
        cand.join(nbr, "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("qvec"), F.col("nvec"))
                / (F.sqrt(F.col("nq")) * F.sqrt(F.col("nn"))),
                6,
            ).alias("cos_sim"),
        )
    )
    w2 = W.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


# ---------------------------------------------------------------------------
# Embedding-distribution drift: the vector-side member of the drift
# family (operators/curation.py::drift_report covers scalars,
# drift_report_categorical covers discrete mixes). An embedding
# corpus drifts when a new encoder version, a new source mix, or a
# preprocessing bug shifts where vectors live; per-dimension means
# are the cheapest complete signal (any mean-shift along any axis is
# visible, and a 100 TB pass reduces to D partial aggregates). The
# reference has no vector monitoring counterpart (its gauge is Kafka
# lag, lib/kafkalib/writer.go:131); semantics follow the scalar
# drift contract so all three families alert the same way.
# ---------------------------------------------------------------------------


def _dim_means(df, vec_col: str, suffix: str):
    """Per-dimension mean over an embedding column: posexplode to
    (dim, value), then a map-side-combined groupBy over D groups —
    the shuffle carries D rows per input partition regardless of
    corpus size."""
    return (
        df.select(
            F.posexplode(F.col(vec_col).cast("array<double>")).alias(
                "dim", "v"
            )
        )
        .groupBy("dim")
        .agg(F.avg("v").alias(f"mean_{suffix}"))
    )


def embedding_drift_report(
    ref: DataFrame,
    cur: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-dimension drift report between a reference embedding wave
    and a current one: (dim, mean_ref, mean_cur, delta), delta =
    |mean_ref - mean_cur| rounded to 6 (the engine-parity float
    convention). Dimensions present in only one wave (ragged arrays,
    an encoder that changed output width — itself a drift signal)
    survive the join with the missing side's mean NULL and delta
    NULL, never silently dropped."""
    r = _dim_means(ref, vec_col, "ref")
    c = _dim_means(cur, vec_col, "cur")
    return (
        r.join(c, "dim", "full_outer")
        .select(
            "dim",
            F.round("mean_ref", 6).alias("mean_ref"),
            F.round("mean_cur", 6).alias("mean_cur"),
            F.round(
                F.abs(F.col("mean_ref") - F.col("mean_cur")), 6
            ).alias("delta"),
        )
        .orderBy("dim")
    )


def embedding_drift_summary(
    ref: DataFrame,
    cur: DataFrame,
    vec_col: str = "embedding",
    alert_delta: float = 0.05,
) -> DataFrame:
    """One-row verdict over `embedding_drift_report` plus the norm
    health the per-dim means can't see (a rescaled encoder keeps
    directions but moves L2 norms): n_ref/n_cur, n_dims, max & mean
    per-dim delta, mean L2 norm per wave, and `drifted` when any
    dimension's delta clears `alert_delta`. Norms fold sequentially
    per row (F.aggregate — same element order as the oracle's
    list_sum), so only the cross-row avg is subject to float order;
    round(6) absorbs it."""
    rep = embedding_drift_report(ref, cur, vec_col)
    sq = lambda c: F.aggregate(  # noqa: E731 - local fold
        F.col(c).cast("array<double>"),
        F.lit(0.0),
        lambda acc, x: acc + x * x,
    )
    norm = lambda df: df.select(  # noqa: E731
        F.sqrt(sq(vec_col)).alias("l2")
    ).agg(F.avg("l2").alias("norm"), F.count("*").alias("n"))
    stats = rep.agg(
        F.count("*").alias("n_dims"),
        F.max("delta").alias("max_delta"),
        F.round(F.avg("delta"), 6).alias("mean_delta"),
    )
    nr = norm(ref).select(
        F.col("n").alias("n_ref"), F.round("norm", 6).alias("norm_ref")
    )
    nc = norm(cur).select(
        F.col("n").alias("n_cur"), F.round("norm", 6).alias("norm_cur")
    )
    return (
        stats.crossJoin(F.broadcast(nr))
        .crossJoin(F.broadcast(nc))
        .select(
            "n_ref",
            "n_cur",
            "n_dims",
            "max_delta",
            "mean_delta",
            "norm_ref",
            "norm_cur",
            # well-typed verdict on empty waves: with either side
            # empty max_delta is NULL and `NULL > x` is NULL — force
            # drifted=true instead (an empty wave IS an anomaly),
            # matching embedding_drift_check's contract
            F.when(
                (F.col("n_ref") == 0) | (F.col("n_cur") == 0), F.lit(True)
            )
            .otherwise(F.col("max_delta") > F.lit(alert_delta))
            .alias("drifted"),
        )
    )


def embedding_drift_ref_write(
    ref: DataFrame, path: str, vec_col: str = "embedding"
) -> None:
    """Publish the reference side of an embedding drift watch: the
    per-dimension means plus the wave's mean L2 norm and row count
    (carried on every row — the K-row IVF-health shape), pointer-flip
    published so a checker never sees a torn reference. D rows total;
    the reference corpus is never re-scanned by later checks — that
    is the point of materializing it. Re-run to re-baseline after an
    accepted encoder/distribution change."""
    from reader_spark.operators import atomic_dir

    sq = F.aggregate(
        F.col(vec_col).cast("array<double>"),
        F.lit(0.0),
        lambda acc, x: acc + x * x,
    )
    stats = ref.agg(
        F.avg(F.sqrt(sq)).alias("norm_ref"), F.count("*").alias("n_ref")
    )
    tiles = _dim_means(ref, vec_col, "ref").crossJoin(F.broadcast(stats))

    def write_fn(vdir: str) -> None:
        tiles.coalesce(1).write.mode("overwrite").parquet(vdir)

    atomic_dir.publish(path, write_fn)


def embedding_drift_check(
    spark,
    path: str,
    cur: DataFrame,
    vec_col: str = "embedding",
    alert_delta: float = 0.05,
) -> DataFrame:
    """One-row embedding drift verdict of `cur` against the PUBLISHED
    per-dimension reference (embedding_drift_ref_write): max/mean
    |mean delta| across dimensions, mean L2 norm of both waves, and
    `drifted` when any dimension clears `alert_delta`. One map-only
    pass over the batch + a D-row broadcast join. An EMPTY current
    wave is a verdict, not a skip: n_cur=0, deltas NULL, drifted=true
    (all reference mass unmatched — the scalar family's empty-wave
    contract)."""
    from reader_spark.operators import atomic_dir

    ref = spark.read.parquet(atomic_dir.resolve(path))
    sq = F.aggregate(
        F.col(vec_col).cast("array<double>"),
        F.lit(0.0),
        lambda acc, x: acc + x * x,
    )
    curstats = cur.agg(
        F.avg(F.sqrt(sq)).alias("norm_cur"), F.count("*").alias("n_cur")
    )
    cm = _dim_means(cur, vec_col, "cur")
    per = ref.join(cm, "dim", "full_outer").select(
        F.round(F.abs(F.col("mean_ref") - F.col("mean_cur")), 6).alias(
            "delta"
        ),
        "norm_ref",
        "n_ref",
    )
    agg = per.agg(
        F.count(F.lit(1)).alias("n_dims"),
        F.max("delta").alias("max_delta"),
        F.round(F.avg("delta"), 6).alias("mean_delta"),
        F.max("norm_ref").alias("norm_ref"),
        F.max("n_ref").alias("n_ref"),
    )
    return agg.crossJoin(F.broadcast(curstats)).select(
        F.col("n_ref").cast("long").alias("n_ref"),
        F.col("n_cur").cast("long").alias("n_cur"),
        "n_dims",
        "max_delta",
        "mean_delta",
        F.round("norm_ref", 6).alias("norm_ref"),
        F.round("norm_cur", 6).alias("norm_cur"),
        F.when(F.col("n_cur") == 0, F.lit(True))
        .otherwise(F.col("max_delta") > F.lit(alert_delta))
        .alias("drifted"),
    )


def embedding_drift_watch(
    ref_path: str,
    log_path: str,
    vec_col: str = "embedding",
    alert_delta: float = 0.05,
):
    """`foreachBatch` body logging each micro-batch's embedding drift
    verdict against the published per-dim reference — the vector
    member of the streaming drift family. The log is partitioned by
    batch id and written with dynamic partition overwrite, so a
    crash-replayed batch REPLACES its own row (exactly-once without a
    dedup read); an empty micro-batch still logs its n_cur=0 verdict
    for the same reason the scalar watch does."""

    def body(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        log_batch_verdict(
            embedding_drift_check(
                spark, ref_path, batch_df, vec_col, alert_delta
            ),
            batch_id,
            log_path,
        )

    return body


def log_batch_verdict(
    verdict: DataFrame, batch_id: int, log_path: str
) -> None:
    """Write one micro-batch's drift verdict rows into the drift-watch
    log, partitioned by `batch` with a per-write dynamic partition
    overwrite: a crash-replayed batch REPLACES its own partition
    (exactly-once without a dedup read) and every other batch's rows
    stay put. The session's overwrite mode is left untouched."""
    (
        verdict.withColumn("batch", F.lit(batch_id))
        .coalesce(1)
        .write.partitionBy("batch")
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(log_path)
    )


def embedding_drift_grouped(
    ref: DataFrame,
    cur: DataFrame,
    vec_col: str = "embedding",
    group_col: str = "label",
    alert_delta: float = 0.05,
) -> DataFrame:
    """Per-group embedding drift verdicts — the grouped member of the
    vector family (drift_report_grouped's shape for embeddings): each
    group gets its own per-dimension mean comparison and its own
    one-row verdict (n_ref/n_cur, n_dims, max/mean delta, drifted),
    so a minority slice's encoder or mix shift alarms even when the
    corpus-level means hide it. A group present in only one wave
    still gets a row (the missing side reads n=0, deltas NULL,
    drifted=true — a vanished group IS the drift). Same scale shape
    as the ungrouped form: posexplode + map-side-combined groupBy —
    G×D rows cross the shuffle per partition, never corpus-sized."""
    def dims(df, tag):
        return (
            df.select(
                F.col(group_col).alias("g"),
                F.posexplode(
                    F.col(vec_col).cast("array<double>")
                ).alias("dim", "v"),
            )
            .groupBy("g", "dim")
            .agg(F.avg("v").alias(f"mean_{tag}"))
        )

    def counts(df, tag):
        return df.groupBy(F.col(group_col).alias("g")).agg(
            F.count(F.lit(1)).alias(f"n_{tag}")
        )

    per = (
        dims(ref, "ref")
        .join(dims(cur, "cur"), ["g", "dim"], "full_outer")
        .select(
            "g",
            F.round(
                F.abs(F.col("mean_ref") - F.col("mean_cur")), 6
            ).alias("delta"),
        )
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("n_dims"),
            F.max("delta").alias("max_delta"),
            F.round(F.avg("delta"), 6).alias("mean_delta"),
        )
    )
    out = (
        per.join(counts(ref, "ref"), "g", "full_outer")
        .join(counts(cur, "cur"), "g", "full_outer")
        .select(
            F.col("g").alias(group_col),
            F.coalesce("n_ref", F.lit(0)).alias("n_ref"),
            F.coalesce("n_cur", F.lit(0)).alias("n_cur"),
            "n_dims",
            "max_delta",
            "mean_delta",
            F.when(
                (F.coalesce("n_ref", F.lit(0)) == 0)
                | (F.coalesce("n_cur", F.lit(0)) == 0),
                F.lit(True),
            )
            .otherwise(F.col("max_delta") > F.lit(alert_delta))
            .alias("drifted"),
        )
        .orderBy(group_col)
    )
    return out
