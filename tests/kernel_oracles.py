"""Reference forms that tests check the live operators against.

Each operator in `reader_spark.operators` ships one implementation: a
vectorized Arrow/numpy `mapInPandas` kernel. The pure column-expression
forms below compute the same outputs with zero Python workers, in the
same shape the DuckDB oracles mirror. Tests compare each kernel to its
oracle bit for bit:

- `minhash_signature_expr` vs `dedup.minhash_signature`
- `simhash_expr` vs `dedup.simhash`
- `pq_encode_expr` vs `similarity.pq_encode`
- `nearest_cluster_expr` vs `similarity.nearest_clusters(..., nprobe=1)`
- `connected_components_star` vs `dedup.connected_components`

They are test code only: the interpreted higher-order-function folds
run outside whole-stage codegen and lost every A/B against the kernels,
and no workload here has the long-chain graphs where star's
O(log n) rounds would beat propagation.

The rest are independent or chained forms with no caller in the
program, kept only as the expected side of a test:

- `kmv_merge` / `bottomk_merge`: tile merges, vs a direct
  `sketches.kmv_tiles` / `sketches.bottomk_sample_tiles` sketch
- `bloom_fp_rate`: the closed-form false-positive rate
  `sketches.bloom_geometry` must meet
- `kmeans_assign_trained` / `knn_ivf_trained`: the pyspark.ml model's
  own assignment and an in-memory probe, vs `similarity.nearest_clusters`
  and `similarity.knn_ivf_indexed`
- `extract_media_stats` / `resize_images` / `extract_frames`: the
  chained mapInPandas forms the fused `multimodal.synth_*` kernels
  replace
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from reader_spark.functions.localrel import local_df
from reader_spark.operators.dedup import (
    MINHASH_P,
    ensure_parallelism,
    md5_base_mod,
    md5_hash64,
    minhash_mix_params,
    word_set,
)
from reader_spark.operators.multimodal import (
    FRAME_SCHEMA,
    MEDIA_STATS_SCHEMA,
    _resize_row,
    _stats_row,
    decode_ppmv,
)
from reader_spark.operators.similarity import _topk_probed, dot, nearest_clusters
from reader_spark.operators.sketches import BLOOM_WORD_BITS


def minhash_signature_expr(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    hashes_col: str | None = None,
) -> DataFrame:
    """MinHash signature as `num_hashes` columns h0..h{k-1}.

    No shuffle: one md5 per token (materialized once as an
    intermediate array column so Catalyst doesn't duplicate it per
    seed), then `num_hashes` affine mixes + array_min — pure
    projections, no Python workers.

    hashes_col: name of a precomputed token-hash array column (see
    `token_hashes`) — skips the md5 pass entirely."""
    if hashes_col is not None:
        base = docs.select(F.col(id_col), F.col(hashes_col).alias("__hms"))
    else:
        base = ensure_parallelism(docs).select(
            F.col(id_col),
            F.transform(word_set(F.col(text_col)), md5_base_mod).alias("__hms"),
        )

    def mixer(seed: int):
        a, b = minhash_mix_params(seed)
        # NB: keep the lambda unary — a 2-arg lambda would be treated
        # by F.transform as (element, index).
        return lambda h: (F.lit(a).cast("long") * h + F.lit(b)) % MINHASH_P

    sig_cols = [
        F.array_min(F.transform(F.col("__hms"), mixer(i))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    return base.select(F.col(id_col), *sig_cols)


def simhash_expr(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                 bits: int = 63) -> DataFrame:
    """63-bit SimHash, computed WITHOUT a shuffle.

    Per doc: fold the token array into a 63-long sign-count vector
    (`aggregate` + `zip_with`), then pack bits where the count is
    positive. Linear in tokens, pure expressions."""
    positions = F.sequence(F.lit(0), F.lit(bits - 1))
    # 2^b lookup (shiftleft takes a Python int, not a Column).
    pow2 = F.array(*[F.lit(1 << i).cast("long") for i in range(bits)])
    # md5 once per token; the bit fold runs over the hash array.
    hashes = F.transform(word_set(F.col(text_col)), lambda w: md5_hash64(w, "sim"))

    def sign_vec(h: Column) -> Column:
        return F.transform(
            positions,
            lambda b: F.when(F.getbit(h, b) == 1, F.lit(1).cast("long")).otherwise(
                F.lit(-1).cast("long")
            ),
        )

    docs = ensure_parallelism(docs)
    counts = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, h: F.zip_with(acc, sign_vec(h), lambda x, y: x + y),
    )
    packed = F.aggregate(
        F.zip_with(
            counts,
            positions,
            lambda c, b: F.when(c > 0, F.element_at(pow2, b.cast("int") + 1)).otherwise(
                F.lit(0).cast("long")
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return docs.select(F.col(id_col), packed.alias("simhash"))


def pq_encode_expr(
    vecs: DataFrame,
    books: DataFrame,
    m: int,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "vec",
) -> DataFrame:
    """Encode each vector as `m` codeword ids: per subspace, the
    codeword with minimum squared L2 distance (ties to the smaller
    codeword id). One explode to (vec, subspace) rows, a broadcast
    join against the tiny codebook, and a struct-min aggregate —
    map-side combinable, no window. Output: (id, s, code)."""
    sub = dim // m
    pieces = vecs.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda s: F.struct(
                    s.alias("s"),
                    F.slice(vec_col, s * sub + 1, sub).alias("sv"),
                ),
            )
        ).alias("e"),
    ).select(id_col, F.col("e.s").alias("s"), F.col("e.sv").alias("sv"))
    d2 = F.aggregate(
        F.zip_with(F.col("sv"), F.col("c"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        pieces.join(F.broadcast(books), "s")
        .select(id_col, "s", d2.alias("d2"), "cw")
        .groupBy(id_col, "s")
        .agg(F.min(F.struct(F.col("d2"), F.col("cw"))).alias("mn"))
        .select(id_col, "s", F.col("mn.cw").alias("code"))
    )


def nearest_cluster_expr(
    side: DataFrame, cents: DataFrame, id_col: str
) -> DataFrame:
    """nprobe=1 nearest centroid (squared-L2 argmin, ties to the
    smaller cluster id) via a broadcast nested loop and
    `min(struct(dist, cl))` — lexicographic struct-min == ORDER BY
    (dist, cl). The groupBy on `id_col` collapses duplicate ids, so
    compare on unique-id inputs. Emits `id_col` first, then the
    passthrough columns, then `cl`."""
    dist = F.col("nv") - F.lit(2.0) * dot(F.col("vec"), F.col("c")) + F.col("nc")
    joined = side.join(F.broadcast(cents), F.lit(True)).withColumn("__dist", dist)
    passthrough = [c for c in side.columns if c != id_col]
    return (
        joined.groupBy(id_col)
        .agg(
            F.min(F.struct(F.col("__dist"), F.col("cl"))).alias("__m"),
            *[F.first(c).alias(c) for c in passthrough],
        )
        .withColumn("cl", F.col("__m.cl"))
        .drop("__m")
    )


def connected_components_star(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    max_iter: int = 50,
) -> DataFrame:
    """Alternating large-star/small-star (Kiveris et al., SoCC'14):
    the same (node, label) map as `dedup.connected_components`, by
    edge rewriting toward stars rooted at component minima — rounds
    are O(log n) regardless of graph diameter.

    Edge-rewriting formulation, no per-node neighbor collection (a
    collect_set would OOM on hub nodes — every step is groupBy-min +
    equi-join, both map-side-combinable on uniform id keys):

    * large-star: for each node u, m(u) = min(Γ(u) ∪ {u}); every
      neighbor v > u is re-attached to m(u). Strictly-larger guard
      keeps the rewrite acyclic.
    * small-star: orient each edge (hi, lo); for each hi,
      m = min(Γ_lo(hi)); every lo-neighbor AND hi itself attach to m.

    Both phases preserve connectivity exactly; at the fixpoint the
    edge set IS the answer — stars (node → component min). Convergence
    is detected by edge-set equality (count + order-independent
    bit_xor checksum: O(1) driver data, no subtract shuffle).
    """
    edges = (
        pairs.filter(F.col(id_a) != F.col(id_b))
        .select(
            F.least(id_a, id_b).alias("lo"), F.greatest(id_a, id_b).alias("hi")
        )
        .distinct()
        .localCheckpoint()
    )
    singletons = (
        pairs.filter(F.col(id_a) == F.col(id_b))
        .select(F.col(id_a).alias("node"))
        .distinct()
    )

    def signature(e: DataFrame) -> tuple[int, int]:
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.bit_xor(F.xxhash64("lo", "hi")), F.lit(0)
            ).alias("sig"),
        ).collect()[0]
        return row["n"], row["sig"]

    sig = signature(edges)
    for _ in range(max_iter):
        # large-star over the symmetric view
        sym = edges.select(
            F.col("lo").alias("u"), F.col("hi").alias("v")
        ).unionByName(
            edges.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
        )
        m = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("mn", "u").alias("m"))
        )
        edges = (
            sym.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.least("v", "m").alias("lo"), F.greatest("v", "m").alias("hi"))
            .filter(F.col("lo") != F.col("hi"))
            .distinct()
        )
        # small-star on the (hi, lo) orientation
        m2 = edges.groupBy("hi").agg(F.min("lo").alias("m"))
        attached = (
            edges.join(m2, "hi")
            .select(F.col("m").alias("lo"), F.col("lo").alias("hi"))
        )
        roots = m2.select(F.col("m").alias("lo"), F.col("hi"))
        edges = (
            attached.unionByName(roots)
            .filter(F.col("lo") != F.col("hi"))
            .distinct()
            .localCheckpoint()
        )
        new_sig = signature(edges)
        if new_sig == sig:
            break
        sig = new_sig

    # Fixpoint edges are stars (lo = component min). Labels: leaves
    # point at their root; roots and singleton self-pairs label
    # themselves.
    leaves = edges.select(F.col("hi").alias("node"), F.col("lo").alias("label"))
    roots_self = edges.select(F.col("lo").alias("node")).unionByName(singletons)
    self_labels = roots_self.distinct().withColumn("label", F.col("node"))
    return (
        leaves.unionByName(self_labels)
        .groupBy("node")
        .agg(F.min("label").alias("label"))
    )


def kmv_merge(
    tiles: DataFrame,
    group_cols: list[str],
    k: int = 64,
) -> DataFrame:
    """Merge KMV tiles up a hierarchy (hours -> day, cells -> total):
    union the tiles' hash lists, keep the k smallest distinct,
    estimate (k-1) / (kth/2^60). EXACT merge: the global k smallest
    hashes are always contained in the union of per-tile k smallest,
    so a merged estimate equals the directly-computed one."""
    exploded = tiles.select(*group_cols, F.explode("kmv").alias("h")).distinct()
    merged = exploded.groupBy(*group_cols).agg(
        F.slice(F.array_sort(F.collect_set("h")), 1, k).alias("kmv")
    )
    kth = F.when(
        F.size("kmv") >= k, F.element_at("kmv", k)
    ).otherwise(F.lit(None))
    scale = float(1 << 60)
    return merged.select(
        *group_cols,
        F.size("kmv").alias("n_kept"),
        F.round((k - 1) / (kth / F.lit(scale)), 6).alias("estimate"),
    )


def bottomk_merge(
    tiles: DataFrame, group_cols: list[str], k: int = 128
) -> DataFrame:
    """Merge sample tiles up a hierarchy: union the samples, keep the
    global bottom k — EXACT (equals sampling the concatenated input
    directly)."""
    exploded = tiles.select(
        *group_cols, F.explode("sample").alias("s")
    ).distinct()
    return exploded.groupBy(*group_cols).agg(
        F.slice(F.array_sort(F.collect_list("s")), 1, k).alias("sample")
    )


def bloom_fp_rate(n_keys: int, m_words: int, k_hashes: int) -> float:
    """Expected false-positive rate of an m_words x 60-bit filter
    holding n_keys: (1 - e^(-kn/m))^k, the closed form
    `sketches.bloom_geometry` sizes against."""
    import math

    m_bits = m_words * BLOOM_WORD_BITS
    if m_bits <= 0 or k_hashes <= 0:
        return 1.0
    return (
        1.0 - math.exp(-k_hashes * max(0, n_keys) / m_bits)
    ) ** k_hashes


def kmeans_assign_trained(
    embeddings: DataFrame,
    model,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cluster assignment by the fitted pyspark.ml KMeans model's JVM
    transform — (id_col, cl), an independent argmin to check
    `similarity.nearest_clusters` against under the same centroids."""
    from pyspark.ml.functions import array_to_vector

    feats = embeddings.select(
        F.col(id_col),
        array_to_vector(F.col(vec_col).cast("array<double>")).alias(
            "features"
        ),
    )
    return model.transform(feats).select(
        F.col(id_col), F.col("prediction").alias("cl")
    )


def knn_ivf_trained(
    embeddings: DataFrame,
    query_ids: list[int],
    model,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 2,
) -> DataFrame:
    """Multi-probe IVF over a fitted KMeans model's centroids, in
    memory — what `similarity.knn_ivf_indexed` must return from the
    materialized index at the same probes."""
    spark = embeddings.sparkSession
    cents = local_df(
        spark,
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "cl int, c array<double>",
    ).withColumn("nc", dot(F.col("c"), F.col("c")))
    vecs = embeddings.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("vec")
    ).withColumn("nv", dot(F.col("vec"), F.col("vec")))
    corpus = nearest_clusters(vecs, cents, 1, id_col)
    probes = nearest_clusters(
        vecs.filter(F.col(id_col).isin(query_ids)), cents, nprobe, id_col
    ).select(
        F.col(id_col).alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("nv").alias("nq"),
        F.col("cl").alias("qcl"),
    )
    return _topk_probed(corpus, probes, k, id_col)


def extract_media_stats(media: DataFrame) -> DataFrame:
    """Per-blob decode stats (image dims + channel means, audio
    sample rate / duration / RMS) as one mapInPandas over a media
    frame: the chained form `multimodal.synth_image_stats_resized`
    fuses. Undecodable payloads come back decoded=false."""
    one = _stats_row

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                [
                    one(m, k, p)
                    for m, k, p in zip(pdf["media_id"], pdf["kind"], pdf["payload"])
                ]
            )

    return media.mapInPandas(op, schema=MEDIA_STATS_SCHEMA)


RESIZE_SCHEMA = (
    "media_id long, decoded boolean, in_w int, in_h int, "
    "out_w int, out_h int, payload binary"
)


def resize_images(media: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Nearest-neighbor image resize as one mapInPandas over a media
    frame, re-encoded as PPM at (out_w, out_h): the chained form
    `multimodal.synth_image_stats_resized` fuses. Undecodable
    payloads come back decoded=false."""
    def one(media_id, kind, payload):
        return _resize_row(media_id, kind, payload, out_w, out_h)

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                [
                    one(m, k, p)
                    for m, k, p in zip(pdf["media_id"], pdf["kind"], pdf["payload"])
                ]
            )

    return media.mapInPandas(op, schema=RESIZE_SCHEMA)


def extract_frames(media: DataFrame, every_n: int = 1) -> DataFrame:
    """One stat row per `every_n`-th frame of each PPMV blob
    (ordinal, timestamp from the container fps, dims, channel
    means): the chained form `multimodal.synth_video_frames` fuses.
    Undecodable payloads are skipped."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    continue
                try:
                    fps_milli, frames = decode_ppmv(bytes(payload))
                except Exception:
                    continue
                frame_ms = 1_000_000 // max(fps_milli, 1)
                for i in range(0, len(frames), every_n):
                    img = frames[i]
                    h, w, _ = img.shape
                    means = img.reshape(-1, 3).mean(axis=0)
                    rows.append(
                        (int(mid), i, i * frame_ms, w, h,
                         float(means[0]), float(means[1]), float(means[2]))
                    )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "frame_id", "ts_ms", "width",
                         "height", "mean_r", "mean_g", "mean_b"],
            )

    return media.mapInPandas(op, schema=FRAME_SCHEMA)
