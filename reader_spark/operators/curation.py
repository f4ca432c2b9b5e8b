"""Corpus curation operators for LLM training-data pipelines.

Beyond-reference surface (BASELINE.json north star), the selection /
filtering layer that sits between dedup and shard packing:

  * repetition_metrics  — Gopher-style per-document repetition
    signals (top-token fraction, duplicate-bigram fraction, distinct
    token ratio) used as quality filters.
  * ngram_contamination — benchmark-contamination screen: fraction of
    a document's distinct word n-grams that appear anywhere in a
    held-out benchmark corpus.
  * stratified_sample   — deterministic per-stratum cap sampling
    (hash-uniform, no RNG state, reproducible on any cluster size).
  * temperature_resample— inverse-frequency (temperature) source
    rebalancing: rate_s = (min_n / n_s)^(1 - alpha).
  * semantic_dedup      — SemDeDup-shaped embedding dedup: sign-LSH
    (random hyperplane) buckets bound the candidate set, then a
    within-bucket cosine dominance test keeps the minimum id.

Scale design (100 TB):
  * repetition_metrics shuffles once on (doc_id, token) with map-side
    partial counts — uniform keys, no skew; everything else about the
    document stays in the scan stage.
  * ngram_contamination joins the corpus' exploded distinct n-gram
    hashes against the (much smaller) benchmark n-gram set — the
    benchmark side is broadcast when Catalyst's size estimate allows
    (maybe_broadcast), else it stays a shuffle join on uniform
    60-bit hashes.
  * stratified_sample / temperature_resample need one tiny aggregate
    (per-stratum counts — cardinality bounded by the stratum space,
    not the corpus) broadcast back; the keep decision is a map-only
    hash comparison. No global sort, no window over the corpus.
  * semantic_dedup's only corpus-sized shuffle is the equi-join on
    the LSH bucket key. With P planes the expected bucket occupancy
    is n / 2^P — P tunes candidate-pair volume the same way LSH bands
    do in dedup.py; hot buckets (embedding-space boilerplate) can be
    dropped with the same skew guard as skewed_lsh.

All hashes/weights derive from md5 so the DuckDB oracle reproduces
them bit-for-bit; dot products fold left-to-right (see
similarity.dot) for float bit-reproducibility.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from reader_spark.cache import pin
from reader_spark.functions.localrel import local_df
from reader_spark.operators import dedup as DD
from reader_spark.operators import similarity as SIM

# ---------------------------------------------------------------------------
# repetition / quality


def repetition_metrics(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document repetition signals (Gopher-rule shape).

    Returns one row per document: token count, distinct-token ratio,
    most-frequent-token fraction, duplicate-bigram fraction. The only
    shuffle is the (doc_id, token) count — uniform composite key,
    partial aggregation map-side; the array-local metrics (distinct
    ratio, bigram dup ratio) never leave the scan stage.
    """
    toks = F.split(F.col(text_col), " ")
    grams = DD.shingle_set(F.col(text_col), 2)
    base = DD.ensure_parallelism(docs).select(
        "doc_id",
        toks.alias("ws"),
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        # shingle_set is DISTINCT bigrams; total bigram count is n-1
        F.size(grams).alias("n_distinct_bigrams"),
        F.greatest(F.size(toks) - 1, F.lit(0)).alias("n_bigrams"),
    )
    top = (
        base.select("doc_id", F.explode("ws").alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_cnt"))
    )
    return (
        base.drop("ws")
        .join(top, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            F.round(F.col("n_distinct") / F.col("n_tokens"), 6).alias(
                "distinct_ratio"
            ),
            F.round(F.col("top_cnt") / F.col("n_tokens"), 6).alias(
                "top_token_frac"
            ),
            F.when(F.col("n_bigrams") > 0,
                   F.round((F.col("n_bigrams") - F.col("n_distinct_bigrams"))
                           / F.col("n_bigrams"), 6))
            .otherwise(F.lit(0.0))
            .alias("dup_bigram_frac"),
        )
    )


# ---------------------------------------------------------------------------
# benchmark contamination


def ngram_contamination(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """Fraction of each document's distinct word n-grams that occur
    anywhere in `benchmark` — the train/test contamination screen run
    before a corpus ships.

    The benchmark n-gram set is deduplicated once and broadcast when
    small (maybe_broadcast — Catalyst size estimate, same gate as the
    dedup joins); the corpus side explodes distinct n-grams and
    LEFT-joins on a 60-bit md5 hash, so totals AND hits come out of
    ONE conditional aggregate over the same exploded pass — the text
    is shingled exactly once and nothing is persisted (a leaked
    persist would tax every later query's planning with cache-manager
    plan matching).
    """
    def sh(df: DataFrame) -> DataFrame:
        return (
            DD.ensure_parallelism(df)
            .select("doc_id", F.split(F.col(text_col), " ").alias("ws"))
            .select(
                "doc_id",
                F.explode(DD.shingles_from(F.col("ws"), n)).alias("g"),
            )
            .select("doc_id", DD.md5_hash64(F.col("g"), "cg").alias("gh"))
        )

    # broadcast-gate audit (r12): bench_set is a distinct over md5
    # expressions (no Arrow kernel upstream — estimate stable),
    # and the probe side is ensure_parallelism'd in sh(); a missed
    # broadcast degrades to a shuffle join, never a serialization.
    bench_set = DD.maybe_broadcast(
        sh(benchmark).select("gh").distinct().withColumn("hit", F.lit(1))
    )
    return (
        sh(docs)
        .join(bench_set, "gh", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.count("hit").alias("n_hit"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_hit",
            F.round(F.col("n_hit") / F.col("n_grams"), 6).alias(
                "contamination"
            ),
        )
    )


# ---------------------------------------------------------------------------
# sampling


def _hash_unit(c: Column, salt: str) -> Column:
    """Deterministic uniform in [0, 1): md5-derived 32-bit value mod
    1e6, over 1e6 — identical arithmetic in the DuckDB oracle."""
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(salt + ":"), c.cast("string"))), 1, 8),
            16,
            10,
        ).cast("long")
        % 1_000_000
    ) / 1_000_000.0


def _hash_ppm(c: Column, salt: str) -> Column:
    """Deterministic uniform BIGINT in [0, 1e6): the integer form of
    `_hash_unit`, for decisions that must be float-free end-to-end
    (compare against a parts-per-million integer threshold)."""
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(salt + ":"), c.cast("string"))), 1, 8),
            16,
            10,
        ).cast("long")
        % 1_000_000
    )


def stratified_sample(
    docs: DataFrame, strata: list[str], cap: int, id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic per-stratum downsampling to ~`cap` docs.

    rate_s = min(1, cap / n_s); a document is kept iff its hash-unit
    draw < rate_s. Expected kept per stratum = cap; the decision is
    reproducible under any partitioning (no RNG, no order
    dependence). The stratum-count aggregate is bounded by the
    stratum space (not the corpus) — genuinely tiny, broadcast
    unconditionally.
    """
    counts = docs.groupBy(*strata).agg(F.count("*").alias("n_s"))
    rate = F.round(
        F.least(F.lit(1.0), F.lit(float(cap)) / F.col("n_s")), 6
    ).alias("rate")
    return (
        docs.join(F.broadcast(counts.select(*strata, rate)), strata)
        .filter(_hash_unit(F.col(id_col), "strat") < F.col("rate"))
        .select(id_col, *strata, "rate")
    )


def cluster_balanced_sample(
    rows: DataFrame,
    cap: int,
    id_col: str = "vec_id",
    cluster_col: str = "cl",
) -> DataFrame:
    """Deterministic per-cluster downsampling to EXACTLY
    min(cap, |cluster|) rows: rank members by their md5-ppm draw
    (ties by id) and keep the first `cap` — the cluster-balanced
    selection step of semantic-diversity curation (downsample
    over-dense semantic clusters instead of over-dense sources).

    Unlike the rate-based `stratified_sample` (expected-size), the
    rank cut is exact-size — mixture budgets stay exact. One window
    per cluster partition; the draw is order- and
    partitioning-independent, so re-runs and incremental appends
    agree on every kept id."""
    from pyspark.sql import Window as W

    w = W.partitionBy(cluster_col).orderBy(
        F.col("__u").asc(), F.col(id_col).asc()
    )
    return (
        rows.withColumn("__u", _hash_ppm(F.col(id_col), "csamp"))
        .withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= cap)
        .select(
            F.col(id_col),
            F.col(cluster_col).alias("cluster_id"),
            F.col("__u").alias("draw_ppm"),
        )
    )


def dataset_split(
    docs: DataFrame,
    fractions: tuple[float, float] = (0.9, 0.95),
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic train/val/test assignment: the md5-uniform draw
    on the document ID buckets each doc at u < f_train -> train,
    u < f_val -> val, else test. Map-only, reproducible under any
    partitioning and any corpus growth (a doc's split never changes
    when new docs arrive — the property random splits lose), and
    leakage-safe when run AFTER dedup/canonical selection (split the
    canonical ids, not raw near-dup families)."""
    u = _hash_unit(F.col(id_col), "split")
    return docs.select(
        id_col,
        F.when(u < fractions[0], F.lit("train"))
        .when(u < fractions[1], F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


def temperature_resample(
    docs: DataFrame, group: str, alpha: float = 0.3, id_col: str = "doc_id"
) -> DataFrame:
    """Inverse-frequency (temperature) rebalancing across `group`
    (source/domain/language): rate_s = (min_n / n_s)^(1 - alpha).

    alpha = 1 keeps the natural distribution; alpha = 0 downsamples
    every group to the smallest one. The per-group count table is
    tiny (bounded by group cardinality) and broadcast; the keep
    decision is map-only.
    """
    counts = docs.groupBy(group).agg(F.count("*").alias("n_s"))
    min_n = counts.agg(F.min("n_s").alias("min_n"))
    rate = F.round(
        F.pow(F.col("min_n") / F.col("n_s"), F.lit(1.0 - alpha)), 6
    ).alias("rate")
    rates = counts.crossJoin(F.broadcast(min_n)).select(group, rate)
    return (
        docs.join(F.broadcast(rates), group)
        .filter(_hash_unit(F.col(id_col), "temp") < F.col("rate"))
        .select(id_col, group, "rate")
    )


def reservoir_sample(
    docs: DataFrame,
    strata: list[str],
    k: int,
    weight: Column | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """EXACT-k per-stratum sampling (the rate-based samplers above
    give ~cap in expectation; this gives exactly min(k, n_s)) —
    uniform when `weight` is None, weighted by the A-ES scheme
    (Efraimidis-Spirtes: key = u^(1/w), keep the k largest keys —
    inclusion probability proportional to weight) otherwise. The
    draw u is md5-uniform per id: deterministic, partitioning-
    independent, reproducible.

    Keys are rounded to 9 dp before ranking (ties then break on id):
    raw pow() may differ by an ulp between engines/libms, and a
    rank-boundary decision must never hinge on that.

    Scale: one rank window PARTITIONED by the strata — parallel
    across strata. A single giant stratum makes a hot partition; the
    swap is the same map-side bounded top-k knn_bruteforce uses
    (truncate to k per input partition before the shuffle — top-k is
    a semigroup).
    """
    from pyspark.sql import Window as W

    u = _hash_unit(F.col(id_col), "res")
    if weight is None:
        key = F.round(u, 9)
    else:
        key = F.round(
            F.pow(u, F.lit(1.0) / F.greatest(weight, F.lit(1e-6))), 9
        )
    w = W.partitionBy(*strata).orderBy(F.col("__key").desc(), F.col(id_col))
    return (
        docs.withColumn("__key", key)
        .withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= k)
        .select(id_col, *strata, F.col("__key").alias("sample_key"))
    )


# ---------------------------------------------------------------------------
# semantic (embedding) dedup


# Occupancy-cap defaults for the quadratic-in-group-size dominance
# joins (semantic_dedup buckets, semdedup_prune clusters): a group of
# k members emits O(k^2) candidate pairs, and embedding-space
# boilerplate (near-identical template documents) concentrates into
# ONE group on a real crawl — unguarded, a single mega-group makes
# the pair list quadratic in its occupancy. "auto" caps at
# FACTOR x mean occupancy (integer arithmetic, oracle-reproducible),
# floored so healthy small corpora never trip it, and CEILINGED
# absolutely: the relative rule alone is blind when the group count
# is small (the r12 scale probe: K=10 label-seeded clusters, one
# 22k-member mega-cluster = only ~5x the mean, so "10x mean" passed
# it and the dominance join ran 4x10^8 pairs for 365 s). Past the
# ceiling a group is quadratic-prohibitive REGARDLESS of how normal
# it is for its corpus — 10k members is already 10^8 pairs on one
# key; such groups pass through kept (is_capped=1) and the right
# lever is raising K / n_planes, exactly the SemDeDup paper's K
# scaling.
SKEW_CAP_FLOOR = 256
SKEW_CAP_FACTOR = 10
SKEW_CAP_CEIL = 10_000
# Past this many over-cap keys the literal-isin filter gives way to a
# broadcast anti-join (r13, VERDICT item 9): the filter is cheaper
# for the normal few-hot-groups case, but a pathological corpus with
# thousands of capped groups would otherwise ship them all through a
# driver-side literal into every consumer plan.
SKEW_CAP_ISIN_MAX = 1_000


def _occupancy_cap(
    vecs: DataFrame, key: str, max_param
) -> tuple[DataFrame, DataFrame]:
    """(joinable, capped_keys) for a group-occupancy skew guard.

    `max_param`: "auto" — cap = greatest(SKEW_CAP_FLOOR,
    least(SKEW_CAP_FACTOR * total DIV n_groups, SKEW_CAP_CEIL)), all
    integer so the DuckDB oracle lands on the same boundary; an int —
    literal cap; None — no cap (explicit opt-out, capped_keys empty).

    Plan shape: one map-side-combinable groupBy to the K-row size
    table, the cap as a 1-row broadcast scalar, and a broadcast ANTI
    join of the corpus against the (tiny) capped-key list — the
    corpus is never shuffled or windowed for the guard. Members of
    capped groups PASS THROUGH kept (callers attach `is_capped` from
    capped_keys so the pass-through is observable); boilerplate
    mega-groups belong to exact/MinHash dedup upstream."""
    if max_param is None:
        capped = vecs.select(key).limit(0)
        return vecs, capped
    # K-row control-plane read (K = group count: clusters / sign-LSH
    # buckets — the same bound as the centroid collect in
    # kmeans_lloyd, which moves K x dim doubles where this moves K
    # ints). The r11 form kept sizes/cap/capped as lazy frames, so
    # the whole aggregate->scalar->anti-join chain re-evaluated once
    # per consumer (both dominance-join sides AND the final
    # `is_capped` attach: 3x, ~12 extra stages — the r12 profile's
    # stage explosion on semdedup_prune). Collect the size table
    # once; the cap becomes a Python int, the capped keys a literal
    # filter plus a LocalTableScan, and the guard costs ONE job.
    sizes = vecs.groupBy(key).agg(F.count("*").alias("_ksz")).collect()
    if max_param == "auto":
        total = sum(r["_ksz"] for r in sizes)
        n_groups = len(sizes)
        cap = max(
            SKEW_CAP_FLOOR,
            min(
                SKEW_CAP_FACTOR * total // max(n_groups, 1),
                SKEW_CAP_CEIL,
            ),
        )
    else:
        cap = int(max_param)
    # NULL keys never match the isin filter or the anti-join (the
    # documented pass-through), so a NULL group is never "capped" —
    # it must not enter the key list (sorted() would also choke on
    # None; latent in r12, only reachable with an over-cap NULL
    # group, which no catalog query produces).
    keys = sorted(
        r[key] for r in sizes if r[key] is not None and r["_ksz"] > cap
    )
    capped = local_df(
        vecs.sparkSession, [(k,) for k in keys], vecs.select(key).schema
    )
    if not keys:
        return vecs, capped
    if len(keys) > SKEW_CAP_ISIN_MAX:
        # Pathological corpus: thousands of over-cap groups. A
        # literal isin of that many keys bloats every downstream
        # plan (analysis cost is per-consumer) — fall back to a
        # broadcast ANTI join against the capped-key frame, whose
        # NULL semantics (NULL key matches nothing, flows through)
        # are exactly what the isin+coalesce filter replicates.
        return vecs.join(F.broadcast(capped), [key], "left_anti"), capped
    # replicate the anti-join's NULL semantics: a NULL key matches no
    # capped key and flows through joinable.
    joinable = vecs.filter(
        ~F.coalesce(F.col(key).isin(keys), F.lit(False))
    )
    return joinable, capped


def hyperplane(p: int, dim: int) -> list[float]:
    """Deterministic pseudo-random hyperplane p: each component is an
    md5-derived integer in [-1000, 1000] scaled to [-1, 1]. Inlined
    as literals on BOTH engines, so there is no float-generation
    drift to reconcile."""
    out = []
    for j in range(dim):
        h = hashlib.md5(f"sem:{p}:{j}".encode()).hexdigest()
        out.append((int(h[:8], 16) % 2001 - 1000) / 1000.0)
    return out


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-LSH bucket id: bit p = (vec . plane_p >= 0), packed into
    an integer. Map-only column expression. NOTE the per-plane dot is
    an interpreted `aggregate` fold outside codegen — `semantic_dedup`
    uses it only below LSH_KERNEL_BYTES of input; past that size it
    runs the Arrow kernel `_sem_vecs_arrow`."""
    bucket = F.lit(0).cast("long")
    for p, w in enumerate(planes):
        d = SIM.dot(vec, F.array(*[F.lit(x) for x in w]))
        bucket = bucket + F.when(d >= 0, F.lit(1 << p)).otherwise(F.lit(0))
    return bucket


# semantic_dedup's bucket/norm scan stage has two forms, chosen by
# input size. The 8 x dim literal-plane folds per vector are
# interpreted; the Arrow kernel computes all planes and the norm in
# ONE map-only pass — bit-identical (cumsum partial-sum order == the
# left fold from 0.0; sign test and power-of-two packing are exact
# integer ops; np.sqrt and Spark sqrt are both correctly rounded
# IEEE) — asserted in tests. The composed-plan A/B showed a
# crossover, not a uniform win: at 2k vectors the kernel's fixed
# costs (pin + count action, Python worker spin-up) exceed the fold
# saving (~2.7 s vs ~2.0 s bench protocol), while at 40k it wins
# 1.5-2x (12.6 s vs 17.9-26.3 s warm) and the gap widens with scale.
# The choice reads the INPUT's Catalyst size estimate (a parquet
# scan's file size — independent of either form, cheap) and takes
# the kernel past LSH_KERNEL_BYTES.
LSH_KERNEL_BYTES = 8 << 20


def _sem_vecs_arrow(
    src: DataFrame, planes: list[list[float]]
) -> DataFrame:
    """(vid, vec, bucket, nrm) in one Arrow `mapInPandas` pass over a
    (vid, vec) frame — the kernel form of the semantic_dedup scan
    stage. Requires fixed-dimension vectors (the embeddings-table
    contract) and raises on ragged input; the closed-over plane
    matrix is k x dim literals."""
    import numpy as np

    from pyspark.sql import types as T

    P = np.asarray(planes, dtype=np.float64)  # (k, dim)
    vid_field = src.schema["vid"]
    schema = T.StructType(
        [
            vid_field,
            T.StructField(
                "vec", T.ArrayType(T.DoubleType(), True), True
            ),
            T.StructField("bucket", T.LongType(), True),
            T.StructField("nrm", T.DoubleType(), True),
        ]
    )

    def compute(iterator):
        for pdf in iterator:
            n = len(pdf)
            if n == 0:
                continue
            V = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf["vec"]]
            )
            if V.dtype == object:
                raise ValueError(
                    "semantic_dedup requires fixed-dimension vectors: "
                    "every embedding must have the same length"
                )
            bucket = np.zeros(n, dtype=np.int64)
            if V.ndim == 2 and V.shape[1] > 0:
                for p in range(P.shape[0]):
                    d = np.cumsum(V * P[p][None, :], axis=1)[:, -1]
                    bucket += np.where(d >= 0.0, 1 << p, 0)
                nrm = np.sqrt(np.cumsum(V * V, axis=1)[:, -1])
            else:
                # zero-length vectors: every fold is its 0.0 init,
                # 0.0 >= 0 sets every bit — the expression form's
                # exact degenerate behavior
                bucket[:] = (1 << P.shape[0]) - 1
                nrm = np.zeros(n, dtype=np.float64)
            out = pdf.copy()
            out["bucket"] = bucket
            out["nrm"] = nrm
            yield out

    return src.mapInPandas(compute, schema)


def semantic_dedup(
    emb: DataFrame,
    n_planes: int = 8,
    dim: int = 64,
    threshold: float = 0.2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_bucket="auto",
) -> DataFrame:
    """SemDeDup-shaped embedding dedup with a deterministic quantizer.
    The bucket/norm scan stage is size-aware: the Arrow kernel past
    LSH_KERNEL_BYTES of input, the expression form below it (see the
    constant's crossover note; bit-identical, asserted in tests).
    Vectors must all have the same dimension.

    Vectors land in sign-LSH buckets (expected occupancy n / 2^P);
    within a bucket, a vector is DROPPED iff some smaller-id vector
    in the same bucket has cosine similarity >= threshold (keep-min
    policy, same convention as dedup_components). The candidate join
    is an equi-join on the bucket key — never all-pairs; raising
    n_planes shrinks buckets for denser corpora.

    max_bucket — the hot-bucket skew guard (`_occupancy_cap`),
    DEFAULT-ON since r12 at "auto" (SKEW_CAP_FACTOR x mean occupancy,
    floored at SKEW_CAP_FLOOR, absolute-ceilinged at SKEW_CAP_CEIL —
    see the constants' note): buckets above the cap are excluded
    from the dominance self-join BEFORE it runs and their members
    pass through kept with `is_capped = 1` — observable, and the
    quadratic pair list of a boilerplate mega-bucket is never built.
    Pass an int to pin the cap, None to opt out. Documented recall
    tradeoff: boilerplate clusters are better handled by exact /
    MinHash dedup upstream.

    Output: (id_col, bucket, is_kept, is_capped).
    """
    planes = [hyperplane(p, dim) for p in range(n_planes)]
    src = DD.ensure_parallelism(
        emb.select(
            F.col(id_col).alias("vid"),
            F.col(vec_col).cast("array<double>").alias("vec"),
        )
    )
    try:
        est = int(
            src._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:  # pragma: no cover - estimate unavailable
        est = 0
    arrow = est >= LSH_KERNEL_BYTES
    if arrow:
        # the kernel output IS pinned (unlike the expr form below):
        # the frame feeds four plan branches (size table, both join
        # sides, the final keep map) and each unpinned use would pay
        # a full Python-worker round trip; the arrow plan is compact
        # (one mapInPandas node, no wide literals), so the
        # cache-manager planning tax that forbids pinning the
        # expression form does not apply. pin() scopes the cache to
        # this query.
        from reader_spark.cache import pin

        vecs = pin(_sem_vecs_arrow(src, planes))
    else:
        vecs = src.select(
            "vid",
            "vec",
            lsh_bucket(F.col("vec"), planes).alias("bucket"),
            F.sqrt(SIM.dot(F.col("vec"), F.col("vec"))).alias("nrm"),
        )
    # the EXPR form's vecs is deliberately NOT persisted: its
    # wide-literal plan (8 x dim hyperplane constants) would tax
    # every subsequent query's planning via cache-manager plan
    # matching; its bucket pass recomputes per use, JVM-side.
    joinable, capped = _occupancy_cap(vecs, "bucket", max_bucket)
    a = joinable.alias("a")
    # broadcast-gate audit (re-done for the r12 kernel): on the
    # kernel path vecs is pinned, so the hint comes from the
    # MATERIALIZED size (plan-independent, the r12 rule) — KB-MB at
    # test scale fires it; a 10^8-doc corpus exceeds the cap and it
    # correctly doesn't. On the small-input expression path the
    # inflated wide-literal estimate disables the hint and the join
    # shuffles on `bucket`. The probe side is spread
    # (ensure_parallelism above), so either decision executes
    # parallel and capped.
    b = (
        DD.maybe_broadcast_pinned(joinable.alias("b"), pinned=vecs)
        if arrow
        else DD.maybe_broadcast(joinable.alias("b"))
    )
    cos = SIM.dot(F.col("a.vec"), F.col("b.vec")) / (
        F.col("a.nrm") * F.col("b.nrm")
    )
    cand = (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vid") > F.col("b.vid")),
        )
        .select(F.col("a.vid").alias("vid"), F.round(cos, 6).alias("cs"))
    )
    dropped = cand.filter(F.col("cs") >= threshold).select("vid").distinct()
    return (
        vecs.join(dropped.withColumn("dropped", F.lit(1)), "vid", "left")
        .join(
            F.broadcast(capped.withColumn("__capped", F.lit(1))),
            "bucket",
            "left",
        )
        .select(
            F.col("vid").alias(id_col),
            "bucket",
            F.when(F.col("dropped").isNull(), F.lit(1))
            .otherwise(F.lit(0))
            .alias("is_kept"),
            F.coalesce(F.col("__capped"), F.lit(0)).alias("is_capped"),
        )
    )


def semdedup_prune(
    emb: DataFrame,
    n_iters: int = 2,
    threshold: float = 0.2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed_col: str = "label",
    max_cluster="auto",
) -> DataFrame:
    """SemDeDup proper (Abbas et al. 2023, arXiv:2303.09540): k-means
    the embedding space, then within each cluster drop every member
    of a cos >= threshold pair EXCEPT the one farthest from the
    cluster centroid — the paper's keep-low-centroid-similarity
    policy (prototypical near-copies shed mass; cluster-edge
    diversity survives). A vector is dropped iff some same-cluster
    neighbor with cos >= threshold strictly dominates it by
    (centroid distance DESC, id ASC) — among any duplicate pair
    exactly one side dominates, and only un-dominated (locally
    maximal) members are kept.

    Vs `semantic_dedup` (sign-LSH buckets, keep-min-id): candidates
    here share a LEARNED cluster, so a lower threshold reaches real
    paraphrases rather than only near-identical vectors, and the keep
    policy is geometry-aware instead of id-arbitrary.

    Scale: the pair list is bounded by cluster occupancy. At 100 TB
    the cluster count K grows with the corpus (the paper runs K~50k),
    holding n/K — and the per-cluster O((n/K)^2) dominance join —
    flat; the join is an equi-join on the cluster key, never
    all-pairs across clusters. `max_cluster` is the same
    by-construction skew guard as `semantic_dedup.max_bucket`
    (`_occupancy_cap`), DEFAULT-ON since r12 at "auto": clusters
    above SKEW_CAP_FACTOR x mean occupancy (floored at SKEW_CAP_FLOOR,
    absolute-ceilinged at SKEW_CAP_CEIL — a 10k-member cluster is
    10^8 pairs on one key no matter how normal it is for its corpus)
    pass through kept with `is_capped = 1` and never
    build a quadratic pair list (boilerplate mega-clusters belong to
    exact / MinHash dedup upstream). Pass an int to pin the cap,
    None to opt out.

    Output: (id_col, cluster_id, is_kept, is_capped)."""
    from reader_spark.cache import pin

    # scored feeds both sides of the dominance join AND the final
    # keep/drop join — pin it so the k-means scoring runs once, not
    # three times (the budget_select pattern).
    scored = pin(
        SIM.kmeans_assign_scored(
            emb,
            n_iters=n_iters,
            id_col=id_col,
            vec_col=vec_col,
            seed_col=seed_col,
        )
    )
    joinable, capped = _occupancy_cap(scored, "cl", max_cluster)
    # SHUFFLE self-join keyed on `cl`, never a broadcast: the
    # quadratic per-cluster pair generation must run where the
    # CLUSTER KEY's partitioning puts it. A broadcast b-side pins
    # pair-gen onto the probe side's scan partitioning — one
    # partition on a one-file input, the r11 nprobe=1 assignment
    # regression (arrow 3.7 s vs expr 2.3 s at sf0.1, entirely that
    # serialization) — and pre-spreading `scored` round-robin just
    # moves the cost into defaultParallelism-many tiny-task stages
    # across the whole query (r12 A/B). The repartition's EXPLICIT
    # partition count keeps AQE from coalescing the tiny exchange
    # back to one task (measured: a bare merge hint here ran the
    # whole 2.4 s pair-gen in a single AQE-coalesced task); both
    # join sides share the one exchange, and this is the same
    # cluster-keyed plan shape the 10^8-doc tier runs (a
    # corpus-sized build side is past any broadcast cap; the
    # occupancy cap bounds per-cluster pair counts).
    spread = joinable.repartition(
        scored.sparkSession.sparkContext.defaultParallelism, "cl"
    )
    a = spread.alias("a")
    b = spread.alias("b")
    cos = SIM.dot(F.col("a.vec"), F.col("b.vec")) / (
        F.sqrt(F.col("a.nv")) * F.sqrt(F.col("b.nv"))
    )
    a_id, b_id = F.col(f"a.{id_col}"), F.col(f"b.{id_col}")
    dominated = (F.col("b.dist") > F.col("a.dist")) | (
        (F.col("b.dist") == F.col("a.dist")) & (b_id < a_id)
    )
    dropped = (
        a.join(
            b,
            (F.col("a.cl") == F.col("b.cl")) & (a_id != b_id),
        )
        .filter((cos >= F.lit(threshold)) & dominated)
        .select(a_id.alias("__vid"))
        .distinct()
    )
    # size-gated broadcast of the drop list: locally it saves the
    # two id-keyed exchanges of a sort-merge left join; at the
    # 10^8-doc tier `dropped` can approach corpus size (everything
    # duplicated), its estimate grows with it, and the hint drops.
    return (
        scored.join(
            DD.maybe_broadcast(
                dropped.withColumn("__drop", F.lit(1))
            ),
            scored[id_col] == dropped["__vid"],
            "left",
        )
        .join(
            F.broadcast(capped.withColumn("__capped", F.lit(1))),
            "cl",
            "left",
        )
        .select(
            F.col(id_col),
            F.col("cl").alias("cluster_id"),
            F.when(F.col("__drop").isNull(), F.lit(1))
            .otherwise(F.lit(0))
            .alias("is_kept"),
            F.coalesce(F.col("__capped"), F.lit(0)).alias("is_capped"),
        )
    )


# ---------------------------------------------------------------------------
# context-window chunking


def chunk_documents(
    docs: DataFrame,
    width: int = 64,
    overlap: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    emit_text: bool = False,
) -> DataFrame:
    """Split each document into overlapping `width`-token context
    windows advancing by `width - overlap` tokens — the chunking pass
    that precedes embedding / retrieval-index builds and fixed-window
    training. A document with n <= width tokens yields exactly one
    chunk; otherwise ceil((n - width) / stride) + 1 chunks, the last
    one truncated to the document end (never padded).

    Scale: pure array arithmetic in the scan stage — split once,
    `sequence` over chunk ordinals, `slice` per chunk, one explode.
    No shuffle at all; output partitioning inherits the scan. The
    emitted chunk is hashed (md5) next to its token count so the
    downstream chunk-level dedup/index joins never carry the text.
    """
    stride = width - overlap
    if stride <= 0:
        raise ValueError("overlap must be smaller than width")
    ws = F.col("ws")
    n = F.size(ws)
    n_chunks = (
        F.when(n <= width, F.lit(1))
        .otherwise(F.ceil((n - width) / F.lit(float(stride))) + 1)
        .cast("int")
    )
    chunk_text = F.concat_ws(
        " ", F.slice(ws, F.col("chunk_id") * stride + 1, width)
    )
    return (
        DD.ensure_parallelism(docs)
        .select(id_col, F.split(F.col(text_col), " ").alias("ws"))
        .select(
            id_col,
            "ws",
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
        )
        .select(
            id_col,
            "chunk_id",
            F.size(F.slice(ws, F.col("chunk_id") * stride + 1, width)).alias(
                "n_chunk_tokens"
            ),
            F.md5(chunk_text).alias("chunk_hash"),
            # emit_text carries the chunk body for shard writers; the
            # default keeps chunks as (hash, count) so chunk-level
            # joins never move text
            *([chunk_text.alias("chunk_text")] if emit_text else []),
        )
    )


# ---------------------------------------------------------------------------
# mixture planning


def mixture_plan(
    docs: DataFrame,
    weights: dict[str, float],
    budget_tokens: int,
    group: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Source-mixture planning: given target mixture weights and a
    total token budget, compute per-source available tokens, needed
    tokens, the sampling rate (>1 means the source repeats), and the
    epoch count ceil(rate) a shard writer must plan for.

    Scale: ONE tiny aggregate (per-source token sums — cardinality is
    the source space, not the corpus); everything after is driver-free
    literal arithmetic on that aggregate. Sources absent from
    `weights` get weight 0 (dropped from the mix).

    The sampling rate is emitted as `rate_ppm` (parts-per-million,
    BIGINT): floor(tokens_needed * 1e6 / tokens_have) in pure integer
    arithmetic. A float `round(double/double, 6)` here is
    ulp-sensitive across engines (the r4 `mixture_plan` hash red);
    integer division of two exact BIGINTs is not.
    """
    from reader_spark.functions.text import token_count_ws

    w = F.lit(0.0)
    for k, v in sorted(weights.items()):
        w = F.when(F.col(group) == k, F.lit(float(v))).otherwise(w)
    have = docs.groupBy(group).agg(
        F.sum(token_count_ws(F.col(text_col))).alias("tokens_have")
    )
    need = F.round(w * budget_tokens).cast("long").alias("tokens_needed")
    return have.select(group, "tokens_have", need).select(
        group,
        "tokens_have",
        "tokens_needed",
        F.expr("(tokens_needed * 1000000L) div tokens_have").alias(
            "rate_ppm"
        ),
        F.expr("(tokens_needed + tokens_have - 1) div tokens_have").alias(
            "n_epochs"
        ),
    )


def mixture_apply(
    docs: DataFrame,
    weights: dict[str, float],
    budget_tokens: int,
    group: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """EXECUTE the mixture plan: each doc in a group with sampling
    rate r emits floor(r) full copies plus one more iff its
    md5-uniform draw < frac(r) — expected emitted tokens equal the
    plan's tokens_needed, per-doc decisions are deterministic and
    partitioning-invariant, and rates > 1 materialize as real epoch
    repeats (epoch_copy = 1..n). The bridge from `mixture_plan`'s
    numbers to the rows a shard writer consumes.

    The fractional draw is pure integer arithmetic: the md5 draw in
    [0, 1e6) is compared against rate_ppm % 1e6 — no doubles anywhere
    in the keep/copy decision, so both engines agree bit-for-bit.

    Scale: one broadcast join of the group-space rate table + a
    map-only copy computation; the only row growth is the intended
    repeat factor."""
    rates = mixture_plan(
        docs, weights, budget_tokens, group, text_col
    ).select(group, "rate_ppm")
    j = docs.join(F.broadcast(rates), group)
    n_full = F.expr("rate_ppm div 1000000L")
    p_extra_ppm = F.col("rate_ppm") % 1_000_000
    extra = (_hash_ppm(F.col(id_col), "mix") < p_extra_ppm).cast("long")
    return (
        j.withColumn("n_copies", n_full + extra)
        .filter(F.col("n_copies") > 0)
        .select(
            id_col,
            group,
            F.explode(
                F.sequence(F.lit(1).cast("long"), F.col("n_copies"))
            ).alias("epoch_copy"),
        )
    )


def budget_select(
    docs: DataFrame,
    budget_tokens: int,
    quality: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Token-budget corpus selection — keep the highest-quality
    documents whose tokens fit `budget_tokens` — WITHOUT the global
    ORDER BY a naive greedy would run (a single-reducer sort at
    100 TB). The distributed shape:

      1. per-doc integer quality level `q_ppm` (the quality score in
         parts-per-million, BIGINT) + whitespace token count;
      2. ONE tiny aggregate: per-level token totals — cardinality is
         bounded by 1e6+1 LEVELS regardless of corpus size;
      3. a cumulative window over that tiny frame classifies levels:
         every level that fits entirely under the budget is IN, and
         at most one BOUNDARY level straddles it;
      4. only the boundary level's docs (score ties at exactly t* —
         ~1/1e6 of the corpus for a ppm-resolution score) pay a
         bounded rank window: a deterministic md5-ordered running
         token total, kept while it fits the remaining budget
         (greedy whole-doc prefix — the first doc that overflows
         ends the selection, knapsack-style refill is deliberately
         NOT attempted).

    Corpus-sized work: one map pass + one groupBy(q_ppm) partial
    aggregate + one broadcast semi-join. Emits (id, q_ppm, toks) —
    integers only (float-parity rule)."""
    from pyspark.sql import Window as W

    from reader_spark.cache import pin
    from reader_spark.functions.text import token_count_ws

    # scored feeds THREE consumers (level aggregate, full-level join,
    # boundary join) — pinned so the quality-score map pass (the
    # dominant cost: 6.4 s of the probe's 34 s x3 at 100x) runs once
    scored = pin(
        docs.select(
            F.col(id_col),
            token_count_ws(F.col(text_col)).cast("long").alias("toks"),
            F.round(quality * 1_000_000).cast("long").alias("q_ppm"),
        )
    )
    levels = scored.groupBy("q_ppm").agg(F.sum("toks").alias("lvl_toks"))
    # tiny frame (<= 1e6+1 rows): the unpartitioned cumulative window
    # is bounded by the LEVEL space, not the corpus
    w = W.orderBy(F.col("q_ppm").desc()).rowsBetween(
        W.unboundedPreceding, -1
    )
    lv = levels.withColumn(
        "cum_before", F.coalesce(F.sum("lvl_toks").over(w), F.lit(0))
    )
    budget = F.lit(int(budget_tokens))
    full_lv = lv.filter(
        F.col("cum_before") + F.col("lvl_toks") <= budget
    ).select("q_ppm")
    bnd = lv.filter(
        (F.col("cum_before") < budget)
        & (F.col("cum_before") + F.col("lvl_toks") > budget)
    ).select("q_ppm", (budget - F.col("cum_before")).alias("rem"))
    full_docs = scored.join(F.broadcast(full_lv), "q_ppm").select(
        id_col, "q_ppm", "toks"
    )
    wb = W.partitionBy("q_ppm").orderBy(
        _hash_ppm(F.col(id_col), "bsel").asc(), F.col(id_col).asc()
    )
    boundary = (
        scored.join(F.broadcast(bnd), "q_ppm")
        .withColumn("run", F.sum("toks").over(wb))
        .filter(F.col("run") <= F.col("rem"))
        .select(id_col, "q_ppm", "toks")
    )
    return full_docs.unionByName(boundary)


# ---------------------------------------------------------------------------
# deterministic epoch shuffle


def _epoch_shard(
    id_col: str, n_shards: int, epoch: int, draw: str = "draw"
):
    """The epoch shuffle's two columns: the md5 draw keyed by
    (epoch, id), aliased `draw`, and the shard it maps to,
    pmod(draw, n_shards) — which reads the `draw` column, so select
    the draw first. `epoch_shuffle` and `write_training_shards` both
    build their assignment from here."""
    h = DD.md5_hash64(
        F.concat(F.lit(f"ep{epoch}:"), F.col(id_col).cast("string")), "shuf"
    )
    return h.alias(draw), F.pmod(F.col(draw), F.lit(n_shards)).cast("int")


def epoch_shuffle(
    docs: DataFrame,
    n_shards: int = 16,
    epoch: int = 0,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic global shuffle for training-shard writing: every
    document gets an md5 draw keyed by (epoch, id), its shard is the
    draw mod n_shards, and its position within the shard is the rank
    of the draw — a different, reproducible permutation per epoch
    with no RNG state and no global sort.

    Scale: the ONLY shuffle is the per-shard rank window, and it is
    PARTITIONED by shard — at 100 TB you size n_shards so a shard is
    a few GB (100k+ shards), which simultaneously bounds the window
    partition and matches the shard files a data loader wants. The
    hash is uniform, so shards are balanced by construction (no skew
    guard needed).
    """
    from pyspark.sql import Window as W

    draw, shard = _epoch_shard(id_col, n_shards, epoch)
    w = W.partitionBy("shard").orderBy("draw", id_col)
    return (
        DD.ensure_parallelism(docs)
        .select(id_col, draw)
        .withColumn("shard", shard)
        .withColumn("pos", F.row_number().over(w))
        .select(id_col, "shard", "pos")
    )


# ---------------------------------------------------------------------------
# passage-level dedup


def passage_stats(
    docs: DataFrame, width: int = 8, text_col: str = "text"
) -> DataFrame:
    """Passage-level duplication profile: chunk each document into
    non-overlapping `width`-word passages, hash each, count every
    passage's corpus-wide occurrences, and report per document how
    many of its passages are duplicated anywhere in the corpus (the
    span-level analogue of exact dedup — boilerplate headers, license
    blocks, and templated paragraphs repeat across documents whose
    full texts are unique).

    Scale: the chunking is array arithmetic in the scan stage; the
    occurrence count and the join back are both keyed on the uniform
    60-bit passage hash, so the two shuffles are skew-free and
    map-side combinable. Output is one row per document.
    """
    ws = F.col("ws")
    chunks = F.transform(
        F.sequence(
            F.lit(0), F.floor((F.size(ws) - 1) / width).cast("int")
        ),
        lambda i: F.concat_ws(
            " ", F.slice(ws, i * width + 1, width)
        ),
    )
    # staged split (see shingles_from): ONE split in the plan instead
    # of one per size/floor/slice reference
    exploded = (
        DD.ensure_parallelism(docs)
        .select("doc_id", F.split(F.col(text_col), " ").alias("ws"))
        .select("doc_id", F.explode(chunks).alias("p"))
        .select("doc_id", DD.md5_hash64(F.col("p"), "ps").alias("ph"))
    )
    counts = exploded.groupBy("ph").agg(F.count("*").alias("cnt"))
    return (
        exploded.join(counts, "ph")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_passages"),
            F.sum(F.when(F.col("cnt") > 1, 1).otherwise(0)).alias("n_dup"),
        )
        .select(
            "doc_id",
            "n_passages",
            "n_dup",
            F.round(F.col("n_dup") / F.col("n_passages"), 6).alias(
                "dup_frac"
            ),
        )
    )


# r12: the window-hash frame (doc_id, s, sh) feeds BOTH the
# corpus-wide occurrence count and the duplicated-window join probe.
# It is pinned so the split + stride-1 explode + per-window md5 pass
# (the span family's CPU hot spot) runs ONCE. ~20 B/row cached —
# linear in corpus tokens, the same bound as the shuffle the count
# already pays, so it holds at the 100 TB tier. Caller obligation
# (ADVICE r12): the pin is released by the catalog lifecycle
# (queries._fresh_entry / the harnesses call cache.release_pins()
# after each query) — LIBRARY callers invoking duplicate_spans /
# remove_duplicate_spans directly must call
# reader_spark.cache.release_pins() when done, or pinned span frames
# accumulate across calls. At very large corpora the
# MEMORY_AND_DISK persist trades recompute for spill.


def _span_hashes(base: DataFrame, width: int) -> DataFrame:
    """(doc_id, s, sh): every width-token window's 60-bit hash,
    stride 1 — shared by `duplicate_spans` / `remove_duplicate_spans`
    and pinned (see note above)."""
    ws = F.col("ws")
    spans = (
        base.filter(F.size(ws) >= width)
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(0), (F.size(ws) - width).cast("int"))
            ).alias("s"),
            ws,
        )
        .select(
            "doc_id",
            "s",
            DD.md5_hash64(
                F.concat_ws(" ", F.slice(ws, F.col("s") + 1, width)), "sp"
            ).alias("sh"),
        )
    )
    return pin(spans)


def duplicate_spans(
    docs: DataFrame, width: int = 8, text_col: str = "text"
) -> DataFrame:
    """Exact-substring duplication profile with OVERLAPPING windows
    (the Lee et al. "Deduplicating Training Data Makes Language
    Models Better" shape, re-expressed relationally): every
    `width`-token window (stride 1) is hashed; windows occurring
    more than once corpus-wide mark their token span [s, s+width)
    as duplicated; per document the overlapping duplicated spans are
    MERGED (gaps-and-islands) and the covered-token fraction
    reported. Strictly stronger than `passage_stats`: a duplicated
    passage straddling a fixed chunk boundary is invisible to
    non-overlapping chunking but covered here.

    Scale: span hashing is array arithmetic in the scan stage (one
    staged split, one explode — ~n_tokens rows per doc, the price of
    stride-1 coverage); the occurrence count keys on the uniform
    60-bit hash (skew-free, map-side combinable). The interval merge
    is two windows PARTITIONED BY doc — state bounded by one
    document's spans, never corpus-global. Docs shorter than `width`
    have no spans and report 0 duplicated tokens.
    """
    from pyspark.sql import Window as W

    ws = F.col("ws")
    base = DD.ensure_parallelism(docs).select(
        "doc_id", F.split(F.col(text_col), " ").alias("ws")
    )
    lens = base.select("doc_id", F.size(ws).alias("n_tokens"))
    spans = _span_hashes(base, width)
    counts = spans.groupBy("sh").agg(F.count("*").alias("cnt"))
    dup = spans.join(counts, "sh").filter(F.col("cnt") > 1)
    # gaps-and-islands over [s, s+width): a span starts a new island
    # iff it begins past the running max end of all prior spans.
    wo = W.partitionBy("doc_id").orderBy("s")
    prev_end = F.max(F.col("s") + width).over(
        wo.rowsBetween(W.unboundedPreceding, -1)
    )
    islands = dup.select(
        "doc_id",
        "s",
        F.when(prev_end.isNull() | (F.col("s") > prev_end), 1)
        .otherwise(0)
        .alias("new_island"),
    ).withColumn("island", F.sum("new_island").over(wo))
    covered = (
        islands.groupBy("doc_id", "island")
        .agg((F.max("s") + width - F.min("s")).alias("span_tokens"))
        .groupBy("doc_id")
        .agg(F.sum("span_tokens").alias("dup_tokens"))
    )
    return (
        lens.join(covered, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("dup_tokens", F.lit(0)).alias("dup_tokens"),
            F.round(
                F.coalesce("dup_tokens", F.lit(0)) / F.col("n_tokens"), 6
            ).alias("dup_frac"),
        )
    )


def remove_duplicate_spans(
    docs: DataFrame, width: int = 8, text_col: str = "text"
) -> DataFrame:
    """The EXCISION transform paired with `duplicate_spans`' report —
    the Lee et al. pipeline's second half (the published
    deduplicate-text-datasets tool cuts every occurrence of a
    duplicated substring; the report only measures them). Every
    merged duplicated island's token positions are dropped from the
    document; survivors re-join into the cleaned text. Deterministic:
    same islands as the report, so cleaned + dup_tokens == n_tokens.

    Scale: the island list per doc is bounded by the doc's own spans
    (the report's argument); membership is one `exists` per token
    over that small list — pure array expressions in the scan stage,
    no extra shuffle beyond the report's.

    Returns (doc_id, n_tokens, kept_tokens, clean_hash) — the md5 of
    the cleaned text stands in for the text so downstream compares
    never haul documents."""
    from pyspark.sql import Window as W

    ws = F.col("ws")
    base = DD.ensure_parallelism(docs).select(
        "doc_id", F.split(F.col(text_col), " ").alias("ws")
    )
    spans = _span_hashes(base, width)
    counts = spans.groupBy("sh").agg(F.count("*").alias("cnt"))
    dup = spans.join(counts, "sh").filter(F.col("cnt") > 1)
    wo = W.partitionBy("doc_id").orderBy("s")
    prev_end = F.max(F.col("s") + width).over(
        wo.rowsBetween(W.unboundedPreceding, -1)
    )
    islands = (
        dup.select(
            "doc_id",
            "s",
            F.when(prev_end.isNull() | (F.col("s") > prev_end), 1)
            .otherwise(0)
            .alias("new_island"),
        )
        .withColumn("island", F.sum("new_island").over(wo))
        .groupBy("doc_id", "island")
        .agg(
            F.min("s").alias("st"),
            (F.max("s") + width).alias("en"),
        )
        .groupBy("doc_id")
        .agg(F.collect_list(F.struct("st", "en")).alias("iv"))
    )
    no_iv = F.array().cast("array<struct<st:int,en:int>>")
    iv = F.coalesce(F.col("iv"), no_iv)
    kept_idx = F.filter(
        F.sequence(F.lit(0), F.size(ws) - 1),
        lambda i: ~F.exists(
            iv, lambda v: (i >= v["st"]) & (i < v["en"])
        ),
    )
    clean = F.transform(kept_idx, lambda i: F.get(ws, i))
    return (
        base.join(islands, "doc_id", "left")
        .select(
            "doc_id",
            F.size(ws).cast("long").alias("n_tokens"),
            F.size(clean).cast("long").alias("kept_tokens"),
            F.md5(F.concat_ws(" ", clean)).alias("clean_hash"),
        )
    )


# ---------------------------------------------------------------------------
# unigram language-model scoring


def unigram_logprob(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document mean unigram log-probability under the corpus'
    own unigram distribution — the classic perplexity-proxy quality
    filter (documents of rare-token soup score low; documents of
    common tokens score high).

    avg_logprob(d) = sum_{t in d} ln(cf_t / total_tokens) / |d|

    Scale: one (term) aggregate builds the vocabulary (output is
    vocabulary-sized), broadcast back when small (maybe_broadcast);
    the per-document aggregate shuffles on doc_id. The token explode
    runs twice rather than persisting it — a leaked persist would tax
    all later planning; in a job script persist + unpersist instead.
    """
    tok = DD.ensure_parallelism(docs).select(
        "doc_id", F.explode(F.split(F.col(text_col), " ")).alias("term")
    )
    vocab = tok.groupBy("term").agg(F.count("*").alias("cf"))
    total = vocab.agg(F.sum("cf").alias("total_tokens"))
    return (
        tok.join(DD.maybe_broadcast(vocab), "term")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(
                F.sum(F.log(F.col("cf") / F.col("total_tokens")))
                / F.count("*"),
                6,
            ).alias("avg_logprob"),
        )
    )


# ---------------------------------------------------------------------------
# interpolated bigram language-model scoring


def bigram_logprob(
    docs: DataFrame, lam: float = 0.7, text_col: str = "text"
) -> DataFrame:
    """Per-document mean log-probability under an interpolated bigram
    LM trained on the corpus itself:

        score(d) = mean_{i>=2} ln( lam * c(w_{i-1} w_i)/c(w_{i-1})
                                 + (1-lam) * c(w_i)/N )

    — the next quality-filter rung above `unigram_logprob`: documents
    whose word ORDER is unusual (shuffled/garbled text, keyword
    stuffing) score low even when their unigram mix looks normal.
    Interpolation with the unigram term means unseen bigrams degrade
    smoothly instead of to -inf.

    Scale: the LM tables are vocabulary-sized (one unigram + one
    bigram aggregate, both map-side combinable); the scoring pass
    explodes adjacent pairs in the scan stage (one split, two shifted
    slices zipped — the pmi_bigrams shape), joins the two tables
    (broadcast when the size estimate allows), and aggregates per
    doc_id. Nothing corpus-sized survives any stage except the
    per-position pair stream, which is the input's own size.
    """
    ws = F.split(F.col(text_col), " ")
    pairs = F.arrays_zip(
        F.slice(ws, 1, F.size(ws) - 1).alias("w1"),
        F.slice(ws, 2, F.size(ws) - 1).alias("w2"),
    )
    base = DD.ensure_parallelism(docs).select(
        "doc_id", F.explode(pairs).alias("p")
    ).select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    uni = (
        DD.ensure_parallelism(docs)
        .select(F.explode(ws).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    total = uni.agg(F.sum("c").alias("n_tokens"))
    bi = base.groupBy("w1", "w2").agg(F.count("*").alias("c_ab"))
    share_uni = DD.should_broadcast(uni)
    u1 = F.broadcast(uni) if share_uni else uni
    p_bi = F.col("c_ab") / F.col("c1")
    p_uni = F.col("c2") / F.col("n_tokens")
    return (
        base.join(DD.maybe_broadcast(bi), ["w1", "w2"])
        .join(u1.select(F.col("w").alias("w1"), F.col("c").alias("c1")), "w1")
        .join(u1.select(F.col("w").alias("w2"), F.col("c").alias("c2")), "w2")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_pairs"),
            F.round(
                F.sum(F.log(F.lit(lam) * p_bi + F.lit(1.0 - lam) * p_uni))
                / F.count("*"),
                6,
            ).alias("avg_logprob"),
        )
    )


# ---------------------------------------------------------------------------
# fixed-context sequence packing (sample packing)


def pack_sequences(
    docs: DataFrame,
    seq_len: int = 256,
    n_buckets: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Next-fit packing of whole documents into fixed-length training
    sequences: each doc lands in a deterministic hash bucket; within
    the bucket, docs are taken in id order and appended to the
    current sequence until the next doc would overflow `seq_len`,
    which starts a new sequence. Emits (doc, bucket, seq index
    within bucket, token offset within the sequence) — the layout a
    no-cross-document-attention trainer consumes. Docs longer than
    `seq_len` get a sequence of their own (the trainer truncates).

    Packing is inherently sequential per bin stream — the recurrence
    (fill state) can't be expressed as a window function — so it runs
    as `applyInPandas` per bucket: a plain O(rows) Python loop over
    each bucket's id-sorted docs. Determinism: bucket = md5(id) mod
    n_buckets and in-bucket order is (id), so the output is
    partition-layout-invariant and reproducible.

    Scale: ONE shuffle (the groupBy(bucket) exchange); per-task state
    is one integer fill counter; size n_buckets so a bucket is a few
    hundred MB (at 100 TB that is ~10^5-10^6 buckets, which also
    matches the shard files a loader wants). Packing quality loses
    nothing measurable vs a global next-fit: both are first-come
    streams, and the md5 bucketing is a uniform random permutation of
    the same corpus.
    """
    import pandas as pd

    n_tok = F.size(F.split(F.col(text_col), " "))
    sized = DD.ensure_parallelism(docs).select(
        F.col(id_col).alias("doc_id"),
        n_tok.alias("n_tok"),
        F.pmod(
            DD.md5_hash64(F.col(id_col).cast("string"), "packbkt"),
            F.lit(n_buckets),
        ).cast("int").alias("bucket"),
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("bucket", T.IntegerType()),
            T.StructField("seq_idx", T.LongType()),
            T.StructField("seq_off", T.LongType()),
            T.StructField("n_tok", T.LongType()),
        ]
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        seq, fill = 0, 0
        seqs, offs = [], []
        for n in pdf["n_tok"]:
            n = int(n)
            if fill > 0 and fill + n > seq_len:
                seq, fill = seq + 1, 0
            seqs.append(seq)
            offs.append(fill)
            fill += n
        return pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "bucket": pdf["bucket"],
                "seq_idx": seqs,
                "seq_off": offs,
                "n_tok": pdf["n_tok"],
            }
        )

    return sized.groupBy("bucket").applyInPandas(pack, schema=schema)


# ---------------------------------------------------------------------------
# vocabulary coverage / OOV-rate scoring


def vocab_coverage(
    docs: DataFrame, vocab_size: int = 20, text_col: str = "text"
) -> DataFrame:
    """Per-document out-of-vocabulary rate against the corpus' own
    top-`vocab_size` word vocabulary (ties broken by term) — the
    tokenizer-design companion metric: documents dominated by
    out-of-vocab tokens either need vocab growth or are noise.

    Scale: the vocabulary comes from one map-side-combinable term
    aggregate followed by `orderBy(...).limit(V)` — Spark compiles
    that to TakeOrderedAndProject (per-partition partial top-V, no
    global sort materialization). The per-doc pass joins tokens
    against the broadcast vocabulary and aggregates on doc_id.
    """
    tok = DD.ensure_parallelism(docs).select(
        "doc_id", F.explode(F.split(F.col(text_col), " ")).alias("term")
    )
    vocab = (
        tok.groupBy("term")
        .agg(F.count("*").alias("cf"))
        .orderBy(F.col("cf").desc(), F.col("term"))
        .limit(vocab_size)
        .select("term", F.lit(True).alias("in_vocab"))
    )
    return (
        tok.join(F.broadcast(vocab), "term", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(
                F.when(F.col("in_vocab").isNull(), 1).otherwise(0)
            ).alias("n_oov"),
            F.round(
                F.sum(F.when(F.col("in_vocab").isNull(), 1.0).otherwise(0.0))
                / F.count("*"),
                6,
            ).alias("oov_rate"),
        )
    )


def drift_report(
    ref: DataFrame,
    cur: DataFrame,
    value_col: str,
    n_buckets: int = 20,
) -> DataFrame:
    """Distribution drift between two snapshots of the same column —
    the check a recurring ingest runs before appending a new wave to
    training data (did the upstream change under us?).

    Fixed-width buckets are anchored on the REFERENCE min/max (one
    2-scalar aggregate, broadcast back; identical IEEE double
    arithmetic on both engines — the value_histogram contract);
    current values outside the reference range clamp into the edge
    buckets, so range escape shows up as edge-bucket mass instead of
    dropped rows. Per bucket: counts and integer-ppm shares for both
    snapshots and the share delta. Total-variation distance is
    sum(abs(delta_ppm)) // 2 over the output (see drift_summary).

    Scale: two map-only bucket assignments + two bounded (n_buckets-
    row) aggregates; nothing is ever joined row-to-row, so the two
    snapshots can be 100 TB each. All-constant reference columns
    degenerate to one bucket by construction (width 0 guard)."""
    from reader_spark.cache import pin

    # 1-row frame consumed by BOTH bucketing passes: pin it, or the
    # reference snapshot is scanned once per side just for min/max
    stats = pin(
        ref.agg(
            F.min(value_col).cast("double").alias("lo"),
            F.max(value_col).cast("double").alias("hi"),
        )
    )
    width = (F.col("hi") - F.col("lo")) / float(n_buckets)

    def bucketed(df: DataFrame, out: str) -> DataFrame:
        # Clamp in BIGINT, THEN narrow: floor() of a far-out-of-range
        # double saturates to Long.MaxValue, and casting that to int
        # before least() raises CAST_OVERFLOW — the exact anomaly the
        # operator exists to flag (a corrupted sentinel epoch, a bad
        # encoder's float overflow) would kill the drift job.
        b = F.when(F.col("hi") == F.col("lo"), F.lit(0)).otherwise(
            F.least(
                F.lit(n_buckets - 1).cast("long"),
                F.greatest(
                    F.lit(0).cast("long"),
                    F.floor(
                        (F.col(value_col).cast("double") - F.col("lo")) / width
                    ),
                ),
            ).cast("int")
        )
        return (
            df.crossJoin(F.broadcast(stats))
            .select(b.alias("bucket"))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias(out))
        )

    r = bucketed(ref, "ref_n")
    c = bucketed(cur, "cur_n")
    joined = (
        r.join(c, "bucket", "full")
        .fillna(0, subset=["ref_n", "cur_n"])
    )
    totals = joined.agg(
        F.sum("ref_n").alias("ref_total"), F.sum("cur_n").alias("cur_total")
    )
    # greatest(total, 1): an EMPTY current wave is a legitimate input
    # (the ingest produced nothing — that IS the drift signal: all
    # cur shares read 0, so TVD = sum(ref_ppm) div 2 ~= 5e5, the
    # half-the-mass-moved ceiling of one vanished side), not a
    # divide-by-zero crash. Alerting should key on n_cur = 0 or
    # tvd_ppm >= ~499_999, NOT on a ~1e6 reading TVD never reaches
    # for a one-sided wipe.
    return (
        joined.crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            "ref_n",
            "cur_n",
            F.expr("(ref_n * 1000000) div greatest(ref_total, 1)").alias(
                "ref_ppm"
            ),
            F.expr("(cur_n * 1000000) div greatest(cur_total, 1)").alias(
                "cur_ppm"
            ),
            (
                F.expr("(cur_n * 1000000) div greatest(cur_total, 1)")
                - F.expr("(ref_n * 1000000) div greatest(ref_total, 1)")
            ).alias("delta_ppm"),
        )
    )


def drift_summary(
    ref: DataFrame,
    cur: DataFrame,
    value_col: str,
    n_buckets: int = 20,
    alert_ppm: int = 50_000,
) -> DataFrame:
    """One-row drift verdict over `drift_report`'s buckets: total-
    variation distance and L-infinity of the share deltas (integer
    ppm — exact, unlike PSI's logs), the count of buckets past
    `alert_ppm`, and both snapshot sizes. TVD in [0, 1e6]: the
    fraction of mass that moved."""
    rep = drift_report(ref, cur, value_col, n_buckets)
    return rep.agg(
        (F.sum(F.abs(F.col("delta_ppm"))) / 2).cast("long").alias("tvd_ppm"),
        F.max(F.abs(F.col("delta_ppm"))).alias("linf_ppm"),
        F.sum(
            (F.abs(F.col("delta_ppm")) > alert_ppm).cast("long")
        ).alias("n_drifted_buckets"),
        F.sum("ref_n").alias("n_ref"),
        F.sum("cur_n").alias("n_cur"),
    )


def drift_ref_write(
    ref: DataFrame, path: str, value_col: str, n_buckets: int = 20
) -> None:
    """Publish the reference side of a drift watch: the bucket
    histogram of the reference snapshot plus its anchoring bounds
    (lo/hi carried on every row — K-row table, the IVF-health shape),
    pointer-flip published so a checker never sees a torn reference.
    Re-run to re-baseline after an accepted distribution change."""
    from reader_spark.operators import atomic_dir

    stats = ref.agg(
        F.min(value_col).cast("double").alias("lo"),
        F.max(value_col).cast("double").alias("hi"),
    )
    width = (F.col("hi") - F.col("lo")) / float(n_buckets)
    # Clamp in BIGINT before the int cast (see drift_report): an
    # out-of-range value saturates floor() to Long.MaxValue, which
    # must hit least() before any narrowing.
    b = F.when(F.col("hi") == F.col("lo"), F.lit(0)).otherwise(
        F.least(
            F.lit(n_buckets - 1).cast("long"),
            F.greatest(
                F.lit(0).cast("long"),
                F.floor(
                    (F.col(value_col).cast("double") - F.col("lo")) / width
                ),
            ),
        ).cast("int")
    )
    # nb is carried explicitly: deriving it from the stored row count
    # would mis-size the bucket width whenever reference buckets are
    # EMPTY (absent rows), silently misaligning every later check
    hist = (
        ref.crossJoin(F.broadcast(stats))
        .select(b.alias("bucket"), "lo", "hi")
        .groupBy("bucket", "lo", "hi")
        .agg(F.count(F.lit(1)).alias("ref_n"))
        .withColumn("nb", F.lit(n_buckets))
    )

    def write_fn(vdir: str) -> None:
        hist.coalesce(1).write.mode("overwrite").parquet(vdir)

    atomic_dir.publish(path, write_fn)


def drift_check(
    spark, path: str, cur: DataFrame, value_col: str, alert_ppm: int = 50_000
) -> DataFrame:
    """One-row drift verdict of `cur` against the PUBLISHED reference
    histogram (drift_ref_write): the stored bounds bucket the current
    rows identically, shares compare in exact integer ppm (TVD /
    L-inf / drifted-bucket count — drift_summary's metrics). Reads a
    K-row reference + one map-only pass over the batch; the reference
    snapshot itself is never re-scanned — that is the point of
    materializing it."""
    from reader_spark.operators import atomic_dir

    ref = spark.read.parquet(atomic_dir.resolve(path))
    bounds = ref.select("lo", "hi").limit(1)
    width_expr = "(hi - lo) / nb"
    cb = (
        cur.crossJoin(F.broadcast(bounds))
        .crossJoin(
            F.broadcast(
                ref.agg(
                    F.max("nb").alias("nb"),
                    (F.max("nb") - 1).alias("top"),
                )
            )
        )
        .select(
            F.when(F.col("hi") == F.col("lo"), F.lit(0))
            .otherwise(
                # clamp in BIGINT, then narrow (see drift_report)
                F.least(
                    F.col("top").cast("long"),
                    F.greatest(
                        F.lit(0).cast("long"),
                        F.floor(
                            (F.col(value_col).cast("double") - F.col("lo"))
                            / F.expr(width_expr)
                        ),
                    ),
                ).cast("int")
            )
            .alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cur_n"))
    )
    joined = (
        ref.select("bucket", "ref_n")
        .join(cb, "bucket", "full")
        .fillna(0, subset=["ref_n", "cur_n"])
    )
    totals = joined.agg(
        F.sum("ref_n").alias("ref_total"), F.sum("cur_n").alias("cur_total")
    )
    per = joined.crossJoin(F.broadcast(totals)).select(
        (
            F.expr("(cur_n * 1000000) div greatest(cur_total, 1)")
            - F.expr("(ref_n * 1000000) div greatest(ref_total, 1)")
        ).alias("delta_ppm"),
        "ref_n",
        "cur_n",
    )
    return per.agg(
        (F.sum(F.abs(F.col("delta_ppm"))) / 2).cast("long").alias("tvd_ppm"),
        F.max(F.abs(F.col("delta_ppm"))).alias("linf_ppm"),
        F.sum(
            (F.abs(F.col("delta_ppm")) > alert_ppm).cast("long")
        ).alias("n_drifted_buckets"),
        F.sum("cur_n").alias("n_cur"),
    )


def drift_watch(
    ref_path: str,
    log_path: str,
    value_col: str,
    alert_ppm: int = 50_000,
):
    """`foreachBatch` body logging each micro-batch's drift verdict
    against the published reference — the streaming member of the
    drift family (maintainer-family shape). The log is partitioned by
    batch id and written with dynamic partition overwrite, so a
    crash-replayed batch REPLACES its own row instead of duplicating
    it (exactly-once without a dedup read).

        stream.writeStream.foreachBatch(
            drift_watch(ref, log, "value")).start()
    """

    def body(batch_df: DataFrame, batch_id: int) -> None:
        # An EMPTY micro-batch is a verdict, not a skip: the wave
        # produced nothing (n_cur=0, tvd_ppm ~= 5e5 — all reference
        # mass unmatched), and a crash-replayed batch that is now
        # empty must still REPLACE its stale row to keep the
        # per-batch-id exactly-once contract.
        spark = batch_df.sparkSession
        SIM.log_batch_verdict(
            drift_check(spark, ref_path, batch_df, value_col, alert_ppm),
            batch_id,
            log_path,
        )

    return body


def split_by_component(
    docs: DataFrame,
    components: DataFrame,
    fractions: tuple[float, float] = (0.9, 0.95),
    id_col: str = "doc_id",
    comp_col: str = "component_id",
) -> DataFrame:
    """Leakage-free train/val/test assignment: the md5-uniform draw
    is taken on the near-dup COMPONENT id, so every member of a
    near-dup family lands in the same split — the guard
    `split_leakage` measures, enforced by construction instead of
    audited after the fact (a doc-id draw strands near-identical
    twins across the train/test boundary, the classic benchmark
    leak). `components` is (id, component) — neardup_canonical's
    output, or any cluster map; docs absent from it are singletons
    (component = own id), so the assignment is total.

    Map-only after one equi-join against the component map (at 100 TB
    the map is 2 longs/doc — sort-merge on uniform ids; with the
    materialized cc/ artifact it is already laid out and never
    derived at split time). A component's split never changes as the
    corpus grows, and ADDING a member to a family cannot move it
    across splits — the component minimum is stable under growth
    only if ids grow upward, which the index's monotone doc-id
    contract provides."""
    comp = components.select(
        F.col(id_col), F.col(comp_col).alias("__comp")
    )
    joined = docs.select(id_col).join(comp, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("__comp"), F.col(id_col)).alias("__comp"),
    )
    u = _hash_unit(F.col("__comp"), "split")
    return joined.select(
        id_col,
        F.col("__comp").alias(comp_col),
        F.when(u < fractions[0], F.lit("train"))
        .when(u < fractions[1], F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


def drift_report_grouped(
    ref: DataFrame,
    cur: DataFrame,
    value_col: str,
    group_col: str,
    n_buckets: int = 20,
    alert_ppm: int = 50_000,
) -> DataFrame:
    """Per-group drift verdicts in one pass: the drift family's
    monitoring shape for multi-source corpora — each group (source /
    lang / shard family) gets its own bucket anchoring (that group's
    reference min/max) and its own exact-ppm TVD / L-infinity /
    drifted-bucket row, so a drifting MINORITY source alarms even
    when the corpus-level mixture hides it.

    Scale: the per-group stats table is group-cardinality-sized and
    broadcast back; both snapshots take one map-only bucket pass and
    one bounded aggregate — grouping adds no extra shuffle class over
    `drift_report`. Groups absent from the reference are skipped by
    the inner join (a NEW source has no baseline — baseline it first;
    that appearance is `schema_drift`/census territory, not a bucket
    delta)."""
    from reader_spark.cache import pin

    stats = pin(
        ref.groupBy(group_col).agg(
            F.min(value_col).cast("double").alias("lo"),
            F.max(value_col).cast("double").alias("hi"),
        )
    )
    width = (F.col("hi") - F.col("lo")) / float(n_buckets)

    def bucketed(df: DataFrame, out: str) -> DataFrame:
        # clamp in BIGINT, then narrow (see drift_report)
        b = F.when(F.col("hi") == F.col("lo"), F.lit(0)).otherwise(
            F.least(
                F.lit(n_buckets - 1).cast("long"),
                F.greatest(
                    F.lit(0).cast("long"),
                    F.floor(
                        (F.col(value_col).cast("double") - F.col("lo")) / width
                    ),
                ),
            ).cast("int")
        )
        return (
            df.join(F.broadcast(stats), group_col)
            .select(group_col, b.alias("bucket"))
            .groupBy(group_col, "bucket")
            .agg(F.count(F.lit(1)).alias(out))
        )

    joined = (
        bucketed(ref, "ref_n")
        .join(bucketed(cur, "cur_n"), [group_col, "bucket"], "full")
        .fillna(0, subset=["ref_n", "cur_n"])
    )
    totals = joined.groupBy(group_col).agg(
        F.sum("ref_n").alias("ref_total"), F.sum("cur_n").alias("cur_total")
    )
    per = joined.join(F.broadcast(totals), group_col).select(
        group_col,
        "ref_n",
        "cur_n",
        (
            F.expr("(cur_n * 1000000) div greatest(cur_total, 1)")
            - F.expr("(ref_n * 1000000) div greatest(ref_total, 1)")
        ).alias("delta_ppm"),
    )
    return per.groupBy(group_col).agg(
        F.expr("sum(abs(delta_ppm)) div 2").alias("tvd_ppm"),
        F.max(F.abs(F.col("delta_ppm"))).alias("linf_ppm"),
        F.sum(
            (F.abs(F.col("delta_ppm")) > alert_ppm).cast("long")
        ).alias("n_drifted_buckets"),
        F.sum("ref_n").alias("n_ref"),
        F.sum("cur_n").alias("n_cur"),
    )


# ---------------------------------------------------------------------------
# Categorical drift: the drift a multi-source text corpus shows FIRST
# is a mix shift over a discrete column (source / language / format
# shares), not a numeric histogram move. Same exact-integer-ppm
# TVD / L-infinity verdicts as the numeric family, over a bounded
# partition of the category space: the reference's top-K categories
# by count plus one OTHER bucket, so published state and per-batch
# compares stay K+1 rows no matter how many distinct categories the
# corpus grows. The reference has no counterpart (its monitoring is
# a Kafka lag gauge, lib/kafkalib/writer.go:131) — this extends the
# r8 drift family to the categorical case.

#: OTHER bucket sentinel — dunder-framed so a real category value is
#: vanishingly unlikely to collide (a collision merely folds that
#: category's counts into the tail bucket, never crashes).
_CAT_OTHER = "__other__"


def _cat_expr(cat_col: str):
    """Normalized category: stringified, NULL as a visible bucket
    ('(null)' — a missing label is itself a share worth watching)."""
    return F.coalesce(F.col(cat_col).cast("string"), F.lit("(null)"))


def drift_report_categorical(
    ref: DataFrame,
    cur: DataFrame,
    cat_col: str,
    top_k: int = 50,
) -> DataFrame:
    """Per-category share drift between two snapshots of a discrete
    column. Categories are the REFERENCE's top-`top_k` by count
    (ties broken by category value — a deterministic total order, so
    Spark and the DuckDB oracle select the same set); everything
    else on either side folds into `__other__`. Per row: counts and
    exact integer-ppm shares for both snapshots plus the share
    delta; both totals count ALL rows, so the K+1 buckets partition
    the mass and TVD over them is exact for the coarsened view.

    Scale: one category-cardinality aggregate per side (map-side
    combined), the top-K selection is a distributed TakeOrdered (no
    global sort shuffle), and the fold joins against a broadcast
    K-row frame — the two snapshots are never joined row-to-row and
    nothing driver-side ever exceeds K+1 rows."""
    from reader_spark.cache import pin

    ref_counts = pin(
        ref.groupBy(_cat_expr(cat_col).alias("category")).agg(
            F.count(F.lit(1)).alias("n")
        )
    )
    top = ref_counts.orderBy(F.desc("n"), F.asc("category")).limit(
        top_k
    ).select("category", F.lit(True).alias("__top"))

    # ref side folds the ALREADY-AGGREGATED counts (no second corpus
    # scan); cur side folds raw rows first so the groupBy output is
    # bounded at K+1 whatever the batch's category cardinality
    r = (
        ref_counts.join(F.broadcast(top), "category", "left")
        .select(
            F.when(F.col("__top"), F.col("category"))
            .otherwise(F.lit(_CAT_OTHER))
            .alias("category"),
            "n",
        )
        .groupBy("category")
        .agg(F.sum("n").alias("ref_n"))
    )
    c = (
        cur.select(_cat_expr(cat_col).alias("category"))
        .join(F.broadcast(top), "category", "left")
        .select(
            F.when(F.col("__top"), F.col("category"))
            .otherwise(F.lit(_CAT_OTHER))
            .alias("category")
        )
        .groupBy("category")
        .agg(F.count(F.lit(1)).alias("cur_n"))
    )
    joined = r.join(c, "category", "full").fillna(
        0, subset=["ref_n", "cur_n"]
    )
    totals = joined.agg(
        F.sum("ref_n").alias("ref_total"), F.sum("cur_n").alias("cur_total")
    )
    return (
        joined.crossJoin(F.broadcast(totals))
        .select(
            "category",
            "ref_n",
            "cur_n",
            F.expr("(ref_n * 1000000) div greatest(ref_total, 1)").alias(
                "ref_ppm"
            ),
            F.expr("(cur_n * 1000000) div greatest(cur_total, 1)").alias(
                "cur_ppm"
            ),
            (
                F.expr("(cur_n * 1000000) div greatest(cur_total, 1)")
                - F.expr("(ref_n * 1000000) div greatest(ref_total, 1)")
            ).alias("delta_ppm"),
        )
    )


def drift_summary_categorical(
    ref: DataFrame,
    cur: DataFrame,
    cat_col: str,
    top_k: int = 50,
    alert_ppm: int = 50_000,
) -> DataFrame:
    """One-row verdict over `drift_report_categorical`: exact-ppm
    TVD / L-infinity of the share deltas, categories past
    `alert_ppm`, and both snapshot sizes. An empty current wave
    reads tvd_ppm = sum(ref_ppm) div 2 ~= 5e5 with n_cur = 0 (see
    drift_report's empty-wave note)."""
    rep = drift_report_categorical(ref, cur, cat_col, top_k)
    return rep.agg(
        F.expr("sum(abs(delta_ppm)) div 2").alias("tvd_ppm"),
        F.max(F.abs(F.col("delta_ppm"))).alias("linf_ppm"),
        F.sum(
            (F.abs(F.col("delta_ppm")) > alert_ppm).cast("long")
        ).alias("n_drifted_categories"),
        F.sum("ref_n").alias("n_ref"),
        F.sum("cur_n").alias("n_cur"),
    )


def drift_ref_write_categorical(
    ref: DataFrame, path: str, cat_col: str, top_k: int = 50
) -> None:
    """Publish the categorical reference: the folded top-K + OTHER
    histogram (K+1 rows — category, ref_n), pointer-flip published
    so a checker never sees a torn baseline. The published category
    set IS the fold rule at check time; re-run to re-baseline after
    an accepted mix change."""
    from reader_spark.cache import pin
    from reader_spark.operators import atomic_dir

    ref_counts = pin(
        ref.groupBy(_cat_expr(cat_col).alias("category")).agg(
            F.count(F.lit(1)).alias("n")
        )
    )
    top = ref_counts.orderBy(F.desc("n"), F.asc("category")).limit(
        top_k
    ).select("category", F.lit(True).alias("__top"))
    hist = (
        ref_counts.join(F.broadcast(top), "category", "left")
        .select(
            F.when(F.col("__top"), F.col("category"))
            .otherwise(F.lit(_CAT_OTHER))
            .alias("category"),
            "n",
        )
        .groupBy("category")
        .agg(F.sum("n").alias("ref_n"))
    )

    def write_fn(vdir: str) -> None:
        hist.coalesce(1).write.mode("overwrite").parquet(vdir)

    atomic_dir.publish(path, write_fn)


def drift_check_categorical(
    spark,
    path: str,
    cur: DataFrame,
    cat_col: str,
    alert_ppm: int = 50_000,
) -> DataFrame:
    """One-row categorical drift verdict of `cur` against the
    PUBLISHED reference histogram (drift_ref_write_categorical).
    Current categories outside the published set fold into OTHER —
    a brand-new source showing up reads as OTHER share growth, which
    is exactly the alarm. Reads a K+1-row reference + one map-only
    pass over the batch."""
    from reader_spark.operators import atomic_dir

    ref = spark.read.parquet(atomic_dir.resolve(path))
    keep = ref.select("category").where(
        F.col("category") != _CAT_OTHER
    ).withColumn("__top", F.lit(True))
    cb = (
        cur.select(_cat_expr(cat_col).alias("category"))
        .join(F.broadcast(keep), "category", "left")
        .select(
            F.when(F.col("__top"), F.col("category"))
            .otherwise(F.lit(_CAT_OTHER))
            .alias("category")
        )
        .groupBy("category")
        .agg(F.count(F.lit(1)).alias("cur_n"))
    )
    joined = (
        ref.select("category", "ref_n")
        .join(cb, "category", "full")
        .fillna(0, subset=["ref_n", "cur_n"])
    )
    totals = joined.agg(
        F.sum("ref_n").alias("ref_total"), F.sum("cur_n").alias("cur_total")
    )
    per = joined.crossJoin(F.broadcast(totals)).select(
        (
            F.expr("(cur_n * 1000000) div greatest(cur_total, 1)")
            - F.expr("(ref_n * 1000000) div greatest(ref_total, 1)")
        ).alias("delta_ppm"),
        "ref_n",
        "cur_n",
    )
    return per.agg(
        F.expr("sum(abs(delta_ppm)) div 2").alias("tvd_ppm"),
        F.max(F.abs(F.col("delta_ppm"))).alias("linf_ppm"),
        F.sum(
            (F.abs(F.col("delta_ppm")) > alert_ppm).cast("long")
        ).alias("n_drifted_categories"),
        F.sum("cur_n").alias("n_cur"),
    )


def drift_watch_categorical(
    ref_path: str,
    log_path: str,
    cat_col: str,
    alert_ppm: int = 50_000,
):
    """`foreachBatch` body logging each micro-batch's categorical
    drift verdict against the published reference — the streaming
    member (maintainer-family shape, dynamic partition overwrite by
    batch id: a crash-replayed batch REPLACES its row). An empty
    batch logs a verdict (n_cur=0 — the wave producing nothing IS
    the signal) rather than skipping."""

    def body(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        SIM.log_batch_verdict(
            drift_check_categorical(
                spark, ref_path, batch_df, cat_col, alert_ppm
            ),
            batch_id,
            log_path,
        )

    return body


def drift_report_categorical_grouped(
    ref: DataFrame,
    cur: DataFrame,
    cat_col: str,
    group_col: str,
    top_k: int = 50,
    alert_ppm: int = 50_000,
) -> DataFrame:
    """Per-group categorical drift verdicts in one pass: each group
    (language / shard family / format) gets its own top-K anchoring
    from ITS reference slice and its own exact-ppm TVD / L-inf /
    drifted-category row — a minority group's mix shift alarms even
    when the corpus-level mixture hides it. Groups absent from the
    reference are skipped by the inner join (a new group has no
    baseline — baseline it first).

    Scale: per-side one (group, category)-cardinality aggregate;
    top-K selection is a group-partitioned window over that
    AGGREGATED frame (never over raw rows); the fold joins on the
    broadcast per-group top table (groups x K rows)."""
    from pyspark.sql import Window

    from reader_spark.cache import pin

    ref_counts = pin(
        ref.groupBy(
            F.col(group_col), _cat_expr(cat_col).alias("category")
        ).agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy(group_col).orderBy(
        F.desc("n"), F.asc("category")
    )
    top = (
        ref_counts.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= top_k)
        .select(group_col, "category", F.lit(True).alias("__top"))
    )
    r = (
        ref_counts.join(F.broadcast(top), [group_col, "category"], "left")
        .select(
            group_col,
            F.when(F.col("__top"), F.col("category"))
            .otherwise(F.lit(_CAT_OTHER))
            .alias("category"),
            "n",
        )
        .groupBy(group_col, "category")
        .agg(F.sum("n").alias("ref_n"))
    )
    # groups with no baseline are skipped (numeric grouped contract):
    # the semi join keeps only reference groups before the fold
    ref_groups = ref_counts.select(group_col).distinct()
    c = (
        cur.select(F.col(group_col), _cat_expr(cat_col).alias("category"))
        .join(F.broadcast(ref_groups), group_col, "semi")
        .join(F.broadcast(top), [group_col, "category"], "left")
        .select(
            group_col,
            F.when(F.col("__top"), F.col("category"))
            .otherwise(F.lit(_CAT_OTHER))
            .alias("category"),
        )
        .groupBy(group_col, "category")
        .agg(F.count(F.lit(1)).alias("cur_n"))
    )
    joined = r.join(c, [group_col, "category"], "full").fillna(
        0, subset=["ref_n", "cur_n"]
    )
    totals = joined.groupBy(group_col).agg(
        F.sum("ref_n").alias("ref_total"), F.sum("cur_n").alias("cur_total")
    )
    per = joined.join(F.broadcast(totals), group_col).select(
        group_col,
        "ref_n",
        "cur_n",
        (
            F.expr("(cur_n * 1000000) div greatest(cur_total, 1)")
            - F.expr("(ref_n * 1000000) div greatest(ref_total, 1)")
        ).alias("delta_ppm"),
    )
    return per.groupBy(group_col).agg(
        F.expr("sum(abs(delta_ppm)) div 2").alias("tvd_ppm"),
        F.max(F.abs(F.col("delta_ppm"))).alias("linf_ppm"),
        F.sum(
            (F.abs(F.col("delta_ppm")) > alert_ppm).cast("long")
        ).alias("n_drifted_categories"),
        F.sum("ref_n").alias("n_ref"),
        F.sum("cur_n").alias("n_cur"),
    )


def drift_report_quantiles(
    ref: DataFrame,
    cur: DataFrame,
    value_col: str,
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Quantile drift between two snapshot waves: per requested
    quantile, the exact interpolated percentile of each wave and the
    absolute shift — the drift signal histogram buckets blur (a p99
    creeping up inside one wide bucket moves no bucket mass) and the
    one tail-latency/size regressions show first. One exact
    `percentile` aggregate per wave (no window, no row-to-row join);
    at the 100 TB tier swap the exact aggregate for
    `percentile_approx` or read the maintained bottom-k tiles
    (sketches.py::quantiles_from_tiles) — the report shape is
    identical. Values are actual interpolated data points, rounded 6
    (the engine-parity convention shared with the `percentiles`
    query)."""
    arr = f"array({', '.join(str(q) for q in qs)})"
    r = ref.agg(F.expr(f"percentile({value_col}, {arr})").alias("rv"))
    c = cur.agg(F.expr(f"percentile({value_col}, {arr})").alias("cv"))
    q_lit = F.array(*[F.lit(float(q)) for q in qs])
    return (
        r.crossJoin(F.broadcast(c))
        .select(
            F.posexplode(F.arrays_zip("rv", "cv")).alias("idx", "z")
        )
        .select(
            F.element_at(q_lit, F.col("idx") + 1).alias("q"),
            F.round(F.col("z.rv"), 6).alias("ref_v"),
            F.round(F.col("z.cv"), 6).alias("cur_v"),
            F.round(F.abs(F.col("z.rv") - F.col("z.cv")), 6).alias("delta"),
        )
        .orderBy("q")
    )
