"""Deduplication operators for large-scale document corpora.

Beyond-reference surface (BASELINE.json north star): exact dedup,
MinHash+LSH near-dup, SimHash, n-gram Jaccard verification.

Scale design (100 TB):
  * Exact dedup: hash-groupBy on a 128-bit content hash — one shuffle,
    partial aggregation map-side, no skew (hashes are uniform).
  * MinHash: signatures are computed WITHOUT a shuffle — pure column
    expressions (`transform`/`array_min` over the token array), one
    pass over the corpus, whole-stage codegen.
  * LSH banding: the only shuffle is the self-join on (band_id,
    band_key) — uniform hash keys, broadcast nothing, candidates only
    (never the O(n^2) cross product).
  * Jaccard verify: equi-join of the candidate pair list back to the
    token arrays; intersection/union are array expressions.

All hashes derive from md5 (first 60 bits) so results are engine-
reproducible (the DuckDB oracle computes the identical signature).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from reader_spark.cache import pin
from reader_spark.functions.localrel import local_df

HASH_HEX_LEN = 15  # 60 bits < 2^63: sign-safe in both engines

# Universal-hash family for MinHash seeds: h_i = (A_i*h + B_i) mod P.
# P < 2^31 keeps A_i*h < 2^63 (no overflow in either engine); one md5
# per token total instead of one per (token, seed).
MINHASH_P = 1_000_000_007


def minhash_mix_params(i: int) -> tuple[int, int]:
    a = (1_000_003 * (i + 1) + 12_345) % MINHASH_P
    b = (7_919 * (i + 1) + 631) % MINHASH_P
    return a, b


def md5_hash64(c: Column, salt: str) -> Column:
    """Deterministic 60-bit integer hash shared with the DuckDB
    oracle: int(md5(salt || ':' || token)[:15], 16)."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(salt + ":"), c)), 1, HASH_HEX_LEN), 16, 10
    ).cast("long")


def md5_base_mod(c: Column) -> Column:
    """Base token hash for MinHash: md5-derived 60-bit int mod P."""
    return (
        F.conv(F.substring(F.md5(c), 1, HASH_HEX_LEN), 16, 10).cast("long")
        % MINHASH_P
    )


def word_set(text: Column) -> Column:
    """Distinct whitespace tokens, order-normalized (sorted) so set
    semantics are engine-independent."""
    return F.array_sort(F.array_distinct(F.split(text, " ")))


def shingles_from(ws: Column, n: int = 2) -> Column:
    """Distinct word n-gram shingles over a PRE-SPLIT token array.

    Stage the split into its own select (`df.select(...,
    F.split(text, " ").alias("ws"))`) and pass `F.col("ws")` here:
    referencing an attribute keeps ONE split in the plan, while
    handing this a raw `split(text)` expression duplicates the split
    at every token access inside the lambda (expression-tree
    construction duplicates; lambda bodies get no CSE — the plan
    shows split() 5x vs 1x, measured 27% slower on the explode
    pass)."""
    grams = F.transform(
        F.sequence(F.lit(0), F.size(ws) - n),
        # unary lambda (a 2-arg lambda becomes (element, index));
        # `ws` is captured from the enclosing row.
        lambda i: F.concat_ws(" ", *[F.get(ws, i + j) for j in range(n)]),
    )
    return F.when(F.size(ws) >= n, F.array_sort(F.array_distinct(grams))).otherwise(
        F.array().cast("array<string>")
    )


def shingle_set(text: Column, n: int = 2) -> Column:
    """Distinct word n-gram shingles, order-normalized. Shingling
    preserves local word order that the bag-of-words `word_set`
    loses, so n-gram Jaccard discriminates reordered text. (For
    explode-heavy pipelines prefer a staged split + `shingles_from` —
    see its docstring.)"""
    return shingles_from(F.split(text, " "), n)


# Build sides past this size fall back to a shuffle join (sort-merge,
# AQE may still pick broadcast from ACTUAL runtime sizes — which is the
# safe direction: AQE respects autoBroadcastJoinThreshold, a forced
# hint does not). 512 MB ~= 5M docs of 8x8B signatures: comfortably
# inside a big executor/driver, far below the 10^8-doc corpus tier
# where a forced broadcast is a driver OOM.
BROADCAST_BYTE_CAP = 512 << 20


def maybe_broadcast(df: DataFrame, cap_bytes: int | None = None) -> DataFrame:
    """Broadcast hint gated on Catalyst's plan-stats size estimate.

    The dedup/similarity build sides (signature, token-hash, simhash
    tables) are corpus-sized: tiny per row but linear in documents. At
    test scale the 10 MB auto-broadcast threshold misses them (their
    estimates cross it early) so the hint is a measured 40x win; at
    the 10^8-doc tier the same hint would OOM the driver. Decide from
    the optimizer's sizeInBytes estimate — free (no job), available
    before execution — and past the cap return the frame unhinted so
    the pre-bucketed sort-merge path (plus AQE's runtime re-plan)
    takes over."""
    return F.broadcast(df) if should_broadcast(df, cap_bytes) else df


def should_broadcast(df: DataFrame, cap_bytes: int | None = None) -> bool:
    """The maybe_broadcast decision alone — use it when one shared
    frame feeds several join sides, so the optimizer's stats pass runs
    once instead of per side (it costs a driver-side optimization of
    the whole plan).

    HAZARD (r11 semdedup regression): the pre-execution estimate is a
    function of the PLAN, not the data — for the same frame it swings
    orders of magnitude with the plan shape (a `mapInPandas` kernel
    reports ~actual bytes while an interpreted-lambda fold inflates
    to absurd sizes), so rewriting an upstream operator can silently
    flip every downstream hint. For a frame that is already
    `pin()`ed (the shared-self-join pattern), use
    `should_broadcast_pinned` instead: it decides from the
    materialized cache's REAL byte size, whatever plan produced it."""
    cap = BROADCAST_BYTE_CAP if cap_bytes is None else cap_bytes
    try:
        est = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:  # pragma: no cover - estimate unavailable
        return False  # conservative: let AQE decide at runtime
    return est <= cap


def maybe_broadcast_pinned(
    df: DataFrame,
    pinned: DataFrame | None = None,
    cap_bytes: int | None = None,
) -> DataFrame:
    """`maybe_broadcast` for the pinned-self-join pattern — hint
    decided by `should_broadcast_pinned` (materialized cache size,
    independent of the producing plan). When the join side is a
    DERIVED frame (an alias or filter of the pin, whose plan the
    CacheManager may not match), pass the underlying persisted frame
    as `pinned`: the decision runs on the pin (a sound upper bound —
    derivations only ever shrink it) while the hint lands on the
    frame that joins."""
    gate = df if pinned is None else pinned
    return F.broadcast(df) if should_broadcast_pinned(gate, cap_bytes) else df


def should_broadcast_pinned(
    df: DataFrame, cap_bytes: int | None = None
) -> bool:
    """Broadcast decision for a PERSISTED frame, made from the
    materialized cache's real size instead of Catalyst's pre-execution
    estimate. `count()` forces materialization (a no-op if the cache
    is already built — and a pinned frame is about to be consumed
    multiple times anyway, so the work is never wasted), then a FRESH
    plan over the same frame resolves through the CacheManager to the
    InMemoryRelation, whose stats are the actual cached bytes. The
    memoized QueryExecution on `df` itself would still report the
    pre-execution estimate — hence the `select("*")`.

    This closes the r11 regression class: the Arrow kernel and the
    expression form of the nprobe=1 cluster assignment estimated
    1.4 MB vs 242 TB for the SAME data, so every estimate-gated hint
    downstream flipped with the plan shape; the materialized size
    depends only on the data.

    Guard: a frame that is NOT actually persisted would silently
    reproduce the hazard this function closes (count() runs a full
    job, caches nothing, and the fresh plan resolves to the same
    plan-dependent estimate) — so an unpinned input falls back to
    plain `should_broadcast` without paying the count."""
    cap = BROADCAST_BYTE_CAP if cap_bytes is None else cap_bytes
    try:
        if not (
            df.storageLevel.useMemory or df.storageLevel.useDisk
        ):  # pragma: no cover - misuse guard
            return should_broadcast(df, cap_bytes)
        df.count()
        est = int(
            df.select("*")
            ._jdf.queryExecution()
            .optimizedPlan()
            .stats()
            .sizeInBytes()
        )
    except Exception:  # pragma: no cover - estimate unavailable
        return False  # conservative: let AQE decide at runtime
    return est <= cap


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Spread a small input across the cluster before expensive
    per-row work (md5 passes, lambda folds — all interpreted, not
    codegen'd, so single-partition inputs serialize the whole pass
    onto one core). A one-file parquet table reads as ONE partition;
    the round-robin shuffle of the raw rows is far cheaper than the
    hash passes it parallelizes. At 100 TB the scan already has
    >= defaultParallelism splits and this is a no-op."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    try:
        n = df.rdd.getNumPartitions()
    except Exception:  # pragma: no cover - plan not convertible
        return df
    return df.repartition(target) if n < target else df


def token_hashes(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    out_col: str = "toks", tokenizer=None, spread: bool = True,
) -> DataFrame:
    """(id, sorted 60-bit token-hash array) — the shared input of
    MinHash signatures AND exact Jaccard verification. Compute once,
    persist, and both stages reuse it: one md5 pass over the corpus
    total instead of one per band branch / join side.

    tokenizer: Column -> array<string> set builder (default
    `word_set`; pass `shingle_set` for n-gram dedup).

    spread=False skips the `ensure_parallelism` fan-out — for the
    SAMPLED diagnostic paths (recall audits, tuning sweeps) whose
    input is a 64-row TakeOrdered sample: spreading 64 rows over
    defaultParallelism partitions makes every downstream narrow
    stage (signature kernel, banding, per-config aggregates — ~19
    stages in the 5-config sweep) a 32-task stage of 2-row tasks,
    and the whole query is per-task fixed overhead (profiled:
    ~245 s summed task time for a 64-doc sweep). One partition is
    the right layout for sample-bounded work."""
    tokenizer = tokenizer or word_set
    if not spread:
        return docs.select(
            F.col(id_col),
            F.array_sort(
                F.transform(tokenizer(F.col(text_col)), md5_base_mod)
            ).alias(out_col),
        )
    return ensure_parallelism(docs).select(
        F.col(id_col),
        F.array_sort(F.transform(tokenizer(F.col(text_col)), md5_base_mod)).alias(out_col),
    )


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup by content hash: keep the smallest id per hash.

    One shuffle on the md5 (uniform); at 100 TB this is the canonical
    map-side-combine groupBy."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def minhash_signature(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    hashes_col: str | None = None,
) -> DataFrame:
    """MinHash signature as `num_hashes` columns h0..h{k-1}, computed
    in ONE Arrow `mapInPandas` pass: per token the md5-base hash, then
    `num_hashes` affine mixes a_i*h+b_i mod P (all values < 2^60, so
    int64 never overflows) and a per-doc min. No shuffle and no
    fitted state (pyspark.ml's MinHashLSH needs a CountVectorizer
    vocabulary broadcast).

    The k x tokens arithmetic runs as vectorized numpy rather than k
    higher-order-lambda array expressions, which Catalyst interprets
    outside whole-stage codegen. The r11 probe measured the kernel
    ahead of that expression form at every token-length regime
    (SCALE.md r11: 5.1x at 23 tokens/doc, 4.5x at 2k, 3.8x at 10k);
    the expression form survives only as a bit-identity oracle in
    the tests.

    The md5 pass itself stays JVM-side (`token_hashes`): only the mix
    + segmented-min runs in Python, over long arrays, never strings.
    Batches are sub-chunked so the k x flat_tokens mix matrix stays
    ~256 MB regardless of input batch shape. Empty/NULL token arrays
    produce all-NULL signature rows (array_min-of-empty semantics,
    which the banding guard drops).

    hashes_col: name of a precomputed token-hash array column (see
    `token_hashes`) — skips the md5 pass entirely."""
    import numpy as np
    import pandas as pd

    if hashes_col is None:
        docs = token_hashes(docs, text_col, id_col)
        hashes_col = "toks"
        base = docs.select(F.col(id_col), F.col(hashes_col))
    else:
        # caller-owns-layout: a precomputed hashes_col frame was
        # already spread by token_hashes -- or deliberately kept single-partition by
        # the sampled diagnostics -- so re-spreading here would force
        # a pointless exchange of the token arrays (and undo the
        # 1-partition layout the 64-row audits rely on).
        base = docs.select(F.col(id_col), F.col(hashes_col))
    k = num_hashes
    mix = np.array(
        [minhash_mix_params(i) for i in range(k)], dtype=np.int64
    )
    a_vec = mix[:, 0][:, None]
    b_vec = mix[:, 1][:, None]
    id_field = base.schema.fields[0]
    from pyspark.sql import types as T

    schema = T.StructType(
        [id_field]
        + [T.StructField(f"h{i}", T.LongType(), True) for i in range(k)]
    )

    # cap the k x m mix matrix at ~32M int64 cells (256 MB)
    max_cells = 32 << 20

    def compute(iterator):
        for pdf in iterator:
            n = len(pdf)
            toks = [
                np.asarray(t, dtype=np.int64)
                if t is not None
                else np.empty(0, dtype=np.int64)
                for t in pdf[hashes_col]
            ]
            lens = np.fromiter(
                (t.size for t in toks), dtype=np.int64, count=n
            )
            out = np.empty((n, k), dtype=np.int64)
            nonempty = np.flatnonzero(lens)
            i = 0
            while i < nonempty.size:
                j = i
                cells = 0
                while j < nonempty.size:
                    nxt = cells + lens[nonempty[j]] * k
                    if j > i and nxt > max_cells:
                        break
                    cells = nxt
                    j += 1
                idx = nonempty[i:j]
                flat = np.concatenate([toks[d] for d in idx])
                mixed = (a_vec * flat[None, :] + b_vec) % MINHASH_P
                starts = np.zeros(idx.size, dtype=np.int64)
                np.cumsum(lens[idx][:-1], out=starts[1:])
                out[idx] = np.minimum.reduceat(mixed, starts, axis=1).T
                i = j
            cols = {id_field.name: pdf[id_field.name]}
            empty_mask = lens == 0
            any_empty = bool(empty_mask.any())
            for c in range(k):
                col = out[:, c]
                cols[f"h{c}"] = (
                    pd.array(np.where(empty_mask, None, col), dtype="Int64")
                    if any_empty
                    else col
                )
            yield pd.DataFrame(cols)

    return base.mapInPandas(compute, schema)


def oph_signature(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 128,
    hashes_col: str | None = None,
) -> DataFrame:
    """One-Permutation Hashing signature (Li/Owen/Zhang 2012, with
    Shrivastava & Li rotation densification): the O(tokens) scale
    alternative to the classic k-permutation MinHash — ONE pass over
    the token hashes instead of k mixes per token. The hash range is
    split into k residue buckets (h mod k); each bucket keeps its
    minimum; an EMPTY bucket borrows the nearest filled bucket to the
    right (circular), offset by distance*P so borrowed values never
    collide with genuine ones. Collision probability per coordinate
    approximates Jaccard (densification bias O(1/tokens)), so the
    banding S-curve and the whole downstream pipeline are unchanged
    (`lsh_recall_audit_oph` measures what the approximation costs in
    recall).

    ONE Arrow `mapInPandas` pass: bucket minima come from a sort +
    segmented min over the batch's flat token-hash array, and the
    densification is a k-column backward scan vectorized across the
    batch's docs (pure int64). Same schema and NULL semantics as
    `minhash_signature` (h0..h{k-1} longs; all-NULL for empty docs);
    checked against a Python reference model and the `_oph_cte`
    DuckDB oracle."""
    import numpy as np
    import pandas as pd

    if hashes_col is None:
        docs = token_hashes(docs, text_col, id_col)
        hashes_col = "toks"
        base = docs.select(F.col(id_col), F.col(hashes_col))
    else:
        # caller-owns-layout: a precomputed hashes_col frame was
        # already spread by token_hashes -- or deliberately kept single-partition by
        # the sampled diagnostics -- so re-spreading here would force
        # a pointless exchange of the token arrays (and undo the
        # 1-partition layout the 64-row audits rely on).
        base = docs.select(F.col(id_col), F.col(hashes_col))
    k = num_hashes
    id_field = base.schema.fields[0]
    from pyspark.sql import types as T

    schema = T.StructType(
        [id_field]
        + [T.StructField(f"h{i}", T.LongType(), True) for i in range(k)]
    )
    SENT = np.iinfo(np.int64).max

    def compute(iterator):
        for pdf in iterator:
            n = len(pdf)
            toks = [
                np.asarray(t, dtype=np.int64)
                if t is not None
                else np.empty(0, dtype=np.int64)
                for t in pdf[hashes_col]
            ]
            lens = np.fromiter(
                (t.size for t in toks), dtype=np.int64, count=n
            )
            # bucket minima: min hash per (doc, residue) via one sort
            # + reduceat over the batch-flat array
            mins = np.full((n, k), SENT, dtype=np.int64)
            if lens.sum():
                flat = np.concatenate([t for t in toks if t.size])
                doc_ix = np.repeat(
                    np.flatnonzero(lens), lens[lens > 0]
                )
                key = doc_ix * k + flat % k
                order = np.argsort(key, kind="stable")
                sk = key[order]
                sv = flat[order]
                starts = np.flatnonzero(
                    np.concatenate(([True], sk[1:] != sk[:-1]))
                )
                mins.ravel()[sk[starts]] = np.minimum.reduceat(sv, starts)
            filled = mins != SENT
            # rotation densification: bucket i borrows the nearest
            # filled bucket to the RIGHT (circular), offset delta*P.
            # Backward scan over 2k doubled columns — 2k cheap
            # vector ops across the whole batch, no per-doc loop.
            nxt = np.full((n, 2 * k), 2 * k, dtype=np.int64)
            filled2 = np.concatenate([filled, filled], axis=1)
            for j in range(2 * k - 1, -1, -1):
                col = nxt[:, j + 1] if j + 1 < 2 * k else None
                if col is None:
                    nxt[:, j] = np.where(filled2[:, j], j, 2 * k)
                else:
                    nxt[:, j] = np.where(filled2[:, j], j, col)
            delta = nxt[:, :k] - np.arange(k)[None, :]
            has_any = filled.any(axis=1)
            # clamp unfilled rows so the gather below stays in-bounds
            delta_c = np.where(has_any[:, None], delta, 0)
            src = (np.arange(k)[None, :] + delta_c) % k
            rows = np.arange(n)[:, None]
            out = mins[rows, src] + delta_c * MINHASH_P
            cols = {id_field.name: pdf[id_field.name]}
            any_empty = not bool(has_any.all())
            for c in range(k):
                col = out[:, c]
                cols[f"h{c}"] = (
                    pd.array(
                        np.where(has_any, col, None), dtype="Int64"
                    )
                    if any_empty
                    else col
                )
            yield pd.DataFrame(cols)

    return base.mapInPandas(compute, schema)


def lsh_candidate_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 8,
    band_size: int = 2,
    broadcast_cap: int | None = None,
) -> DataFrame:
    """Per-band self-joins on the signature slice; docs sharing ALL
    hashes within any band become a candidate pair (doc_a < doc_b).

    First-match-only banding: band b emits a pair only if every
    EARLIER band mismatched (cheap long comparisons in the join
    filter), so the per-band pair sets are disjoint and the usual
    `.distinct()` — a shuffle of the entire raw-match stream, the
    single most expensive exchange of the pipeline — disappears.
    Each band join is a broadcast hash join keyed on the band's hash
    columns (uniform, skew-free); the probe side keeps its upstream
    doc-id-spread partitioning so a hot bucket's O(k^2) pair block is
    still sliced across tasks. The hint is size-gated
    (`maybe_broadcast`): past the cap the join falls back to
    sort-merge and AQE skew-splits it — first-match-only still avoids
    the distinct.

    WIDE signatures (n_bands > 4 — the recall-tuned k=128/r=8/b=16
    default, see `lsh_recall_report`): the per-band-join shape stops
    paying — b separate joins each rebuild a hash table of the
    (1 + k)-column signature frame, and the prior-band mismatch
    filter grows O(b*r) comparisons per band. Dispatches instead to
    ONE equi-join over melted (band_id, band_key) rows (md5 band
    keys — the oracle's own cand CTE) + a distinct on the matched
    pair stream: the shuffle carries b small rows per doc keyed on a
    uniform 128-bit key, and the distinct's input is bounded by
    (true near-dups x matched bands), not the corpus. Both shapes
    emit the identical pair SET."""
    assert num_hashes % band_size == 0
    n_bands = num_hashes // band_size
    if n_bands > 4:
        bands = md5_band_rows(sigs, num_hashes, band_size, id_col)
        a2 = bands.alias("a")
        # broadcast-gate audit (r12): bands derives from the
        # minhash_signature kernel, whose estimate is ~real bytes; the
        # probe side is ensure_parallelism'd at token_hashes, so
        # either hint decision executes parallel, and the byte cap
        # bounds driver memory.
        b2 = maybe_broadcast(bands.alias("b"), broadcast_cap)
        return (
            a2.join(
                b2,
                (F.col("a.band_id") == F.col("b.band_id"))
                & (F.col("a.band_key") == F.col("b.band_key"))
                & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
            )
            .select(
                F.col(f"a.{id_col}").alias("doc_a"),
                F.col(f"b.{id_col}").alias("doc_b"),
            )
            .distinct()
        )
    a = sigs.alias("a")
    # broadcast-gate audit (r12): same note as the banded branch —
    # kernel-fed estimate, parallel probe side, capped build side.
    b = maybe_broadcast(sigs.alias("b"), broadcast_cap)
    out = None
    for band in range(n_bands):
        cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
        for j in range(band * band_size, (band + 1) * band_size):
            cond = cond & (F.col(f"a.h{j}") == F.col(f"b.h{j}"))
        for prior in range(band):
            mism = None
            for j in range(prior * band_size, (prior + 1) * band_size):
                m = F.col(f"a.h{j}") != F.col(f"b.h{j}")
                mism = m if mism is None else (mism | m)
            cond = cond & mism
        pairs = a.join(b, cond).select(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        out = pairs if out is None else out.unionByName(pairs)
    return out


def jaccard_verify(
    pairs: DataFrame,
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    hashed: bool = True,
    toks: DataFrame | None = None,
    toks_col: str = "toks",
    broadcast_cap: int | None = None,
) -> DataFrame:
    """Exact token-set Jaccard on candidate pairs.

    Two equi-joins pull the token arrays to the pair; intersection /
    union are array expressions (no explode). At scale the pair list
    is << corpus, so both joins are shuffle-on-id or broadcast.

    hashed=True compares 64-bit token hashes instead of strings —
    same set cardinalities (md5-collision odds negligible), ~2x
    cheaper intersections, and the hash array is shared work with the
    MinHash signature. Pass a persisted `token_hashes` frame as
    `toks` to skip recomputing the hash arrays per join side."""
    if toks is not None:
        toks = toks.select(F.col(id_col).alias("jid"), F.col(toks_col).alias("toks"))
    else:
        tok_arr = word_set(F.col(text_col))
        if hashed:
            tok_arr = F.array_sort(F.transform(tok_arr, md5_base_mod))
        # ensure_parallelism = an exchange boundary that pins the
        # token-array build BELOW the joins (and off a single task);
        # without it Catalyst collapses the projection into the join
        # output and rebuilds the arrays per PAIR row (measured 1.7x
        # slower at sf0.1).
        toks = ensure_parallelism(docs).select(
            F.col(id_col).alias("jid"), tok_arr.alias("toks")
        )
    # Per-pair set ops are the CPU hot spot. Three levers (measured at
    # sf0.1, 2.27M candidate pairs):
    #  * |A∪B| = |A|+|B| - |A∩B| (arrays are distinct sets) — ONE
    #    array op per pair instead of intersect+union.
    #  * An explicit repartition of the pair list: its shuffle
    #    footprint is tiny (two longs/row) so AQE would coalesce it
    #    onto 1-2 tasks and serialize the CPU-bound stage. r12: the
    #    spread is HASH on the (unique) pair key, not round-robin —
    #    identical uniform spread, but round-robin pays a local sort
    #    of its input first (sortBeforeRepartition, SPARK-23207,
    #    needed only so retried tasks reproduce the row->partition
    #    map, which a deterministic hash key gives for free).
    #    The hash form collapses into the pair-dedup aggregate's own
    #    ENSURE_REQUIREMENTS exchange (one exchange saved). AQE cannot
    #    coalesce that surviving exchange onto 1-2 tasks (the hazard
    #    the round-robin guarded): it sits inside the pinned subtree,
    #    and cached-plan compilation runs without AQE
    #    (canChangeCachedPlanOutputPartitioning=false), so the stage
    #    keeps all shuffle.partitions tasks — executed-plan verified
    #    (plans/r12/dedup_near_dup_after.txt).
    #  * A cache barrier between the inter-projection and the
    #    threshold filter: without it, predicate pushdown rewrites the
    #    filter into the join CONDITION with the intersect inlined
    #    twice more (+ slow non-codegen condition eval) — 6x slower.
    #    The barrier table is 4 longs/pair, far smaller than its
    #    inputs, so it is persistable even at the 100 TB tier.
    fanout = pairs.sparkSession.sparkContext.defaultParallelism
    pairs = pairs.repartition(fanout, F.col("doc_a"), F.col("doc_b"))
    toks = toks.withColumn("n_toks", F.size(F.col("toks")))
    # Size-gated broadcast: the token-hash table is ~200 B/doc, far
    # smaller than the pair list it joins against, but its size
    # estimate crosses the 10 MB auto-broadcast default early —
    # without the hint both joins degrade to sort-merge and SORT the
    # entire pair stream twice (measured 40x slower at a 50 k-doc
    # probe). Past broadcast reach (~10^8 docs) maybe_broadcast drops
    # the hint and the joins pre-bucket both sides on the id.
    bcast = (
        F.broadcast if should_broadcast(toks, broadcast_cap) else (lambda d: d)
    )
    j = (
        pairs.join(
            bcast(toks.select(
                F.col("jid").alias("doc_a"), F.col("toks").alias("toks_a"),
                F.col("n_toks").alias("na"))), "doc_a")
        .join(
            bcast(toks.select(
                F.col("jid").alias("doc_b"), F.col("toks").alias("toks_b"),
                F.col("n_toks").alias("nb"))), "doc_b")
    )
    # Size-ratio prefilter BEFORE the per-pair set op: J(A,B) <=
    # min(|A|,|B|)/max(|A|,|B|) (inter <= min, union >= max), so a
    # pair whose sizes alone cap Jaccard below the threshold never
    # pays the array_intersect. Two-int comparison on columns the
    # join already carries; drops no true pair by the inequality.
    j = j.filter(
        F.least("na", "nb").cast("double")
        >= F.lit(float(threshold)) * F.greatest("na", "nb")
    )
    j = pin(
        j.select(
            "doc_a", "doc_b",
            F.size(F.array_intersect(F.col("toks_a"), F.col("toks_b"))).alias("inter"),
            (F.col("na") + F.col("nb")).alias("tot"),
        )
    )
    jac = F.col("inter").cast("double") / (F.col("tot") - F.col("inter")).cast("double")
    return (
        j.select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def simhash(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 63,
) -> DataFrame:
    """63-bit SimHash, computed WITHOUT a shuffle: per doc, a
    `bits`-long sign-count vector over the token hashes, with bit b
    set where the count is positive.

    ONE Arrow `mapInPandas` pass: the md5 token hashes stay JVM-side
    (string work never crosses into Python); the kernel unpacks each
    60-bit hash into a (tokens x bits) sign matrix and segment-sums
    it per doc (`np.add.reduceat`) — three vectorized ops instead of
    an interpreted per-token fold. NULL text -> NULL simhash, empty
    token set -> 0. A map-only stage at any scale."""
    import numpy as np
    import pandas as pd

    base = ensure_parallelism(docs).select(
        F.col(id_col),
        F.transform(
            word_set(F.col(text_col)), lambda w: md5_hash64(w, "sim")
        ).alias("__sh"),
    )
    from pyspark.sql import types as T

    id_field = base.schema.fields[0]
    schema = T.StructType(
        [id_field, T.StructField("simhash", T.LongType(), True)]
    )

    def compute(iterator):
        import numpy as np

        bitpos = np.arange(bits, dtype=np.int64)
        pow2 = (np.int64(1) << bitpos).astype(np.int64)
        # cap by CELLS like the other kernels: a sign row is `bits`
        # int64s (504 B at bits=63, not 63 B) — the (tokens x bits)
        # matrix stays ~256 MB per chunk
        max_tokens = max(1, (32 << 20) // bits)
        for pdf in iterator:
            n = len(pdf)
            toks = [
                np.asarray(t, dtype=np.int64)
                if t is not None
                else None
                for t in pdf["__sh"]
            ]
            lens = np.fromiter(
                (0 if t is None else t.size for t in toks),
                dtype=np.int64,
                count=n,
            )
            out = np.zeros(n, dtype=np.int64)
            nonempty = np.flatnonzero(lens)
            i = 0
            while i < nonempty.size:
                j = i
                total = 0
                while j < nonempty.size:
                    nxt = total + lens[nonempty[j]]
                    if j > i and nxt > max_tokens:
                        break
                    total = nxt
                    j += 1
                idx = nonempty[i:j]
                flat = np.concatenate([toks[d] for d in idx])
                sign = (
                    ((flat[:, None] >> bitpos[None, :]) & 1) * 2 - 1
                ).astype(np.int64)
                starts = np.zeros(idx.size, dtype=np.int64)
                np.cumsum(lens[idx][:-1], out=starts[1:])
                counts = np.add.reduceat(sign, starts, axis=0)
                out[idx] = ((counts > 0) * pow2[None, :]).sum(axis=1)
                i = j
            null_mask = np.array([t is None for t in toks])
            cols = {id_field.name: pdf[id_field.name]}
            cols["simhash"] = (
                pd.array(np.where(null_mask, None, out), dtype="Int64")
                if null_mask.any()
                else out
            )
            yield pd.DataFrame(cols)

    return base.mapInPandas(compute, schema)


def simhash_candidate_pairs(
    sh: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "simhash",
    bits: int = 63,
    n_bands: int = 4,
    max_hamming: int = 3,
    broadcast_cap: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance <= `max_hamming`.

    Pigeonhole banding: split the hash into `n_bands` bit slices —
    any pair within distance n_bands-1 shares at least one identical
    slice, so per-slice equi self-joins find every candidate (set
    max_hamming <= n_bands-1 for exactness). First-match-only (a pair
    is emitted by its first equal band, later bands require an
    earlier-band mismatch) keeps the per-band pair sets disjoint — no
    distinct shuffle. The exact `bit_count(xor)` filter runs on the
    join output. Same scale shape as `lsh_candidate_pairs`:
    size-gated broadcast build side, uniform slice keys, AQE
    skew-split beyond broadcast size."""
    assert max_hamming <= n_bands - 1, "pigeonhole needs n_bands > max_hamming"
    base = bits // n_bands
    rem = bits % n_bands
    widths = [base + (1 if i < rem else 0) for i in range(n_bands)]
    offsets = [sum(widths[:i]) for i in range(n_bands)]

    def slice_of(side: str, band: int) -> Column:
        c = F.shiftright(F.col(f"{side}.{hash_col}"), offsets[band])
        return c.bitwiseAND(F.lit((1 << widths[band]) - 1))

    a = sh.alias("a")
    # broadcast-gate audit (r12): sh is kernel-fed (`simhash`), and
    # the probe side is ensure_parallelism'd inside it — whichever way
    # the hint goes, it cannot serialize the band joins.
    b = maybe_broadcast(sh.alias("b"), broadcast_cap)
    hamming = F.bit_count(
        F.col(f"a.{hash_col}").bitwiseXOR(F.col(f"b.{hash_col}"))
    )
    out = None
    for band in range(n_bands):
        cond = (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")) & (
            slice_of("a", band) == slice_of("b", band)
        )
        for prior in range(band):
            cond = cond & (slice_of("a", prior) != slice_of("b", prior))
        cond = cond & (hamming <= max_hamming)
        pairs = a.join(b, cond).select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            hamming.alias("hamming"),
        )
        out = pairs if out is None else out.unionByName(pairs)
    return out


def connected_components(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    max_iter: int = 30,
) -> DataFrame:
    """Dedup CLUSTER assignment: connected components over the
    near-dup pair graph — (node, label) with label = the component's
    minimum id, i.e. the canonical representative a keep-one dedup
    policy retains.

    Min-label propagation. Per iteration: one equi-join of edges to
    labels (propagate) and one map-side-combinable groupBy-min
    (reduce) — 2 shuffles, both on uniform id keys. Iterations = graph
    DIAMETER; near-dup graphs are dense cliques stitched by hubs, so
    convergence is fast (observed ≤ 4 rounds on the fixture corpus).
    The first round needs no labels to propagate — every node's label
    is its own id — so the seed is that round, least(node, min
    neighbour) from one groupBy on the edges: a clique's labels are
    final at the seed and the first loop round only confirms them.
    Alternating large-star/small-star (Kiveris et al., SoCC'14), whose
    rounds are O(log n) regardless of diameter, is kept as a test
    oracle (tests/kernel_oracles.py) until a scaled workload shows a
    long-chain graph where it wins. A graph whose labels still change
    after `max_iter` rounds raises instead of returning labels that
    split a component.

    Lineage is truncated per round with localCheckpoint — without it
    the iterated join plan grows exponentially and analysis dominates.
    Whether a round changed any label is an Observation riding that
    checkpoint's own job, so a round costs one Spark job. On a real
    cluster use reliable checkpointing (localCheckpoint trades
    fault-tolerance for speed)."""
    edges = (
        pairs.select(F.col(id_a).alias("s"), F.col(id_b).alias("d"))
        .unionByName(pairs.select(F.col(id_b).alias("s"), F.col(id_a).alias("d")))
        .persist()
    )
    try:
        labels = (
            edges.groupBy("s")
            .agg(F.least(F.col("s"), F.min("d")).alias("label"))
            .withColumnRenamed("s", "node")
            .localCheckpoint()
        )
        for _ in range(max_iter):
            nbr_min = (
                edges.join(labels, edges.s == labels.node)
                .groupBy(F.col("d").alias("node"))
                .agg(F.min("label").alias("nbr_min"))
            )
            # a node's label changes iff a neighbor offered a smaller
            # one; the round's checkpoint job also counts those nodes
            changed = Observation()
            labels = (
                labels.alias("l")
                .join(nbr_min.alias("m"), "node", "left")
                .observe(
                    changed,
                    F.count_if(F.col("m.nbr_min") < F.col("l.label")).alias(
                        "n"
                    ),
                )
                .select(
                    "node",
                    F.least(F.col("l.label"), F.col("m.nbr_min")).alias(
                        "label"
                    ),
                )
                .localCheckpoint()
            )
            if changed.get["n"] == 0:
                return labels
    finally:
        edges.unpersist()
    raise RuntimeError(
        f"connected_components: labels still changing after {max_iter} "
        "rounds (max_iter); the graph's diameter needs more"
    )


# ---------------------------------------------------------------------------
# asymmetric containment (doc-inside-doc)


def containment_pairs(
    docs: DataFrame,
    n: int = 3,
    min_containment: float = 0.5,
    max_gram_df: int = 100,
    text_col: str = "text",
) -> DataFrame:
    """Rare-gram containment: pairs where most of doc A's distinct
    word n-grams also occur in doc B — the ASYMMETRIC near-dup
    relation (quote blocks, doc-inside-doc, extended re-posts) that
    Jaccard misses when |B| >> |A|.

    containment_lb(A -> B) =
        |rare-grams(A) ∩ grams(B)| / |grams(A)|

    The intersection is computed over grams with document frequency
    <= `max_gram_df` (prefix filtering): dropping corpus-common grams
    bounds the self-join fan-out at sum_g df_g^2 <= max_gram_df x
    |postings| — the standard cap that keeps an all-pairs-by-gram
    join from quadratic blowup on boilerplate. The denominator stays
    the UNfiltered gram count, so the score is a deterministic lower
    bound of true containment (exact whenever A shares no
    over-common grams with the corpus).

    Scale: one (gram-hash) aggregate for df, one equi-join on the
    uniform 60-bit hash with bounded fan-out, one (A, B) count
    aggregate. No cartesian, no global window.
    """
    from pyspark.sql import Window as W

    g = (
        ensure_parallelism(docs)
        .select("doc_id", F.split(F.col(text_col), " ").alias("ws"))
        .select(
            "doc_id",
            F.explode(shingles_from(F.col("ws"), n)).alias("gr"),
        )
        .select("doc_id", md5_hash64(F.col("gr"), "ct").alias("gh"))
    )
    # Gram df via a COUNT window over the postings (grams are distinct
    # per doc, so the gh partition size IS the document frequency):
    # one shuffle of the postings replaces a df aggregate + join back,
    # and the corpus is shingled exactly once. persist: both sides of
    # the self-join read the SAME filtered postings — without it
    # Catalyst inlines the whole chain twice (no exchange reuse across
    # the asymmetrically-planned sides, measured). The catalog's
    # _fresh_entry clears it at the next entry, bounding the
    # cache-manager tax; at the 10^8-doc tier swap the persist for a
    # bucketed write.
    rare = (
        g.withColumn("df", F.count("*").over(W.partitionBy("gh")))
        .filter(F.col("df") <= max_gram_df)
        .select("doc_id", "gh")
    )
    rare = pin(rare)
    inter = (
        rare.alias("a")
        .join(
            rare.alias("b"),
            (F.col("a.gh") == F.col("b.gh"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count("*").alias("inter"))
    )
    # denominator straight off the scan: |distinct grams| is an array
    # expression, no explode/shuffle needed for the per-doc total
    tot = ensure_parallelism(docs).select(
        F.col("doc_id").alias("doc_a"),
        F.size(shingle_set(F.col(text_col), n)).cast("long").alias("n_a"),
    )
    return (
        inter.join(tot, "doc_a")
        .withColumn(
            "containment", F.round(F.col("inter") / F.col("n_a"), 6)
        )
        .filter(F.col("containment") >= min_containment)
        .select("doc_a", "doc_b", "inter", "n_a", "containment")
    )


# ---------------------------------------------------------------------------
# incremental (delta-vs-corpus) dedup, md5-banded so a SQL oracle
# reproduces it


def md5_band_rows(
    sigs: DataFrame,
    num_hashes: int = 8,
    band_size: int = 2,
    id_col: str = "doc_id",
) -> DataFrame:
    """Melt a signature frame to (id, band_id, band_key) rows with
    md5 band keys (same construction as the oracle CTE:
    md5(h0 || '_' || h1)). One row per (doc, band); no shuffle.

    Shape matters: ONE select + posexplode over the band-key array,
    NOT a b-way union of per-band selects. A union's branches are
    independent subtrees, so any shared upstream expression — in
    particular `oph_signature`'s per-row bucket fold, which every
    h column references — would be re-evaluated once PER BRANCH
    (measured: the b=16 union made the OPH audit 5x slower than the
    classic one purely on fold recomputation); posexplode evaluates
    each source row exactly once.

    Degenerate docs (NULL / empty / sub-shingle text) produce
    all-NULL signatures — minhash/oph h columns are all-or-none
    NULL. concat_ws SKIPS NULLs, so without a guard every such doc
    would get md5('') in EVERY band and pairwise band-collide with
    every other empty doc: E empty docs -> E^2/2 candidate pairs
    through the screen's one shuffle before the verify drops them
    all (0/0 Jaccard). The oracle's `h0 || '_' || h1` propagates
    NULL (NULL keys never equi-join), so dropping all-NULL rows
    here matches the oracle pair set exactly AND kills the hot key.
    A NULL-signature doc can never verify at any threshold > 0, so
    no true pair is lost."""
    assert num_hashes % band_size == 0
    # one SQL string, parsed once on the JVM: building the same array
    # from Column calls costs a py4j round trip per column reference
    # (~180 at k=128/r=8) for an identical analyzed expression
    keys = ", ".join(
        "md5(concat_ws('_', "
        + ", ".join(f"h{band * band_size + j}" for j in range(band_size))
        + "))"
        for band in range(num_hashes // band_size)
    )
    return sigs.where(F.col("h0").isNotNull()).select(
        F.col(id_col),
        F.posexplode(F.expr(f"array({keys})")).alias("band_id", "band_key"),
    )


def band_index(
    existing_sigs: DataFrame,
    num_hashes: int = 8,
    band_size: int = 2,
    id_col: str = "doc_id",
) -> DataFrame:
    """DISTINCT (band_id, band_key) bucket set of an existing corpus —
    the persisted artifact an ingestion pipeline refreshes offline.
    |corpus| x n_bands rows upper bound, far smaller than the text."""
    return md5_band_rows(
        existing_sigs, num_hashes, band_size, id_col
    ).select("band_id", "band_key").distinct()


def incremental_dedup_filter(
    incoming_sigs: DataFrame,
    index: DataFrame,
    num_hashes: int = 8,
    band_size: int = 2,
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep only incoming docs with NO band-bucket hit in the index —
    any-band-full-match semantics, expressed as two batch joins: a
    semi-join marks hit docs, an anti-join drops them. Both joins
    are keyed on the uniform (band_id, band_key) — broadcast-eligible
    when the index fits (maybe_broadcast), shuffle otherwise; never
    a cartesian."""
    bands = md5_band_rows(incoming_sigs, num_hashes, band_size, id_col)
    hits = (
        # broadcast-gate audit (r12): index is a parquet read —
        # file-size estimate, plan-independent; probe side is banded
        # incoming sigs (parallel via token_hashes).
        bands.join(maybe_broadcast(index), ["band_id", "band_key"], "semi")
        .select(id_col)
        .distinct()
    )
    return incoming_sigs.join(hits, id_col, "anti")


# ---------------------------------------------------------------------------
# Materialized near-dup graph index: the parquet edge artifact the
# graph family (pagerank / kcore / triangles / LPA communities) reads
# instead of re-deriving minhash -> LSH -> verify per query — the
# same index-layout economics as ivf/bm25/trigram (pay the build
# once at ingest, queries read the artifact), applied to the
# verified pair list. SCALE.md's LPA probe shows why: at 100x the
# in-memory edges checkpoint is the single-box limit; a parquet
# materialization is the 100 TB shape.


def signature_fn(scheme: str):
    """The signature builder for a scheme name: 'classic' (k mixes
    per token, shuffle-free, best screen precision) or 'oph'
    (one-permutation + rotation densification — O(tokens) instead of
    O(k*tokens), the swap when documents are long; trades screen
    precision for signature cost, recall holds — both measured by
    the lsh_recall_audit pair)."""
    if scheme == "oph":
        return oph_signature
    if scheme == "classic":
        return minhash_signature
    raise ValueError(f"unknown signature scheme {scheme!r}")


def oph_bucket_density(toks: DataFrame, num_hashes: int) -> float:
    """Mean FILLED residue buckets per signature under OPH with k =
    num_hashes — the observable that prices the densification
    tradeoff at build time instead of leaving it invisible until
    someone runs the tuning table. A doc fills the buckets hit by
    its distinct token-hash residues (h mod k); the rest of its k
    coordinates are densification borrows, and on short-doc corpora
    (tokens << k) the borrows correlate across docs and over-generate
    candidates (measured in SCALE.md r10: 1,799 vs classic's 967 on
    the audit fixture). One map-side-combinable agg over the token
    frame; empty corpora report 0.0."""
    k = num_hashes
    row = toks.select(
        F.avg(
            F.size(
                F.array_distinct(
                    F.transform(
                        F.col("toks"),
                        lambda h: F.pmod(h, F.lit(k)).cast("int"),
                    )
                )
            )
        ).alias("mean_filled")
    ).collect()[0]
    return float(row["mean_filled"] or 0.0)


# Below this mean filled-bucket fraction an OPH signature is mostly
# densification borrows — the screen's precision collapses on the
# correlated borrow values while the signature-pass saving (the only
# reason to pick OPH) is negligible because tokens << k already makes
# the classic pass cheap. Build verbs fall back to classic and record
# both the measured density and the requested scheme. 0.25 filled
# corresponds to ~0.29k distinct tokens per doc (filled =
# k(1-e^(-t/k))): the r10-measured over-generation regime (the 23-
# token fixture at k=128 sits at 0.16) trips it, while a deliberate
# k ~ tokens configuration (same fixture at k=32: 0.52) does not.
OPH_MIN_FILLED_FRACTION = 0.25


def _nd_params_write(
    path: str, num_hashes: int, band_size: int, threshold: float,
    scheme: str = "classic", extra: dict | None = None,
) -> None:
    """Pin the index's LSH parameters next to the data. Band keys
    are a function of (num_hashes, band_size) and edges/ of
    `threshold`; an update run with different values would join
    incomparable band keys (zero cross-candidates — silent recall
    collapse) or mix verify thresholds in one edge list. Like the
    transfer layout pin, these are properties of the INDEX, recorded
    once at build time and resolved by every later verb."""
    import json
    import os
    import uuid as _uuid

    os.makedirs(path, exist_ok=True)
    tmp = os.path.join(path, "._params.tmp-" + _uuid.uuid4().hex[:8])
    with open(tmp, "w") as f:
        json.dump(
            {
                "num_hashes": int(num_hashes),
                "band_size": int(band_size),
                "threshold": float(threshold),
                "scheme": scheme,
                **(extra or {}),
            },
            f,
        )
    os.replace(tmp, os.path.join(path, "_params.json"))


def _nd_params(path: str) -> dict | None:
    """The pinned LSH parameters, or None for a legacy index."""
    import json
    import os

    p = os.path.join(path, "_params.json")
    if not os.path.isfile(p):
        return None
    with open(p) as f:
        return json.load(f)


def neardup_index_write(
    docs: DataFrame,
    path: str,
    num_hashes: int = 128,
    band_size: int = 8,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    scheme: str = "classic",
) -> None:
    """Build the index from scratch: `edges/` (verified doc_a <
    doc_b pairs), `bands/` ((doc_id, band_id, band_key) rows — the
    candidate-generation state incremental updates join against),
    `toks/` ((doc_id, toks) token-hash arrays — the verify state).
    Bands and toks are linear in the corpus and far smaller than the
    text; edges are the query artifact.

    Default banding is the RECALL-TUNED point k=128, r=8 (b=16):
    P(candidate | j=0.8) = 1-(1-0.8^8)^16 ~= 0.95, measured 99%+ on
    the audit fixture (`lsh_recall_report`) — the old k=16/b=2
    default's S-curve promised only ~0.31 at the same threshold,
    silently dropping half-plus of true near-dups for every consumer
    of the screen. The parameters are pinned in `_params.json` and
    every later update resolves them from there.

    A write is a from-scratch REBUILD: any previous layout at `path`
    (including pointer-flip version dirs a `neardup_index_maintain`
    left) is removed first — a bare overwrite under a stale
    `_CURRENT` pointer would be invisible to readers."""
    import shutil
    import warnings

    shutil.rmtree(path, ignore_errors=True)
    toks = pin(token_hashes(docs, text_col, id_col))
    extra: dict = {}
    if scheme == "oph":
        # Price the densification tradeoff AT BUILD TIME: on a
        # short-doc corpus (mean filled buckets << k) the OPH
        # coordinates are mostly correlated borrows — candidate
        # over-generation with no signature-pass saving to show for
        # it. Record the measured density in the pin either way;
        # below the floor, build classic instead (and record what
        # was requested so the fallback is auditable).
        density = oph_bucket_density(toks, num_hashes)
        extra["mean_filled_buckets"] = round(density, 2)
        if density < OPH_MIN_FILLED_FRACTION * num_hashes:
            warnings.warn(
                f"oph requested but mean filled buckets "
                f"{density:.1f} < {OPH_MIN_FILLED_FRACTION} * "
                f"k={num_hashes}: short-doc corpus — building with "
                "the classic scheme instead (the pin records both)"
            )
            extra["scheme_requested"] = "oph"
            scheme = "classic"
    _nd_params_write(
        path, num_hashes, band_size, threshold, scheme, extra=extra
    )
    sigs = pin(
        signature_fn(scheme)(
            toks, id_col=id_col, num_hashes=num_hashes, hashes_col="toks"
        )
    )
    pairs = lsh_candidate_pairs(
        sigs, id_col=id_col, num_hashes=num_hashes, band_size=band_size
    )
    verified = jaccard_verify(
        pairs, docs, id_col=id_col, threshold=threshold, toks=toks
    )
    verified.select("doc_a", "doc_b").write.mode("overwrite").parquet(
        f"{path}/edges"
    )
    md5_band_rows(sigs, num_hashes, band_size, id_col).write.mode(
        "overwrite"
    ).parquet(f"{path}/bands")
    toks.write.mode("overwrite").parquet(f"{path}/toks")


def neardup_index_update(
    spark,
    path: str,
    new_docs: DataFrame,
    num_hashes: int = 128,
    band_size: int = 8,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    scheme: str = "classic",
) -> int:
    """Incremental maintenance: new docs' pairs come from (a) LSH
    banding WITHIN the delta and (b) an equi-join of the delta's band
    rows against the stored `bands/` (any-band match — the same pair
    set first-match-only banding emits, deduped); both verify with
    exact Jaccard over stored + delta token arrays. update ==
    rebuild exactly (asserted in tests) because the candidate sets
    coincide and the verify is the same expression.

    Replay-idempotent: docs already in `toks/` are filtered out
    first, so a crash-replayed micro-batch appends nothing. Append
    order is edges -> bands -> toks: `toks/` is the replay gate, so
    a crash mid-update re-appends at worst already-written edge rows
    — harmless, every consumer `.distinct()`s the pair list.

    LSH parameters resolve from the index's `_params.json` pin (see
    `_nd_params_write`): a caller passing different values would
    band the delta incomparably to the stored rows — zero cross
    candidates, silent recall collapse — so the pin wins. Legacy
    indexes without the pin adopt the caller's values AND pin them.

    Returns the number of newly indexed docs."""
    pinned = _nd_params(path)
    if pinned is not None:
        num_hashes = pinned["num_hashes"]
        band_size = pinned["band_size"]
        threshold = pinned["threshold"]
        scheme = pinned.get("scheme", "classic")
    else:
        _nd_params_write(path, num_hashes, band_size, threshold, scheme)
    old_toks = spark.read.parquet(_nd_root(path, "toks"))
    # within-batch duplicate ids would land duplicate toks/band rows
    # (harmless for edges — .distinct absorbs — but they bloat the
    # replay gate and the cc new-row set); keep first occurrence
    fresh = (
        ensure_parallelism(new_docs)
        .dropDuplicates([id_col])
        .join(old_toks.select(id_col), id_col, "anti")
    )
    toks_new = pin(token_hashes(fresh, text_col, id_col))
    n_fresh = toks_new.count()
    if n_fresh == 0:
        return 0
    sigs_new = pin(
        signature_fn(scheme)(
            toks_new, id_col=id_col, num_hashes=num_hashes, hashes_col="toks"
        )
    )
    nn = lsh_candidate_pairs(
        sigs_new, id_col=id_col, num_hashes=num_hashes, band_size=band_size
    )
    bands_new = pin(md5_band_rows(sigs_new, num_hashes, band_size, id_col))
    old_bands = spark.read.parquet(_nd_root(path, "bands"))
    no = (
        bands_new.select(
            F.col(id_col).alias("__new"), "band_id", "band_key"
        )
        .join(
            old_bands.select(
                F.col(id_col).alias("__old"), "band_id", "band_key"
            ),
            ["band_id", "band_key"],
        )
        .where(F.col("__new") != F.col("__old"))
        .select(
            F.least("__new", "__old").alias("doc_a"),
            F.greatest("__new", "__old").alias("doc_b"),
        )
        .distinct()
    )
    # Crash replay between the bands/ and toks/ appends leaves the
    # replayed docs both "fresh" (toks is the replay gate) and already
    # present in stored bands/ — without the __new != __old guard the
    # equi-join pairs a doc with itself, Jaccard(X,X)=1.0 verifies, and
    # a permanent self-loop lands in edges/ that .distinct() cannot
    # absorb (graph consumers would see inflated degrees). Guard the
    # join AND the merged candidate frame (belt and suspenders).
    cands = (
        nn.select("doc_a", "doc_b")
        .unionByName(no)
        .where(F.col("doc_a") != F.col("doc_b"))
    )
    all_toks = old_toks.unionByName(toks_new)
    verified = jaccard_verify(
        cands, fresh, id_col=id_col, threshold=threshold, toks=all_toks
    )
    import os

    has_cc = os.path.isdir(f"{path}/cc")
    edges_out = verified.select("doc_a", "doc_b")
    if has_cc:
        # two consumers (edges append + cc update): pin, or the
        # second one re-runs the whole LSH verify — measured as the
        # bulk of the cc increment at the 10x probe
        edges_out = pin(edges_out)
    edges_out.write.mode("append").parquet(_nd_root(path, "edges"))
    # component map, if materialized: resolve merges on the label
    # graph and rewrite only affected label buckets. Ordered BEFORE
    # the toks/ append (the replay gate) so a crash anywhere leaves a
    # replay that converges: endpoints already merged -> identity
    # mapping, ids already stored -> empty new-row set.
    if has_cc:
        _neardup_cc_update(
            spark, path,
            edges_out,
            toks_new.select(F.col(id_col).alias("doc_id")),
        )
    bands_new.write.mode("append").parquet(_nd_root(path, "bands"))
    toks_new.write.mode("append").parquet(_nd_root(path, "toks"))
    return n_fresh


def decontaminate_incremental(
    spark,
    delta_docs: DataFrame,
    benchmark_index: str,
    threshold: float | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int | None = None,
    band_size: int | None = None,
) -> DataFrame:
    """Decontaminate-at-INGEST: filter a micro-batch/delta of
    candidate training documents against a MATERIALIZED near-dup
    index of the (static) benchmark corpus — docs with a verified
    near-dup (exact Jaccard >= threshold) among the benchmarks are
    dropped, survivors returned. `decontaminate_train` re-shingles
    and re-bands the benchmark side on EVERY run; here the benchmark
    pays its banding once (`neardup_index_write`) and each ingest
    wave costs one linear signature pass over the delta + an
    equi-join of the delta's band rows against the stored `bands/`
    (uniform keys, broadcast-eligible) + the exact verify on the
    candidate pairs. The cross-pair candidate set is IDENTICAL to
    what corpus-wide banding emits for (delta x benchmark) pairs —
    two docs band-collide by their own signatures alone — so
    incremental == the batch decontamination on the same corpus
    (equality-tested; oracle shares `DECONTAMINATE_SQL`'s CTEs).

    LSH parameters resolve from the index pin (`_params.json`);
    `threshold` defaults to the index's own. A LEGACY index without
    the pin is an error unless the caller passes num_hashes AND
    band_size explicitly (matching `neardup_index_update`'s
    caller-parameterized legacy contract): silently assuming a
    default would band the delta incomparably to the stored rows —
    only the band ids both layouts share could ever match, so
    contaminated docs would pass at a collapsed recall with no
    error, the exact failure the pin exists to prevent. Ids must be
    distinct across delta and benchmark (the index-update contract).
    The delta is NOT added to the index — the benchmark is static by
    definition."""
    params = _nd_params(benchmark_index)
    if params is None:
        if num_hashes is None or band_size is None:
            raise ValueError(
                f"near-dup index at {benchmark_index!r} has no "
                "_params.json pin; pass num_hashes= and band_size= "
                "matching the values the index was built with (an "
                "assumed default would band the delta incomparably "
                "to the stored rows and silently collapse recall)"
            )
        params = {
            "num_hashes": num_hashes, "band_size": band_size,
            "threshold": 0.8 if threshold is None else threshold,
        }
    num_hashes = params["num_hashes"]
    band_size = params["band_size"]
    thr = params["threshold"] if threshold is None else threshold
    toks_delta = pin(token_hashes(delta_docs, text_col, id_col))
    sigs = signature_fn(params.get("scheme", "classic"))(
        toks_delta, id_col=id_col, num_hashes=num_hashes, hashes_col="toks"
    )
    bands_delta = md5_band_rows(sigs, num_hashes, band_size, id_col)
    bench_bands = spark.read.parquet(_nd_root(benchmark_index, "bands"))
    cand = (
        bands_delta.select(
            F.col(id_col).alias("doc_a"), "band_id", "band_key"
        )
        .join(
            bench_bands.select(
                F.col(id_col).alias("doc_b"), "band_id", "band_key"
            ),
            ["band_id", "band_key"],
        )
        .where(F.col("doc_a") != F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    bench_toks = spark.read.parquet(_nd_root(benchmark_index, "toks"))
    all_toks = toks_delta.unionByName(bench_toks)
    contaminated = (
        jaccard_verify(
            cand, delta_docs, id_col=id_col, threshold=thr, toks=all_toks
        )
        .select(F.col("doc_a").alias(id_col))
        .distinct()
    )
    return delta_docs.join(contaminated, id_col, "anti")


def neardup_edges(spark, path: str) -> DataFrame:
    """The materialized verified pair list (doc_a, doc_b), distinct —
    drop-in input for every graph-family operator. Self-loops (legacy
    crash-replay residue, see the guard in `neardup_index_update`)
    are dropped defensively."""
    return (
        spark.read.parquet(_nd_root(path, "edges"))
        .where(F.col("doc_a") != F.col("doc_b"))
        .distinct()
    )


def neardup_index_maintainer(
    path: str,
    num_hashes: int = 128,
    band_size: int = 8,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """`foreachBatch` body keeping the materialized near-dup graph
    index fresh from a document STREAM — the maintainer family's
    graph member. Crash-replay safety comes from the update verb
    itself: docs already in `toks/` are anti-joined away, so a
    replayed micro-batch appends nothing (and the worst mid-update
    crash re-appends edge rows every consumer `.distinct()`s).

        docs.writeStream.foreachBatch(neardup_index_maintainer(path))
            .option("checkpointLocation", ckpt).start()
    """

    def body(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        neardup_index_update(
            batch_df.sparkSession, path, batch_df,
            num_hashes=num_hashes, band_size=band_size,
            threshold=threshold, id_col=id_col, text_col=text_col,
        )
        from reader_spark.cache import release_pins

        release_pins()

    return body


def _nd_root(path: str, sub: str) -> str:
    """Data root of one index subdir: the live pointer-flip version
    if `neardup_index_maintain` has ever published it, else the bare
    layout the initial write produces."""
    from reader_spark.operators import atomic_dir

    return atomic_dir.resolve(f"{path}/{sub}")


def neardup_index_maintain(
    spark, path: str, target_bytes: int = 128 << 20
) -> dict[str, int]:
    """OPTIMIZE for the graph index: each update wave appends a file
    set into edges/bands/toks, and a read through hundreds of tiny
    files is scheduler-bound. Rewrites each subdir into
    ceil(bytes/target) files behind a pointer flip (readers resolve
    through `_nd_root`), collapsing duplicate edge rows and
    self-loops (crash-replay residue) on the way; a crash anywhere
    mid-maintain leaves every reader correct. Returns per-subdir
    output file counts (plus, when the component map is
    materialized, `cc` = its rebuilt doc count)."""
    import math
    import os

    from reader_spark.operators import atomic_dir

    out: dict[str, int] = {}
    for sub in ("edges", "bands", "toks"):
        root = _nd_root(path, sub)
        files = [
            os.path.join(dp, f)
            for dp, _dn, fns in os.walk(root)
            for f in fns
            if f.endswith(".parquet")
        ]
        n_out = max(1, math.ceil(sum(map(os.path.getsize, files)) / target_bytes))
        df = spark.read.parquet(root)
        if sub == "edges":
            df = df.where(F.col("doc_a") != F.col("doc_b")).distinct()
        df = df.repartition(n_out)
        atomic_dir.publish(
            f"{path}/{sub}",
            lambda vdir, d=df: d.write.mode("overwrite").parquet(vdir),
        )
        out[sub] = n_out
    # the component map is rebuilt from the freshly compacted edges,
    # which compacts its label-bucket files too
    if os.path.isdir(f"{path}/cc"):
        n_buckets = _cc_meta(_nd_root(path, "cc"))
        out["cc"] = neardup_cc_write(spark, path, n_buckets=n_buckets)
    return out


# ---------------------------------------------------------------------------
# Incrementally-maintained connected components over the graph index.
#
# The dedup pipeline's most expensive recurring step at 100 TB is not
# finding pairs — the graph index already makes that incremental — but
# CLUSTER ASSIGNMENT: a full connected-components run per ingest wave
# re-shuffles every edge ever verified. The cc/ artifact removes that:
# labels (doc_id -> component min) are stored bucketed BY LABEL, and a
# micro-batch's merges are resolved on the COMPONENT graph (nodes =
# current labels touched by the delta — delta-bounded, not
# corpus-bounded), then applied by rewriting only the label buckets the
# merge touches (dynamic partition overwrite, the IVF-cell contract).
# Reference parity: the reference has no graph operators; this extends
# its incremental-artifact design (offsets/high-water resume,
# lib/rdbms/scan/scan.go keyset model) to the dedup cluster map.


def _cc_meta(root: str) -> int:
    import os

    with open(os.path.join(root, "_ccmeta")) as f:
        return int(f.read().strip())


def neardup_cc_write(spark, path: str, n_buckets: int = 32) -> int:
    """Build (or rebuild) the materialized component map of the graph
    index: one full `connected_components` run over the stored edges,
    singletons (indexed docs with no verified neighbor) labeled with
    their own id, pointer-flip published at `{path}/cc` partitioned by
    `bucket = pmod(xxhash64(label), n_buckets)`.

    Bucketing by LABEL (not doc_id) is the load-bearing choice: a
    merge relabels every member of the merged components, and those
    members live ONLY in the buckets of the labels being retired — so
    `neardup_cc_update` rewrites a bounded bucket set per batch. The
    price is that looking up the delta's CURRENT labels is a
    column-pruned scan of the 2-column map instead of a pruned read;
    at the 10^10-doc tier add a doc_id-keyed reverse map if that scan
    ever dominates (it is ~16 bytes/doc).

    Returns the number of labeled docs."""
    from reader_spark.operators import atomic_dir

    edges = neardup_edges(spark, path)
    nodes = spark.read.parquet(_nd_root(path, "toks")).select("doc_id").distinct()
    comp = connected_components(edges)
    labels = (
        nodes.join(comp, nodes.doc_id == comp.node, "left")
        .select(
            "doc_id",
            F.coalesce(F.col("label"), F.col("doc_id")).alias("label"),
        )
    )
    n = labels.count()

    def write_fn(vdir: str) -> None:
        import os

        (
            labels.withColumn(
                "bucket", F.pmod(F.xxhash64("label"), F.lit(n_buckets))
            )
            .repartition(F.col("bucket"))
            .write.partitionBy("bucket")
            .mode("overwrite")
            .parquet(vdir)
        )
        with open(os.path.join(vdir, "_ccmeta"), "w") as f:
            f.write(str(n_buckets))

    atomic_dir.publish(f"{path}/cc", write_fn)
    return n


def _neardup_cc_update(spark, path: str, new_edges, new_ids) -> None:
    """Apply one delta to the materialized component map: resolve the
    merges on the label graph (delta-bounded), then rewrite only the
    affected label buckets. Called by `neardup_index_update` when
    `{path}/cc` exists; replay-idempotent — a replayed batch's
    endpoints already share merged labels (identity mapping) and its
    ids are already stored (empty new-row set), so the rewrite set is
    empty and nothing changes.

    Skew caveat (documented cap): the rewrite unit is the label
    bucket, and a component lives entirely in its label's bucket — a
    mega family degrades "bounded bucket rewrite" to "rewrite that
    family's bucket" for updates touching it (correctness unaffected;
    updates NOT touching the mega label never rewrite its bucket —
    file-level tested). Monitor with `neardup_cc_occupancy`;
    mitigations in its docstring."""
    root = _nd_root(path, "cc")
    n_buckets = _cc_meta(root)
    # a previous update rewrote bucket files in place: drop the
    # session's cached file listing before reading (and again after
    # this rewrite) or a later scan resolves to deleted part files
    spark.catalog.refreshByPath(root)
    stored = spark.read.parquet(root)
    ends = new_edges.select("doc_a", "doc_b")
    ep = (
        ends.select(F.col("doc_a").alias("doc_id"))
        .unionByName(ends.select(F.col("doc_b").alias("doc_id")))
        .unionByName(new_ids.select("doc_id"))
        .distinct()
    )
    # current label of every touched doc: stored rows for old docs
    # (column-pruned scan, delta-bounded output), self for new docs
    known = pin(
        stored.join(F.broadcast(ep), "doc_id", "left_semi").select(
            "doc_id", "label"
        )
    )
    fresh_ids = pin(new_ids.join(known.select("doc_id"), "doc_id", "left_anti"))
    cur = known.unionByName(
        fresh_ids.select("doc_id", F.col("doc_id").alias("label"))
    )
    la = cur.select(F.col("doc_id").alias("doc_a"), F.col("label").alias("la"))
    lb = cur.select(F.col("doc_id").alias("doc_b"), F.col("label").alias("lb"))
    t_edges = (
        ends.join(F.broadcast(la), "doc_a")
        .join(F.broadcast(lb), "doc_b")
        .select("la", "lb")
        .where(F.col("la") != F.col("lb"))
        .distinct()
    )
    # merges on the label graph: node = a current label, label = the
    # merged component's new minimum. The label graph is bounded by
    # the DELTA's edge count (a micro-batch), not the corpus — under
    # the control-plane cap resolve it with a driver union-find (one
    # collect, zero iterative jobs; the distributed propagation costs
    # ~2 shuffles + an action PER ROUND, which dominates maintenance
    # latency); past the cap fall back to the distributed CC.
    mapping = pin(_label_graph_min(spark, t_edges))
    new_rows = (
        fresh_ids.join(
            mapping.withColumnRenamed("node", "doc_id"), "doc_id", "left"
        )
        .select(
            "doc_id",
            F.coalesce(F.col("label"), F.col("doc_id")).alias("label"),
        )
    )
    bkt = lambda c: F.pmod(F.xxhash64(c), F.lit(n_buckets))  # noqa: E731
    touched = {
        r["b"]
        for r in mapping.select(bkt(F.col("node")).alias("b"))
        .unionByName(mapping.select(bkt(F.col("label")).alias("b")))
        .unionByName(new_rows.select(bkt(F.col("label")).alias("b")))
        .distinct()
        .collect()
    }
    if not touched:
        return
    aff = stored.where(F.col("bucket").isin(sorted(touched)))
    relabeled = (
        aff.join(
            F.broadcast(
                mapping.select(
                    F.col("node").alias("label"), F.col("label").alias("__new")
                )
            ),
            "label",
            "left",
        )
        .select(
            "doc_id", F.coalesce(F.col("__new"), F.col("label")).alias("label")
        )
    )
    merged = (
        relabeled.unionByName(new_rows)
        .groupBy("doc_id")
        .agg(F.min("label").alias("label"))
        .withColumn("bucket", bkt(F.col("label")))
    )
    # Stage-then-swap (TransferWriter._swap_buckets): the merged
    # frame writes COMPLETELY into a sibling staging dir while every
    # live cc/ file is still intact — nothing can ever recompute from
    # deleted part files (no eager materialization needed), a crash
    # mid-write leaves the live map untouched, and each touched
    # bucket commits via one atomic rename. A touched bucket absent
    # from staging (every row moved to a merged label's bucket) is
    # emptied by the swap — the stale-files-resurrect-old-labels
    # hazard dynamic overwrite had (the _overwrite_cells caveat,
    # similarity.py). Concurrency contract: single writer per index
    # (the maintainer loop); a reader between two bucket renames of
    # ONE update can still observe torn labels across buckets —
    # readers needing a consistent map snapshot the cc/ dir or read
    # between maintenance runs.
    import os
    import shutil
    import uuid as _uuid

    from reader_spark.operators.transfer import TransferWriter

    # GC staging dirs a crashed earlier update leaked (siblings of
    # root, never visible to Spark's listing of root itself)
    parent, name = os.path.split(root.rstrip("/"))
    for entry in os.listdir(parent):
        if entry.startswith(name + ".staging-"):
            shutil.rmtree(os.path.join(parent, entry), ignore_errors=True)
    staging = root + ".staging-" + _uuid.uuid4().hex[:8]
    (
        merged.repartition(F.col("bucket"))
        .write.partitionBy("bucket")
        .parquet(staging)
    )
    TransferWriter._swap_buckets(root, staging, sorted(touched))
    spark.catalog.refreshByPath(root)


_CC_DRIVER_CAP = 500_000  # label-graph edges; ~8 MB of id pairs


def _label_graph_min(spark, t_edges) -> DataFrame:
    """(node, label) for every node of the label graph whose
    component minimum differs from itself — the merge mapping.
    Driver union-find under `_CC_DRIVER_CAP` edges (exact, one
    collect of an already-delta-bounded frame), distributed
    `connected_components` past it."""
    rows = t_edges.limit(_CC_DRIVER_CAP + 1).collect()
    if len(rows) > _CC_DRIVER_CAP:  # pragma: no cover - huge-delta tier
        return connected_components(t_edges, id_a="la", id_b="lb").where(
            F.col("node") != F.col("label")
        )
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for r in rows:
        a, b = find(r["la"]), find(r["lb"])
        if a != b:
            # union by MIN keeps every root the component minimum
            lo, hi = (a, b) if a < b else (b, a)
            parent[hi] = lo
    out = [(n, find(n)) for n in parent]
    changed = [(n, l) for n, l in out if n != l]
    return local_df(spark, changed or [], "node long, label long")


def neardup_canonical(spark, path: str) -> DataFrame:
    """The component map (doc_id, component_id) from the materialized
    cc/ artifact — cluster assignment with NO connected-components
    run at read time."""
    return spark.read.parquet(_nd_root(path, "cc")).select(
        "doc_id", F.col("label").alias("component_id")
    )


def neardup_cc_occupancy(spark, path: str) -> DataFrame:
    """Bucket-occupancy report for the materialized component map —
    the `join_skew_report` shape applied to cc/'s layout hazard:
    buckets key on LABEL, so every member of a component shares one
    bucket, and a mega near-dup family (CommonCrawl boilerplate, a
    site template with millions of near-identical pages) concentrates
    its whole component there. Correctness is unaffected, but the
    "bounded bucket rewrite" economics of `_neardup_cc_update`
    silently degrade to rewrite-the-giant-bucket for every update
    that touches that label — this report is the monitoring hook.

    Per bucket: rows, distinct labels, the heaviest label and its
    member count, and occupancy vs the uniform share in exact integer
    ppm (rows * n_buckets * 1e6 div total — ~1e6 means balanced,
    orders of magnitude above means one family owns the bucket).
    Mitigations, in order: alert on `max_label_rows` (a mega family
    usually means boilerplate worth excising upstream — see
    `remove_duplicate_spans` / canonical-only retention); rebuild
    with a larger `n_buckets` (`neardup_cc_write` re-buckets, which
    isolates the family in its own bucket but cannot shrink it); at
    the extreme, canonical-only cc retention for that label. The
    rewrite-work bound that always holds regardless of skew: updates
    whose merge set does not touch the mega label NEVER rewrite its
    bucket (file-level test).

    Scale: one count aggregate over the 2-column map, map-side
    combined to n_buckets x labels partials, then an n_buckets-row
    struct-max — never a sort."""
    root = _nd_root(path, "cc")
    n_buckets = _cc_meta(root)
    per_label = (
        spark.read.parquet(root)
        .groupBy("bucket", "label")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    per_bucket = per_label.groupBy("bucket").agg(
        F.sum("n").alias("n_rows"),
        F.count(F.lit(1)).alias("n_labels"),
        F.max("n").alias("max_label_rows"),
        F.max(F.struct(F.col("n"), (-F.col("label")).alias("nl"))).alias(
            "__m"
        ),
    )
    total = per_bucket.agg(F.sum("n_rows").alias("total"))
    return (
        per_bucket.crossJoin(F.broadcast(total))
        .select(
            "bucket",
            "n_rows",
            "n_labels",
            "max_label_rows",
            (-F.col("__m.nl")).cast("long").alias("heaviest_label"),
            F.expr(
                f"(n_rows * {n_buckets} * 1000000L) div greatest(total, 1)"
            ).alias("occupancy_ppm"),
        )
    )


def _md5_topk_sample(
    docs: DataFrame, sample: int, id_col: str, text_col: str
) -> DataFrame:
    """The md5-ordered deterministic sample used by the recall/tuning
    diagnostics, selected WITHOUT dragging `text` through the TopK:
    the ordering key is a function of the id alone, so the TopK runs
    on an id-only columnar scan (bytes instead of the text column),
    the winning ids come to the driver (a bounded control-plane read
    — `sample` longs, same class as the centroid/touched-bucket
    reads), and an `isin` literal filter re-reads only the winners —
    pushed into the parquet scan, so row-group statistics skip the
    text pages of everything else. The old shape (orderBy+limit on
    (id, text)) decompressed and carried the whole text column into
    a single-task TopK merge."""
    ids = [
        r[0]
        for r in docs.select(id_col)
        .orderBy(F.md5(F.col(id_col).cast("string")), id_col)
        .limit(sample)
        .collect()
    ]
    return docs.select(id_col, text_col).filter(F.col(id_col).isin(ids))


def lsh_recall_report(
    docs: DataFrame,
    num_hashes: int = 128,
    band_size: int = 8,
    threshold: float = 0.8,
    sample: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    scheme: str = "classic",
) -> DataFrame:
    """Acceptance gate for the banded MinHash-LSH screen — the
    near-dup analogue of `ann_recall_report`: on a deterministic
    md5-ordered document sample, compare the LSH candidate pairs
    against the EXACT all-pairs Jaccard ground truth. One row:
    sample size, true pairs (exact Jaccard >= threshold), candidate
    pairs the banding surfaced, hits (true ∩ candidate),
    `recall_ppm` (of real near-dup pairs, how many the screen
    catches — the number the num_hashes/band_size S-curve promises)
    and `screen_precision_ppm` (of surfaced candidates, how many
    verify — the banding selectivity that prices the verify stage).

    Scale: the ground truth is all-pairs EXACT Jaccard, so it runs on
    a SAMPLE by construction — sample^2/2 pairs via a broadcast
    nested-loop self-join (the knn ground-truth shape), never the
    corpus; the audited LSH pipeline runs on the same sample. The
    operator takes the frame, so the sampling frame IS the argument
    at 100 TB (stratify it upstream if one slice matters)."""
    samp = _md5_topk_sample(docs, sample, id_col, text_col)
    # spread=False + coalesce(1): the sample is `sample` rows — one
    # partition is the right layout (see token_hashes docstring).
    base = token_hashes(
        samp.coalesce(1), text_col=text_col, id_col=id_col, spread=False
    ).persist()
    try:
        sigs = signature_fn(scheme)(
            base, num_hashes=num_hashes, hashes_col="toks", id_col=id_col
        )
        # two consumers (the candidate count and the hits semi-join)
        # — persist, or the banding join runs twice
        cand = lsh_candidate_pairs(
            sigs, id_col=id_col, num_hashes=num_hashes, band_size=band_size
        ).persist()
        ta = base.select(
            F.col(id_col).alias("doc_a"), F.col("toks").alias("__ta")
        )
        tb = base.select(
            F.col(id_col).alias("doc_b"), F.col("toks").alias("__tb")
        )
        inter = F.size(F.array_intersect(F.col("__ta"), F.col("__tb")))
        jac = F.round(
            inter
            / (F.size("__ta") + F.size("__tb") - inter).cast("double"),
            6,
        )
        truth = (
            ta.join(F.broadcast(tb), F.col("doc_a") < F.col("doc_b"))
            .filter(jac >= F.lit(threshold))
            .select("doc_a", "doc_b")
        )
        hits = truth.join(cand, ["doc_a", "doc_b"], "left_semi")
        n = lambda df, a: df.agg(F.count(F.lit(1)).alias(a))  # noqa: E731
        out = (
            n(base, "n_sample")
            .crossJoin(F.broadcast(n(truth, "n_true")))
            .crossJoin(F.broadcast(n(cand, "n_candidates")))
            .crossJoin(F.broadcast(n(hits, "n_hits")))
            .select(
                "n_sample",
                "n_true",
                "n_candidates",
                "n_hits",
                F.expr(
                    "(n_hits * 1000000) div greatest(n_true, 1)"
                ).alias("recall_ppm"),
                F.expr(
                    "(n_hits * 1000000) div greatest(n_candidates, 1)"
                ).alias("screen_precision_ppm"),
            )
        )
        # materialize before unpersist: callers get a computed row
        result = out.localCheckpoint()
        cand.unpersist()
        return result
    finally:
        base.unpersist()


def lsh_tuning_report(
    docs: DataFrame,
    configs: tuple[tuple, ...] = (
        (16, 8),
        (16, 4),
        (64, 8),
        (128, 8),
        ("oph", 128, 8),
    ),
    threshold: float = 0.8,
    sample: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The banding knob table: `lsh_recall_report`'s audit swept over
    several (num_hashes, band_size) configurations against ONE shared
    sample and ground truth — one row per config with recall_ppm and
    screen_precision_ppm, so choosing the S-curve tradeoff is reading
    a table instead of rerunning pipelines. The sweep varies
    num_hashes AT FIXED band size as well as band size at fixed
    num_hashes: widening bands at fixed k (16,4) buys recall only by
    collapsing per-band selectivity (candidates explode), while more
    hashes at fixed r=8 (64/128) climb the S-curve with the SAME
    per-band selectivity — (128, 8) is the production default
    (measured 99%+ recall at j=0.8 on the sf0.01 fixture vs ~46% for
    the old (16, 8)). The sweep also prices the SIGNATURE SCHEME
    (3-tuples: (scheme, k, r)) — the one-permutation row shows what
    the O(tokens) signature pass costs in screen precision at the
    same banding. Sample-bounded like the single-config audit:
    the tokenize/truth pass happens once, each config adds only its
    signature projection + band self-join over `sample` rows."""
    samp = _md5_topk_sample(docs, sample, id_col, text_col)
    # spread=False + coalesce(1): one partition for the 64-row
    # sample, so the config branches are 1-task stages (see
    # token_hashes docstring).
    base = token_hashes(
        samp.coalesce(1), text_col=text_col, id_col=id_col, spread=False
    ).persist()
    try:
        ta = base.select(
            F.col(id_col).alias("doc_a"), F.col("toks").alias("__ta")
        )
        tb = base.select(
            F.col(id_col).alias("doc_b"), F.col("toks").alias("__tb")
        )
        inter = F.size(F.array_intersect(F.col("__ta"), F.col("__tb")))
        jac = F.round(
            inter
            / (F.size("__ta") + F.size("__tb") - inter).cast("double"),
            6,
        )
        truth = (
            ta.join(F.broadcast(tb), F.col("doc_a") < F.col("doc_b"))
            .filter(jac >= F.lit(threshold))
            .select("doc_a", "doc_b")
            .persist()
        )
        spark = docs.sparkSession
        # ONE action AND ONE join for the whole sweep (r12): every
        # config's banding melts to the same (band_id, band_key) row
        # shape (`md5_band_rows` — the per-band-join and melted
        # forms emit the identical pair SET, see
        # `lsh_candidate_pairs`), so the configs union into one
        # config-tagged band frame and the whole sweep is a single
        # self-join on (cfg, band_id, band_key) + one grouped
        # aggregate. The r11 form ran a separate
        # signature->band->self-join->aggregate chain per config —
        # ~25 of the query's 33 stages were those five branches, and
        # with ~0.15 s of fixed per-stage cost on a 64-doc sample
        # the stage count WAS the cost (driver-measured 5.3 s against
        # ~1.3 s of actual CPU). The union's branches share only the
        # PERSISTED `base`, so the per-branch re-evaluation hazard
        # that killed the r9 band melt does not apply; the unioned
        # band frame is itself persisted because the self-join reads
        # it twice.
        marked = truth.withColumn("__t", F.lit(1))
        metas = []
        band_parts = []
        for i, cfg in enumerate(configs):
            # 2-tuples default to the classic scheme; 3-tuples name
            # it explicitly: (scheme, num_hashes, band_size)
            if len(cfg) == 2:
                scheme, (num_hashes, band_size) = "classic", cfg
            else:
                scheme, num_hashes, band_size = cfg
            metas.append((i, scheme, num_hashes, band_size))
            sigs = signature_fn(scheme)(
                base, num_hashes=num_hashes, hashes_col="toks",
                id_col=id_col,
            )
            band_parts.append(
                md5_band_rows(sigs, num_hashes, band_size, id_col)
                .select(
                    F.lit(i).alias("__cfg"),
                    F.col(id_col),
                    "band_id",
                    "band_key",
                )
            )
        bands = band_parts[0]
        for p in band_parts[1:]:
            bands = bands.unionByName(p)
        bands = bands.persist()
        try:
            a2, b2 = bands.alias("a"), bands.alias("b")
            cand = (
                a2.join(
                    F.broadcast(b2),
                    (F.col("a.__cfg") == F.col("b.__cfg"))
                    & (F.col("a.band_id") == F.col("b.band_id"))
                    & (F.col("a.band_key") == F.col("b.band_key"))
                    & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
                )
                .select(
                    F.col("a.__cfg").alias("__cfg"),
                    F.col(f"a.{id_col}").alias("doc_a"),
                    F.col(f"b.{id_col}").alias("doc_b"),
                )
                .distinct()
            )
            sweep = (
                cand.join(F.broadcast(marked), ["doc_a", "doc_b"], "left")
                .groupBy("__cfg")
                .agg(
                    F.count(F.lit(1)).alias("n_cand"),
                    F.count("__t").alias("n_hits"),
                )
            )
            # the (n_true, n_sample) totals ride along as a sentinel
            # row so the whole report is ONE action instead of two
            totals = (
                truth.agg(F.count(F.lit(1)).alias("n_cand"))
                .crossJoin(base.agg(F.count(F.lit(1)).alias("n_hits")))
                .select(F.lit(-1).alias("__cfg"), "n_cand", "n_hits")
            )
            collected = sweep.unionByName(totals).collect()
        finally:
            bands.unpersist()
        by_cfg = {
            int(r["__cfg"]): (int(r["n_cand"]), int(r["n_hits"]))
            for r in collected
        }
        n_true, n_sample = by_cfg.pop(-1)
        # a config whose banding surfaced no candidates has no group
        # row — it reports (0, 0), same as the old per-config agg.
        rows = [
            (s, k, b, *by_cfg.get(i, (0, 0))) for i, s, k, b in metas
        ]
        truth.unpersist()
        return local_df(
            spark,
            [
                (
                    s, k, b, n_sample, n_true, nc, nh,
                    (nh * 1_000_000) // max(n_true, 1),
                    (nh * 1_000_000) // max(nc, 1),
                )
                for s, k, b, nc, nh in rows
            ],
            "scheme string, num_hashes int, band_size int, "
            "n_sample long, n_true long, "
            "n_candidates long, n_hits long, recall_ppm long, "
            "screen_precision_ppm long",
        )  # LocalTableScan: JVM-resident, worker-free actions
    finally:
        base.unpersist()
