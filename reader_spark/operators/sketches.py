"""Frequency-sketch operators: exact heavy hitters without a
full-vocabulary shuffle.

The reference has no sketch layer (its aggregates are row-level CDC
ops); this module is part of the beyond-reference training-data
toolkit (BASELINE.json north star): finding the dominant tokens /
n-grams / URLs / boilerplate phrases of a web-scale corpus is the
first step of tokenizer design, boilerplate stripping, and template
dedup — and the naive `groupBy(term).count()` shuffles the ENTIRE
long tail (billions of distinct n-grams at 100 TB) to answer a
question about the top handful.

`heavy_hitters` is the classic two-pass exact algorithm:

1. **Candidate pass** — a Misra-Gries summary of size k per
   partition (`mapInPandas`, state local to the partition iterator).
   MG guarantees every item with local frequency > n_p/(k+1) survives
   its partition summary; summing the guarantee over partitions,
   every item with GLOBAL frequency > n/(k+1) (and a fortiori every
   item with freq*k > n) appears in at least one partition's
   candidate set. Candidate volume leaving the stage is <= P*k rows
   regardless of corpus or vocabulary size.
2. **Exact recount** — the corpus is re-tokenized, broadcast-semi-
   restricted to the candidate set, and counted. The shuffle after
   the map-side combine carries at most P*k rows. The final
   `cnt * k > total` filter makes the OUTPUT exact and
   partition-layout-invariant: candidates vary with how the scan is
   split, the answer never does.

Scale: no stage materializes anything vocabulary-sized; both corpus
passes are scan + narrow ops; the only shuffles move O(P*k) rows.
The second pass re-reads the corpus rather than persisting the
tokenized frame — at 100 TB the rescan is cheaper than caching a
corpus-sized intermediate, and the scan stays whole-stage-codegen'd.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from reader_spark.operators import dedup as DD

_CAND_SCHEMA = T.StructType([T.StructField("term", T.StringType())])


def _ngram_terms(text_col: str, n: int) -> Column:
    """Whitespace n-gram terms of `text_col` as an array column —
    built from one split, shifted slices zipped in the scan stage
    (the pmi_bigrams shape, generalized)."""
    ws = F.split(F.col(text_col), " ")
    if n == 1:
        return ws
    parts = [F.slice(ws, i + 1, F.size(ws) - (n - 1)) for i in range(n)]
    zipped = F.arrays_zip(*[p.alias(f"g{i}") for i, p in enumerate(parts)])
    return F.transform(
        zipped, lambda s: F.concat_ws(" ", *[s[f"g{i}"] for i in range(n)])
    )


def misra_gries_candidates(tok: DataFrame, k: int) -> DataFrame:
    """Per-partition Misra-Gries summaries of size k over a `term`
    column; output is the union of every partition's surviving keys
    (<= P*k rows). Plain Python dict arithmetic over Arrow batches —
    the state is O(k) per partition no matter how large the
    partition's term stream is."""

    def op(batches: Iterator) -> Iterator:
        import pandas as pd

        counters: dict[str, int] = {}
        for pdf in batches:
            for t in pdf["term"]:
                if t in counters:
                    counters[t] += 1
                elif len(counters) < k:
                    counters[t] = 1
                else:
                    dead = []
                    for key in counters:
                        counters[key] -= 1
                        if counters[key] == 0:
                            dead.append(key)
                    for key in dead:
                        del counters[key]
        yield pd.DataFrame({"term": list(counters.keys())})

    return tok.mapInPandas(op, schema=_CAND_SCHEMA)


def heavy_hitters(
    docs: DataFrame,
    k: int = 50,
    ngram: int = 1,
    text_col: str = "text",
) -> DataFrame:
    """EXACT phi-frequent terms: every whitespace `ngram`-gram whose
    corpus count satisfies cnt * k > total_terms, with its exact
    count and share — computed with two corpus scans and O(P*k)
    shuffle rows (never a vocabulary-wide shuffle). See the module
    docstring for the guarantee."""
    terms = DD.ensure_parallelism(docs).select(
        F.explode(_ngram_terms(text_col, ngram)).alias("term")
    )
    cands = misra_gries_candidates(terms, k).distinct()
    total = terms.agg(F.count("*").alias("total_terms"))
    return (
        terms.join(F.broadcast(cands), "term")
        .groupBy("term")
        .agg(F.count("*").alias("cnt"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("cnt") * k > F.col("total_terms"))
        .select(
            "term",
            "cnt",
            "total_terms",
            F.round(F.col("cnt") / F.col("total_terms"), 6).alias("share"),
        )
    )


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) distinct sketch: deterministic + mergeable


def kmv_hash(c: Column, salt: str = "kmv") -> Column:
    """60-bit md5-derived hash in [0, 2^60) — deterministic, shared
    with the DuckDB oracle (queries.kmv_distinct)."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt + ":"), c.cast("string"))), 1, 15
            ),
            16,
            10,
        ).cast("long")
    )


def kmv_tiles(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    k: int = 64,
) -> DataFrame:
    """Per-tile KMV sketch: for each key group, the sorted list of
    its k smallest distinct hash values (shorter if the group has
    fewer). The tile IS the mergeable state a warehouse stores per
    (hour, dimension) cell.

    Scale: one distinct + one groupBy whose per-group state is
    bounded at k longs by `slice(array_sort(collect_set), 1, k)` —
    at extreme group cardinality swap collect_set for the bounded
    mapInPandas combine (misra_gries_candidates shape)."""
    hashed = df.select(
        *key_cols, kmv_hash(F.col(value_col)).alias("h")
    ).distinct()
    return hashed.groupBy(*key_cols).agg(
        F.slice(F.array_sort(F.collect_set("h")), 1, k).alias("kmv")
    )


# ---------------------------------------------------------------------------
# Count-Min sketch: deterministic, mergeable, point-queryable


def cms_hash(c: Column, row: int, width: int) -> Column:
    """Row-`row`'s hash of a term into [0, width) — md5-derived with
    a per-row salt, identical arithmetic in the DuckDB oracle."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"cms{row}:"), c.cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % width
    )


def count_min_tiles(
    tokens: DataFrame,
    term_col: str = "term",
    width: int = 256,
    depth: int = 4,
) -> DataFrame:
    """Count-Min sketch as a (row, col, cnt) counter frame: every
    token increments one cell per hash row. ONE corpus pass — the
    depth cells per token explode from an array literal inside the
    scan stage — then a groupBy bounded by width*depth cells
    regardless of vocabulary size (the state bound Misra-Gries gives
    for top-k, here for POINT queries over any term).

    Mergeable: counters of two corpora add cell-wise (union +
    re-aggregate = sketch of the union), so per-shard/per-hour tiles
    roll up exactly like kmv_tiles. Deterministic md5 hashing makes
    the sketch VALUE oracle-checkable, same contract as KMV."""
    cells = F.array(
        *[
            F.struct(
                F.lit(j).alias("row"),
                cms_hash(F.col(term_col), j, width).alias("col"),
            )
            for j in range(depth)
        ]
    )
    return (
        tokens.select(F.explode(cells).alias("rc"))
        .groupBy(F.col("rc.row").alias("row"), F.col("rc.col").alias("col"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def count_min_estimate(
    tiles: DataFrame,
    terms: DataFrame,
    term_col: str = "term",
    width: int = 256,
    depth: int = 4,
) -> DataFrame:
    """Point-frequency estimates: est(term) = min over hash rows of
    the term's counter — the classic CMS upper bound (est >= true,
    over-counting only from collisions). The probe side is
    tiny-by-construction (the terms you ask about), so the plan is a
    broadcast join of probe cells against the width*depth counter
    frame + a per-term min."""
    cells = F.array(
        *[
            F.struct(
                F.lit(j).alias("row"),
                cms_hash(F.col(term_col), j, width).alias("col"),
            )
            for j in range(depth)
        ]
    )
    probe = terms.select(
        term_col, F.explode(cells).alias("rc")
    ).select(term_col, F.col("rc.row").alias("row"), F.col("rc.col").alias("col"))
    return (
        probe.join(tiles, ["row", "col"], "left")
        .groupBy(term_col)
        .agg(F.min(F.coalesce("cnt", F.lit(0))).alias("cms_est"))
    )


def cms_tiles_write(
    tokens: DataFrame, path: str, width: int = 256, depth: int = 4
) -> None:
    """Materialize a Count-Min counter frame (seed build — also the
    REBUILD verb, the delete path for a monotone sketch) behind the
    same atomic pointer flip the update path uses: a rebuild over an
    already-maintained (pointer-published) table must retire the old
    counters atomically, never leave readers a half-written bare
    overwrite. `_epoch` restarts at -1 so stream maintainers resume
    cleanly against the rebuilt table."""
    from reader_spark.operators import atomic_dir

    tiles = count_min_tiles(tokens, width=width, depth=depth)

    def write_fn(vdir: str) -> None:
        tiles.coalesce(1).write.mode("overwrite").parquet(vdir)
        atomic_dir.write_epoch(vdir, -1)

    atomic_dir.publish(path, write_fn)


def cms_tiles_update(
    spark, path: str, new_tokens: DataFrame,
    term_col: str = "term", width: int = 256, depth: int = 4,
    epoch: int | None = None,
) -> None:
    """Incremental CMS maintenance: sketch the delta, add cell-wise
    into the stored counters (CMS merge is exact — update == rebuild
    over the concatenated corpus, asserted in test_sketches.py).
    The rewrite touches a width*depth-cell frame — a few KB — so
    unlike the bm25/ivf indexes there is nothing to partition; the
    atomic pointer-flip publish (operators/atomic_dir.py) keeps
    readers consistent and crashes recoverable. Read the sketch back
    with `cms_tiles_read`.

    Counters are NOT idempotent, so crash-replay protection comes
    from `epoch` (the foreachBatch batch id): the marker publishes
    ATOMICALLY with the counters, an already-applied epoch is
    skipped, and a crash mid-publish leaves the previous
    counters+epoch live — exactly-once under replay."""
    from reader_spark.operators import atomic_dir

    stamp = atomic_dir.epoch_gate(atomic_dir.resolve(path), epoch)
    if stamp is None:
        return
    delta = count_min_tiles(new_tokens, term_col, width, depth)
    merged = (
        cms_tiles_read(spark, path)
        .unionByName(delta)
        .groupBy("row", "col")
        .agg(F.sum("cnt").alias("cnt"))
    )

    def write_fn(vdir: str) -> None:
        merged.coalesce(1).write.mode("overwrite").parquet(vdir)
        atomic_dir.write_epoch(vdir, stamp)

    atomic_dir.publish(path, write_fn)


def cms_tiles_read(spark, path: str):
    """Read a materialized CMS counter frame, resolving the
    pointer-published layout (bare dirs written by `cms_tiles_write`
    read unchanged)."""
    from reader_spark.operators import atomic_dir

    return spark.read.parquet(atomic_dir.resolve(path))


def cms_maintainer(
    path: str, term_col: str = "term", width: int = 256, depth: int = 4
):
    """`foreachBatch` body keeping a materialized CMS fresh from a
    token STREAM — the point-query companion of
    `heavy_hitters_stream` (bounded state there, bounded COUNTERS
    here; both survive unbounded vocabularies). Crash-replayed
    micro-batches are detected by the epoch marker published
    atomically with the counters (exactly-once under replay); only
    genuinely duplicated DATA upstream can still double-count."""

    def body(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        cms_tiles_update(
            batch_df.sparkSession, path, batch_df, term_col, width, depth,
            epoch=batch_id,
        )

    return body


# ---------------------------------------------------------------------------
# bottom-k uniform sample: deterministic, mergeable -> quantile sketch


def bottomk_sample_tiles(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    k: int = 128,
    salt: str = "bks",
    id_col: str | None = None,
) -> DataFrame:
    """Per-tile uniform sample: for each key group, the rows whose
    md5 draw ranks in the group's bottom k. A bottom-k-by-uniform-
    hash sample is a true uniform sample of the group AND merges
    exactly (the union's bottom k is contained in the union of
    per-tile bottom k's — the KMV argument), so per-hour/per-shard
    tiles roll up into exact whole-corpus samples. Deterministic
    hashing makes tile CONTENTS oracle-checkable.

    With `id_col` the draw keys on ROW identity — a uniform sample
    of the value DISTRIBUTION (what quantile estimation wants).
    Without it the draw keys on the value itself and duplicates
    collapse (distinct) — a sample of the value SET, the
    distinct-weighted variant (rare values as likely as common).

    The sample is stored as (draw, value) structs sorted by draw —
    quantiles read off the sample's values.

    Scale: one groupBy whose per-group state is k structs
    (slice(array_sort(collect_list))); at extreme group cardinality
    swap for the bounded mapInPandas combine (misra_gries shape)."""
    draw_key = F.col(id_col) if id_col else F.col("v")
    draw = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt + ":"), draw_key.cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
    )
    base = df.select(
        *key_cols,
        F.col(value_col).alias("v"),
        *([F.col(id_col)] if id_col else []),
    ).withColumn("d", draw)
    if not id_col:
        base = base.distinct()
    else:
        base = base.drop(id_col)
    return base.groupBy(*key_cols).agg(
        F.slice(
            F.array_sort(F.collect_list(F.struct(F.col("d"), F.col("v")))),
            1,
            k,
        ).alias("sample")
    )


def quantiles_from_tiles(
    tiles: DataFrame, probs: list[float]
) -> DataFrame:
    """Read quantile estimates off each tile's sample values using the
    NEAREST-RANK definition (value at rank ceil(p*n) of the ascending
    sort): the estimate IS one of the sampled input values, so oracle
    comparison is exact equality on a datum both engines read from
    parquet — no interpolated double at the query edge (SCALE.md
    float-parity rule)."""
    keys = [c for c in tiles.columns if c != "sample"]
    out = tiles.withColumn(
        "__vals", F.array_sort(F.expr("transform(sample, s -> s.v)"))
    )
    cols = [
        F.expr(
            "element_at(__vals, greatest(1, "
            f"cast(ceil({p} * size(__vals)) as int)))"
        ).alias(f"p{int(p * 100)}")
        for p in probs
    ]
    return out.select(
        *keys, F.size("__vals").cast("long").alias("n_sampled"), *cols
    )


def kmv_overlap(tiles: DataFrame, key_col: str, k: int = 64) -> DataFrame:
    """Pairwise set-overlap estimates between key groups from their
    KMV sketches ALONE — the bounded-state alternative to the exact
    overlap join. For each unordered group pair: take the k smallest
    of the two sketches' union (the union's own KMV sketch — exact,
    because the global k smallest live inside the per-group k
    smallest), count how many of those appear in BOTH sketches, and
    estimate Jaccard = n_common / m (the classic KMV resemblance
    estimator; exact when the union is smaller than k).

    Integer output (ppm) per the repo float rule, bit-reproducible
    in the oracle: the hashes are deterministic md5, so the sketch —
    not just the query around it — is value-checked.

    Scale: the expensive part is building `tiles` (one distinct +
    one bounded groupBy, state k longs per group); this step joins
    only the GROUP-count-sized sketch table with itself — at 100 TB
    the sources/splits axis is hundreds of rows, so the pair join is
    a broadcast nested loop over kilobytes, and the underlying
    corpora are never compared row-to-row."""
    a = tiles.select(F.col(key_col).alias("key_a"), F.col("kmv").alias("ka"))
    b = tiles.select(F.col(key_col).alias("key_b"), F.col("kmv").alias("kb"))
    staged = (
        a.join(b, F.col("key_a") < F.col("key_b"))
        .select(
            "key_a",
            "key_b",
            "ka",
            "kb",
            F.slice(
                F.array_sort(F.array_union(F.col("ka"), F.col("kb"))), 1, k
            ).alias("u"),
        )
        .select(
            "key_a",
            "key_b",
            F.size("u").alias("m"),
            F.size(
                F.array_intersect(F.array_intersect(F.col("u"), F.col("ka")), F.col("kb"))
            ).cast("long").alias("n_common"),
        )
    )
    return staged.select(
        "key_a",
        "key_b",
        F.col("m").cast("long").alias("m"),
        "n_common",
        F.expr("(n_common * 1000000) div m").alias("jaccard_est_ppm"),
    )


def kmv_tiles_write(
    df: DataFrame, path: str, key_cols: list[str], value_col: str,
    k: int = 64,
) -> None:
    """Materialize the per-key KMV sketch table (kmv_tiles) behind an
    atomic pointer flip — the stored side of a maintained distinct /
    overlap dashboard. Read back with `kmv_tiles_read`."""
    from reader_spark.operators import atomic_dir

    tiles = kmv_tiles(df, key_cols, value_col, k)

    def write_fn(vdir: str) -> None:
        tiles.coalesce(1).write.mode("overwrite").parquet(vdir)
        atomic_dir.write_epoch(vdir, -1)

    atomic_dir.publish(path, write_fn)


def kmv_tiles_read(spark, path: str) -> DataFrame:
    """Read a materialized KMV tile table (pointer-resolved)."""
    from reader_spark.operators import atomic_dir

    return spark.read.parquet(atomic_dir.resolve(path))


def kmv_tiles_update(
    spark, path: str, batch: DataFrame, key_cols: list[str],
    value_col: str, k: int = 64, epoch: int | None = None,
) -> None:
    """Incremental KMV maintenance: sketch the delta and merge tile-
    wise with the stored table (union hashes, keep the k smallest —
    EXACT, the KMV containment property: update == rebuild over
    the concatenated corpus, asserted in test_sketches.py). The
    rewrite touches a key-count-sized frame of k-long arrays — KB,
    nothing to partition; the pointer flip keeps readers consistent.

    KMV merge is idempotent (re-merging the same hashes changes
    nothing), but the epoch marker still gates replays for symmetry
    with the CMS/health maintainers and to skip the wasted work."""
    from reader_spark.operators import atomic_dir

    stamp = atomic_dir.epoch_gate(atomic_dir.resolve(path), epoch)
    if stamp is None:
        return
    delta = kmv_tiles(batch, key_cols, value_col, k)
    merged = (
        kmv_tiles_read(spark, path)
        .unionByName(delta)
        .select(*key_cols, F.explode("kmv").alias("h"))
        .distinct()
        .groupBy(*key_cols)
        .agg(F.slice(F.array_sort(F.collect_set("h")), 1, k).alias("kmv"))
    )

    def write_fn(vdir: str) -> None:
        merged.coalesce(1).write.mode("overwrite").parquet(vdir)
        atomic_dir.write_epoch(vdir, stamp)

    atomic_dir.publish(path, write_fn)


def kmv_maintainer(
    path: str, key_cols: list[str], value_col: str, k: int = 64
):
    """`foreachBatch` body keeping a materialized KMV tile table
    fresh from a stream — the overlap/distinct dashboard member of
    the maintainer family: `kmv_overlap(kmv_tiles_read(...))` gives
    the cross-key overlap matrix at any moment from KB of state,
    and the merge is exact (not approximate-on-approximate).

        rows.writeStream.foreachBatch(
            kmv_maintainer(path, ["source"], "text")).start()
    """

    def body(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        kmv_tiles_update(
            batch_df.sparkSession, path, batch_df, key_cols, value_col,
            k=k, epoch=batch_id,
        )

    return body


def bottomk_tiles_write(
    df: DataFrame, path: str, key_cols: list[str], value_col: str,
    k: int = 128, id_col: str | None = None,
) -> None:
    """Materialize the per-key bottom-k sample table behind an atomic
    pointer flip — the stored side of maintained quantiles/previews.
    Read back with `bottomk_tiles_read`."""
    from reader_spark.operators import atomic_dir

    tiles = bottomk_sample_tiles(df, key_cols, value_col, k, id_col=id_col)

    def write_fn(vdir: str) -> None:
        tiles.coalesce(1).write.mode("overwrite").parquet(vdir)
        atomic_dir.write_epoch(vdir, -1)

    atomic_dir.publish(path, write_fn)


def bottomk_tiles_read(spark, path: str) -> DataFrame:
    """Read a materialized bottom-k sample table (pointer-resolved);
    feed straight into `quantiles_from_tiles`."""
    from reader_spark.operators import atomic_dir

    return spark.read.parquet(atomic_dir.resolve(path))


def bottomk_tiles_update(
    spark, path: str, batch: DataFrame, key_cols: list[str],
    value_col: str, k: int = 128, id_col: str | None = None,
    epoch: int | None = None,
) -> None:
    """Incremental maintenance of the stored sample: sketch the delta
    and keep each key's global bottom k of the union — EXACT (the
    union's bottom k is contained in the sides' bottom k's), so the
    maintained sample equals a direct sample over the whole corpus
    row-for-row, and quantiles read off it are the same data. KB of
    state per key; pointer flip + epoch replay gate (the merge is
    idempotent — the gate just skips wasted work)."""
    from reader_spark.operators import atomic_dir

    stamp = atomic_dir.epoch_gate(atomic_dir.resolve(path), epoch)
    if stamp is None:
        return
    delta = bottomk_sample_tiles(batch, key_cols, value_col, k, id_col=id_col)
    merged = (
        bottomk_tiles_read(spark, path)
        .unionByName(delta)
        .select(*key_cols, F.explode("sample").alias("s"))
        .distinct()
        .groupBy(*key_cols)
        .agg(F.slice(F.array_sort(F.collect_list("s")), 1, k).alias("sample"))
    )

    def write_fn(vdir: str) -> None:
        merged.coalesce(1).write.mode("overwrite").parquet(vdir)
        atomic_dir.write_epoch(vdir, stamp)

    atomic_dir.publish(path, write_fn)


def bottomk_maintainer(
    path: str, key_cols: list[str], value_col: str, k: int = 128,
    id_col: str | None = None,
):
    """`foreachBatch` body keeping a materialized bottom-k sample
    fresh from a stream — maintained QUANTILES (and data previews)
    from KB of state: `quantiles_from_tiles(bottomk_tiles_read(...))`
    at any moment equals quantiles off a direct sample of everything
    ever streamed (exact merge, not approximate-on-approximate).

        rows.writeStream.foreachBatch(
            bottomk_maintainer(path, ["event_type"], "value",
                               id_col="event_id")).start()
    """

    def body(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        bottomk_tiles_update(
            batch_df.sparkSession, path, batch_df, key_cols, value_col,
            k=k, id_col=id_col, epoch=batch_id,
        )

    return body


def quantile_drift_from_tiles(
    ref_tiles: DataFrame,
    cur_tiles: DataFrame,
    probs: tuple[float, ...] = (0.5, 0.9, 0.99),
    alert_ppm: int = 100_000,
) -> DataFrame:
    """Maintained quantile drift: per key, compare nearest-rank
    quantiles read off a REFERENCE bottom-k tile table against a
    CURRENT one (both maintained by `bottomk_maintainer` /
    rebuilt by the sketch job) — the drift verdict costs two
    KB-sized tile reads, never a corpus scan; the corpus-priced path
    (`drift_report_quantiles`) is for ad-hoc waves, this is the
    standing dashboard. Per key and quantile: both values, the
    relative shift in integer ppm of the reference magnitude, and a
    drifted flag when any quantile's shift clears `alert_ppm`. A key
    present in only one table still gets a row (missing side NULL,
    drifted=true — a vanished key IS the drift)."""
    keys = [c for c in ref_tiles.columns if c != "sample"]

    def q(tiles, tag):
        out = quantiles_from_tiles(tiles, list(probs))
        renames = {"n_sampled": f"n_{tag}"}
        renames.update(
            {f"p{int(p * 100)}": f"p{int(p * 100)}_{tag}" for p in probs}
        )
        for old, new in renames.items():
            out = out.withColumnRenamed(old, new)
        return out

    j = q(ref_tiles, "ref").join(q(cur_tiles, "cur"), keys, "full_outer")
    rel = [
        F.ceil(
            F.abs(
                F.col(f"p{int(p * 100)}_ref") - F.col(f"p{int(p * 100)}_cur")
            )
            / F.greatest(F.abs(F.col(f"p{int(p * 100)}_ref")), F.lit(1e-12))
            * F.lit(1_000_000)
        ).cast("long")
        for p in probs
    ]
    worst = F.greatest(*rel) if len(rel) > 1 else rel[0]
    return j.select(
        *keys,
        F.coalesce(F.col("n_ref"), F.lit(0)).alias("n_ref"),
        F.coalesce(F.col("n_cur"), F.lit(0)).alias("n_cur"),
        *[F.col(f"p{int(p * 100)}_ref") for p in probs],
        *[F.col(f"p{int(p * 100)}_cur") for p in probs],
        worst.alias("max_rel_ppm"),
        F.when(
            (F.coalesce(F.col("n_ref"), F.lit(0)) == 0)
            | (F.coalesce(F.col("n_cur"), F.lit(0)) == 0),
            F.lit(True),
        )
        .otherwise(worst > F.lit(alert_ppm))
        .alias("drifted"),
    )


def quantile_drift_watch(
    ref_path: str,
    cur_path: str,
    log_path: str,
    key_cols: list[str],
    value_col: str,
    k: int = 128,
    id_col: str | None = None,
    probs: tuple[float, ...] = (0.5, 0.9, 0.99),
    alert_ppm: int = 100_000,
):
    """`foreachBatch` body for STREAMING quantile drift: each
    micro-batch folds into the current bottom-k tile table
    (`bottomk_tiles_update` — exact containment merge, epoch-gated
    against crash replay) and the per-key drift verdict vs the
    published REFERENCE tiles is logged, partitioned by batch id
    with dynamic overwrite (replay REPLACES the batch's rows — the
    drift-watch family contract). Per batch the work is one delta
    sketch + two KB-sized tile reads; neither corpus is ever
    rescanned. An empty batch still logs the standing verdict (the
    tiles didn't move, but the row proves the watch ran)."""

    def body(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if not batch_df.isEmpty():
            bottomk_tiles_update(
                spark, cur_path, batch_df, key_cols, value_col,
                k=k, id_col=id_col, epoch=batch_id,
            )
        from reader_spark.operators.similarity import log_batch_verdict

        log_batch_verdict(
            quantile_drift_from_tiles(
                bottomk_tiles_read(spark, ref_path),
                bottomk_tiles_read(spark, cur_path),
                probs=probs,
                alert_ppm=alert_ppm,
            ),
            batch_id,
            log_path,
        )

    return body


# ---------------------------------------------------------------------------
# Bloom filter: the seen-set membership gate as relational algebra


BLOOM_WORD_BITS = 60  # shifts stay in [0, 59]: no sign-bit games in
#                       either engine (DuckDB raises on 1::BIGINT<<63)


def bloom_positions(c: Column, m_words: int, k_hashes: int) -> list[Column]:
    """The k bit positions of a key in an m_words x 60-bit filter —
    md5-derived with a per-hash salt (`kmv_hash` arithmetic), so the
    DuckDB oracle reproduces every position exactly."""
    m_bits = m_words * BLOOM_WORD_BITS
    return [
        kmv_hash(c, salt=f"bloom{i}") % m_bits for i in range(k_hashes)
    ]


def _bits_per_key_micro(target_fp: float) -> int:
    """-ln(p)/ln(2)^2 as a micro-scaled integer literal. Fixing the
    float math HERE (driver-side python, once) means the geometry
    arithmetic downstream is pure integer — reproducible verbatim in
    SQL with the same interpolated constant, never a cross-engine
    ulp away from a different ceil."""
    import math

    # 3% over the optimum: k is rounded to an integer, which alone
    # can leave the realized fp a hair past the budget at the exact
    # optimum; the margin keeps the guarantee strict (fp shrinks
    # ~2^(-0.03 * bits-per-key * ln 2) ~= 0.66x at 1e-6).
    return math.ceil(
        -math.log(target_fp) / (math.log(2.0) ** 2) * 1.03 * 1_000_000
    )


def bloom_geometry(
    n_keys: int, target_fp: float = 1e-6
) -> tuple[int, int]:
    """Optimal Bloom geometry for `n_keys` at `target_fp`:
    m_bits = ceil(n * -ln(p)/ln(2)^2 * 1.03) via integer-scaled
    arithmetic ((n*micro + 999_999) DIV 1_000_000), k = round(ln(2)
    * bits-per-key) — the standard optimum plus the 3% rounding
    margin, where the per-probe fp is (1 - e^(-kn/m))^k. At 1e-6
    that is ~29.62 bits per key and k = 21: a 10^7-key gate is
    ~37 MB of raw bitmap (~79 MB as (word, bits) rows — two longs
    carry 60 payload bits), comfortably broadcastable; a 10^9-key
    gate is ~3.7 GB of bitmap (~7.9 GB of rows) — past
    BROADCAST_BYTE_CAP, where the probe correctly degrades to the
    shuffle join, or the operator trades fp budget for size
    (1e-3 -> ~14.8 bits/key) / shards the filter by key range."""
    import math

    n = max(1, int(n_keys))
    micro = _bits_per_key_micro(target_fp)
    m_bits = (n * micro + 999_999) // 1_000_000
    m_words = (m_bits + BLOOM_WORD_BITS - 1) // BLOOM_WORD_BITS
    k_hashes = max(1, round(math.log(2.0) * micro / 1_000_000))
    return m_words, k_hashes


def bloom_tiles(
    df: DataFrame,
    key_col: str,
    m_words: int = 4096,
    k_hashes: int = 5,
) -> DataFrame:
    """Build a Bloom filter as (word, bits) rows — only the non-zero
    words materialize, so the artifact is <= min(m_words, n*k) rows
    of two longs regardless of corpus size. This is the canonical
    100 TB ingest gate (seen-URL / seen-doc-id screening): the naive
    alternative is an anti-join against the full seen-set — a
    corpus-sized shuffle per wave — while the filter is KB-MB scale,
    broadcastable, and mergeable by word-wise OR.

    Scale shape: one projection to (word, one-bit mask) rows (k rows
    per key, map-only), one map-side-combinable bit_or groupBy on
    the uniform word key. No distinct, no window, no skew (positions
    are md5-uniform). False-positive rate is the standard
    (1 - e^(-kn/m))^k; with the defaults and n = 50k keys it is
    ~1e-6, and `bloom_probe` reports maybe-seen vs definitely-new so
    the caller decides whether maybes get the exact re-check."""
    pos = bloom_positions(F.col(key_col), m_words, k_hashes)
    rows = df.select(
        F.explode(F.array(*pos)).alias("p")
    ).select(
        (F.col("p") / BLOOM_WORD_BITS).cast("long").alias("word"),
        F.expr(
            f"shiftleft(CAST(1 AS BIGINT), CAST(p % {BLOOM_WORD_BITS} AS INT))"
        ).alias("m"),
    )
    return rows.groupBy("word").agg(F.bit_or("m").alias("bits"))


def bloom_merge(tiles: DataFrame) -> DataFrame:
    """Merge any number of Bloom tile sets built with the SAME
    (m_words, k_hashes): word-wise OR. Idempotent and commutative —
    replaying a wave's tiles into the union changes nothing, which
    is the crash-replay story for a maintained seen-set."""
    return tiles.groupBy("word").agg(F.bit_or("bits").alias("bits"))


def bloom_probe(
    keys: DataFrame,
    bloom: DataFrame,
    key_col: str,
    m_words: int = 4096,
    k_hashes: int = 5,
) -> DataFrame:
    """Membership verdict per probe key: `maybe_seen` iff ALL k bit
    positions are set (the Bloom guarantee: definitely-new has zero
    false negatives). ZERO-shuffle plan: k broadcast left joins of
    the word rows (one per hash — the same KB-MB build side each
    time, map-only stages) with the bit tests ANDed in a final
    projection. The explode + groupBy-back-to-key alternative costs
    one shuffle of k rows per probe key — at a 100 TB ingest wave
    that's the wave's own shuffle paid just to re-assemble what was
    never disassembled; the k-join form keeps the wave's
    partitioning untouched end to end."""
    from reader_spark.cache import pin

    # one materialization of the word rows shared by all k joins —
    # without it each join's build side re-runs the tiles plan
    bloom = pin(bloom)
    pos = bloom_positions(F.col(key_col), m_words, k_hashes)
    out = keys.select(
        F.col(key_col), *[p.alias(f"__p{i}") for i, p in enumerate(pos)]
    )
    proj = [F.col(key_col)]
    for i in range(k_hashes):
        proj.append(
            (F.col(f"__p{i}") / BLOOM_WORD_BITS).cast("long").alias(f"__w{i}")
        )
        proj.append(
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), "
                f"CAST(__p{i} % {BLOOM_WORD_BITS} AS INT))"
            ).alias(f"__m{i}")
        )
    out = out.select(*proj)
    hit = None
    for i in range(k_hashes):
        side = F.broadcast(
            bloom.select(
                F.col("word").alias(f"__w{i}"),
                F.col("bits").alias(f"__b{i}"),
            )
        )
        out = out.join(side, f"__w{i}", "left")
        h = (
            F.coalesce(F.col(f"__b{i}"), F.lit(0)).bitwiseAND(
                F.col(f"__m{i}")
            )
            != 0
        )
        hit = h if hit is None else (hit & h)
    # NULL keys: every position is NULL, every bit test NULL — the
    # raw AND would verdict NULL and a `~maybe_seen` gate would
    # silently drop the row. A filter never SAW a NULL key (kmv_hash
    # propagates NULL at build too), so the honest verdict is
    # definitely-new: coalesce to false and let the row flow to the
    # downstream gates.
    return out.select(
        F.col(key_col),
        F.coalesce(hit, F.lit(False)).alias("maybe_seen"),
    )


BLOOM_AUTOSIZE_HEADROOM = 8  # a maintained filter keeps absorbing
#  waves after the first; sizing the first write for 8x its observed
#  keys costs 8 x 3.6 bytes/key at 1e-6 and defers the refit warning
#  by ~3 wave-doublings


def bloom_write(
    df: DataFrame,
    path: str,
    key_col: str,
    m_words: int | None = None,
    k_hashes: int | None = None,
    target_fp: float = 1e-6,
    expected_keys: int | None = None,
) -> None:
    """Materialize the seen-set filter behind an atomic pointer flip
    (the stored side of a dedup-at-ingest gate). Geometry is pinned
    in `_bloom.json` — positions are a function of (m_words,
    k_hashes), so probing or updating with different values would be
    silently meaningless (the `_params.json` lesson from the
    near-dup index, applied at build time here).

    Geometry default (r12): when m_words is omitted it is DERIVED —
    `bloom_geometry` at `target_fp` over `expected_keys` (or, when
    that is omitted too, the wave's observed distinct key count x
    BLOOM_AUTOSIZE_HEADROOM, one count over the wave at write time).
    The pre-r12 fixed 4096x5 default saturated silently past ~50k
    keys; callers with a known corpus size pass `expected_keys`,
    everyone else gets a filter sized to what the first wave actually
    carried. `bloom_update` re-estimates load from the stored bits
    and warns when the fp budget (also pinned) is crossed."""
    import json
    import os

    from reader_spark.operators import atomic_dir

    if m_words is None:
        n = expected_keys
        if n is None:
            observed = df.select(key_col).distinct().count()
            n = max(1, observed) * BLOOM_AUTOSIZE_HEADROOM
        auto_m, auto_k = bloom_geometry(n, target_fp)
        m_words = auto_m
        if k_hashes is None:
            k_hashes = auto_k
    elif k_hashes is None:
        k_hashes = 5  # the pre-r12 pinned default for explicit sizes

    tiles = bloom_tiles(df, key_col, m_words, k_hashes)

    def write_fn(vdir: str) -> None:
        tiles.coalesce(1).write.mode("overwrite").parquet(vdir)
        with open(os.path.join(vdir, "_bloom.json"), "w") as f:
            json.dump(
                {
                    "m_words": m_words,
                    "k_hashes": k_hashes,
                    "target_fp": target_fp,
                    "epoch": -1,
                },
                f,
            )

    atomic_dir.publish(path, write_fn)


def bloom_read(spark, path: str) -> tuple[DataFrame, int, int]:
    """(word-rows frame, m_words, k_hashes) — geometry resolved from
    the pin, never trusted from a caller."""
    import json
    import os

    from reader_spark.operators import atomic_dir

    root = atomic_dir.resolve(path)
    with open(os.path.join(root, "_bloom.json")) as f:
        meta = json.load(f)
    return (
        spark.read.parquet(root),
        int(meta["m_words"]),
        int(meta["k_hashes"]),
    )


def bloom_update(
    spark, path: str, batch: DataFrame, key_col: str,
    epoch: int | None = None,
) -> None:
    """Fold a wave's keys into the stored filter: sketch the delta at
    the PINNED geometry, word-wise OR with the stored rows, republish.
    OR is idempotent, so a crash-replayed wave changes nothing; the
    epoch marker still skips the wasted work (same contract as the
    other sketch maintainers). update == rebuild bit-for-bit
    (bloom_merge's property, asserted in tests)."""
    import json
    import os

    from reader_spark.operators import atomic_dir

    root = atomic_dir.resolve(path)
    with open(os.path.join(root, "_bloom.json")) as f:
        meta = json.load(f)
    if epoch is not None and int(meta.get("epoch", -1)) >= epoch:
        return
    m_words, k_hashes = int(meta["m_words"]), int(meta["k_hashes"])
    merged = bloom_merge(
        spark.read.parquet(root).unionByName(
            bloom_tiles(batch, key_col, m_words, k_hashes)
        )
    )

    def write_fn(vdir: str) -> None:
        merged.coalesce(1).write.mode("overwrite").parquet(vdir)
        with open(os.path.join(vdir, "_bloom.json"), "w") as f:
            json.dump(
                {
                    "m_words": m_words,
                    "k_hashes": k_hashes,
                    "target_fp": meta.get("target_fp", 1e-6),
                    "epoch": epoch if epoch is not None
                    else int(meta.get("epoch", -1)),
                },
                f,
            )

    atomic_dir.publish(path, write_fn)
    _bloom_load_warn(spark, path)


def _bloom_load_warn(spark, path: str) -> None:
    """Post-update load audit: the per-probe fp of a Bloom filter is
    exactly (set-bit fraction)^k in expectation, so one bit_count
    aggregate over the <= m_words stored rows (KB-scale, no corpus
    touch) measures the REAL load — no inserted-key ledger needed,
    which also makes the audit free for legacy artifacts. Warns (does
    not fail: the zero-false-negative guarantee is load-independent)
    when the measured fp crosses the pinned budget — the refit signal
    for the maintained seen-set gate."""
    import json
    import os
    import warnings

    from reader_spark.operators import atomic_dir

    root = atomic_dir.resolve(path)
    with open(os.path.join(root, "_bloom.json")) as f:
        meta = json.load(f)
    m_words, k_hashes = int(meta["m_words"]), int(meta["k_hashes"])
    target = float(meta.get("target_fp", 1e-6))
    set_bits = (
        spark.read.parquet(root)
        .agg(F.sum(F.bit_count(F.col("bits"))))
        .collect()[0][0]
        or 0
    )
    fill = set_bits / float(m_words * BLOOM_WORD_BITS)
    est_fp = fill**k_hashes
    if est_fp > target:
        warnings.warn(
            f"bloom filter at {path} is over its fp budget: "
            f"fill={fill:.3f}, estimated fp={est_fp:.2e} > "
            f"target {target:.0e} (m_words={m_words}, k={k_hashes}) "
            f"— rebuild with bloom_write (autosizes from current "
            f"keys) or route maybes through the exact re-check",
            stacklevel=2,
        )
