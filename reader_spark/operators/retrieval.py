"""Full-text retrieval over the corpus: inverted document-frequency
statistics and BM25 top-k ranking.

Beyond-reference surface (BASELINE.json north star): the retrieval
primitives a training-data pipeline uses for corpus inspection
(which documents match a probe query), contamination forensics
(rank benchmark passages against the corpus), and quality-weighted
selection (retrieval score as a curation signal).

Scale design (100 TB):
  * `term_stats` is one corpus-sized shuffle on the TERM key —
    uniform (vocabulary) keys, map-side partial aggregation. The
    output is vocabulary-sized, orders of magnitude smaller than the
    corpus.
  * `bm25_topk` joins the exploded (doc, term, tf) frame against the
    query-term table — genuinely tiny (|queries| x |terms/query|
    rows), broadcast unconditionally. Per-(query, doc) partial
    scores aggregate with map-side combine; the final top-k window
    partitions by query_id (|Q| partitions is fine: the heavy
    reduction happened in the aggregate, the window sees at most
    one row per (query, matching doc)). For huge match sets the
    same map-side bounded top-k used by knn_bruteforce applies.
  * Global scalars (N docs, average doc length) are one-row
    aggregates, broadcast via crossJoin.

Every formula is engine-reproducible: identical operand order in the
DuckDB oracle, ln/division on IEEE doubles, rounded to 6 dp at the
edge (absorbs the <=1-ulp libm drift between JVM Math.log and
DuckDB's libm).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from reader_spark.functions.localrel import local_df
from reader_spark.operators import dedup as DD

BM25_K1 = 1.2
BM25_B = 0.75


def doc_terms(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, term, tf, dl): whitespace term frequencies plus the
    document length, one explode + one uniform (doc_id, term)
    aggregate."""
    toks = F.split(F.col(text_col), " ")
    return (
        DD.ensure_parallelism(docs)
        .select(
            "doc_id",
            F.size(toks).alias("dl"),
            F.explode(toks).alias("term"),
        )
        .groupBy("doc_id", "term", "dl")
        .agg(F.count("*").alias("tf"))
    )


def term_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-term document frequency over the corpus — the inverted
    index's statistics page. Vocabulary-sized output."""
    return (
        doc_terms(docs, text_col)
        .groupBy("term")
        .agg(F.count("*").alias("df"), F.sum("tf").alias("cf"))
    )


def pmi_bigrams(
    docs: DataFrame,
    min_count: int = 5,
    text_col: str = "text",
) -> DataFrame:
    """Phrase mining via pointwise mutual information over adjacent
    token pairs: pmi(a, b) = ln(c_ab * n_tokens / (c_a * c_b)) for
    every adjacent bigram occurring at least `min_count` times —
    the collocation detector (word2phrase shape) that feeds
    tokenizer-vocabulary and template-boilerplate analyses.

    Scale: bigrams come from zipping the token array against its
    shift — array arithmetic in the scan stage, one explode. Both
    aggregates key on vocabulary-sized terms (uniform, map-side
    combinable) and OUTPUT vocabulary-sized frames; the two unigram
    lookups join the (min_count-thresholded, hence small) bigram
    table against the unigram table — broadcast when the size
    estimate allows. Nothing corpus-sized survives the first
    aggregate.
    """
    ws = F.col("ws")
    pairs = F.arrays_zip(
        F.slice(ws, 1, F.size(ws) - 1).alias("w1"),
        F.slice(ws, 2, F.size(ws) - 1).alias("w2"),
    )
    tok = DD.ensure_parallelism(docs).select(
        F.split(F.col(text_col), " ").alias("ws")
    )
    uni = (
        tok.select(F.explode(ws).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    total = uni.agg(F.sum("c").alias("n_tokens"))
    bi = (
        tok.filter(F.size(ws) >= 2)
        .select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .agg(F.count("*").alias("c_ab"))
        .filter(F.col("c_ab") >= min_count)
    )
    ua = uni.select(F.col("w").alias("w1"), F.col("c").alias("c_a"))
    ub = uni.select(F.col("w").alias("w2"), F.col("c").alias("c_b"))
    return (
        bi.join(DD.maybe_broadcast(ua), "w1")
        .join(DD.maybe_broadcast(ub), "w2")
        .crossJoin(F.broadcast(total))
        .select(
            "w1",
            "w2",
            "c_ab",
            F.round(
                F.log(
                    F.col("c_ab")
                    * F.col("n_tokens")
                    / (F.col("c_a") * F.col("c_b"))
                ),
                6,
            ).alias("pmi"),
        )
    )


def bm25_topk(
    docs: DataFrame,
    queries: list[tuple[int, str]],
    k: int = 10,
    text_col: str = "text",
) -> DataFrame:
    """BM25 ranking of the corpus against a probe-query set.

    score(d, q) = sum over query terms t of
        ln(1 + (N - df_t + 0.5) / (df_t + 0.5))
        * tf / (tf + k1 * (1 - b + b * dl / avgdl))

    Only documents sharing at least one term with the query are
    scored (the join is the selection); top `k` per query emitted
    with deterministic (score desc, doc_id asc) tie-breaks.
    """
    from pyspark.sql import Window as W

    spark = docs.sparkSession
    # Corpus scalars straight off the scan — one single-row aggregate
    # (needs ALL documents, matching or not, so it cannot come from
    # the restricted postings frame).
    scalars = docs.agg(
        F.count("*").alias("n_docs"),
        F.avg(F.size(F.split(F.col(text_col), " "))).alias("avgdl"),
    )

    qrows = [
        (qid, term)
        for qid, qtext in queries
        for term in qtext.split(" ")
    ]
    qterms = (
        local_df(spark, qrows, "query_id long, term string")
        .distinct()
    )
    # Semi-restrict to query terms BEFORE any aggregate: the broadcast
    # join drops non-matching tokens in the scan stage, so the tf
    # shuffle carries |matching postings| rows, not the whole
    # tokenized corpus.
    toks = F.split(F.col(text_col), " ")
    matches = (
        DD.ensure_parallelism(docs)
        .select(
            "doc_id",
            F.size(toks).alias("dl"),
            F.explode(toks).alias("term"),
        )
        .join(F.broadcast(qterms), "term")
        .groupBy("query_id", "doc_id", "term", "dl")
        .agg(F.count("*").alias("tf"))
    )
    # Document frequency WITHOUT a second pass over the corpus: after
    # the tf aggregate, (query_id, term) partitions hold exactly one
    # row per matching document, so a window COUNT(*) over
    # (query_id, term) IS df_t. One shuffle of the (small) postings
    # frame replaces a re-aggregation + broadcast join — and nothing
    # is persisted, so the corpus pass runs exactly once.
    wdf = W.partitionBy("query_id", "term")
    matches = matches.withColumn("df", F.count("*").over(wdf))

    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tf_norm = F.col("tf") / (
        F.col("tf")
        + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        matches.crossJoin(F.broadcast(scalars))
        .groupBy("query_id", "doc_id")
        .agg(F.sum(idf * tf_norm).alias("s"))
    )
    w = W.partitionBy("query_id").orderBy(F.col("s").desc(), F.col("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "doc_id",
            "rank",
            F.round(F.col("s"), 6).alias("score"),
        )
    )


# ---------------------------------------------------------------------------
# materialized inverted index (the 100 TB path: index once, search many)


def bm25_index_write(
    docs: DataFrame,
    path: str,
    n_buckets: int = 64,
    text_col: str = "text",
) -> None:
    """Materialize the inverted index to parquet, postings
    partitioned by term hash-bucket: `bucket = pmod(xxhash64(term),
    n_buckets)`. Per-term document frequency is computed ONCE at
    index time and stored inline with each posting, so a search
    needs no df aggregate/window at all. Corpus scalars (N, avgdl)
    land in a one-row side table.

    Scale: the analogue of `ivf_index_write` for text — a search
    for q query terms reads at most q bucket DIRECTORIES
    (PartitionFilters prune the rest; plan-asserted in
    test_retrieval.py), i.e. ~q/n_buckets of the index bytes
    instead of re-tokenizing the corpus per query. The
    `repartition(n_buckets, bucket)` before `partitionBy` keeps the
    write at one file per bucket instead of tasks x buckets
    (measured 11x on the transfer seed, SCALE.md)."""
    # r13: df is a COUNT window over the postings (postings are unique
    # per (doc, term), so the term partition size IS the document
    # frequency) — the containment_pairs pattern. The corpus is
    # tokenized exactly once, with no cache and no join: one term
    # exchange replaces the df aggregate + join-back, which
    # re-evaluated the tokenize subtree on both join sides (A/B med
    # 2.42 s vs 2.70; persisting the postings instead lost, 3.29 vs
    # 2.77 — the cache write costs more than the second tokenize).
    from pyspark.sql import Window as W

    full = (
        doc_terms(docs, text_col)
        .withColumn("df", F.count("*").over(W.partitionBy("term")))
        .withColumn("bucket", F.pmod(F.xxhash64("term"), F.lit(n_buckets)))
    )
    (
        full.repartition(n_buckets, "bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(f"{path}/postings")
    )
    # sum_dl stored as an exact integer so INCREMENTAL updates
    # (bm25_index_update) can recompute avgdl = sum_dl / n_docs
    # with arithmetic identical to a full rebuild — no float
    # accumulation drift between the two paths.
    docs.agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split(F.col(text_col), " "))).alias("sum_dl"),
    ).select(
        "n_docs",
        "sum_dl",
        (F.col("sum_dl") / F.col("n_docs")).alias("avgdl"),
    ).write.mode("overwrite").parquet(f"{path}/scalars")


def bm25_topk_indexed(
    spark,
    path: str,
    queries: list[tuple[int, str]],
    k: int = 10,
    n_buckets: int = 64,
) -> DataFrame:
    """BM25 top-k against a materialized index: identical scores to
    `bm25_topk`, but the corpus is never touched — only the probed
    term buckets are read. The bucket list is derived from the query
    terms with one tiny Spark job (|query terms| rows collected:
    control-plane, like the DDL-event collects) and pushed as a
    partition filter."""
    from pyspark.sql import Window as W

    qrows = [
        (qid, term) for qid, qtext in queries for term in qtext.split(" ")
    ]
    qterms = local_df(
        spark, qrows, "query_id long, term string"
    ).distinct()
    buckets = [
        r["b"]
        for r in qterms.select(
            F.pmod(F.xxhash64("term"), F.lit(n_buckets)).alias("b")
        )
        .distinct()
        .collect()
    ]
    postings = spark.read.parquet(f"{path}/postings").filter(
        F.col("bucket").isin(buckets)
    )
    matches = postings.join(F.broadcast(qterms), "term")
    from reader_spark.operators import atomic_dir

    scalars = spark.read.parquet(atomic_dir.resolve(f"{path}/scalars"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tf_norm = F.col("tf") / (
        F.col("tf")
        + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        matches.crossJoin(F.broadcast(scalars))
        .groupBy("query_id", "doc_id")
        .agg(F.sum(idf * tf_norm).alias("s"))
    )
    w = W.partitionBy("query_id").orderBy(F.col("s").desc(), F.col("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "doc_id",
            "rank",
            F.round(F.col("s"), 6).alias("score"),
        )
    )


# ---------------------------------------------------------------------------
# trigram substring search (the pg_trgm / code-search design)


def doc_trigrams(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, trigram) — distinct character 3-grams per document,
    built with sequence+transform array arithmetic in the scan stage
    (one explode, no shuffle). The candidate-restriction index for
    substring search."""
    t = F.col(text_col)
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.length(t) - 2),
            lambda i: t.substr(i, F.lit(3)),
        )
    )
    return (
        DD.ensure_parallelism(docs)
        .filter(F.length(t) >= 3)
        .select("doc_id", F.explode(grams).alias("trigram"))
    )


def trigram_search(
    docs: DataFrame,
    patterns: list[tuple[int, str]],
    text_col: str = "text",
) -> DataFrame:
    """Substring search with trigram pre-filtering: a document can
    contain pattern p only if it contains EVERY trigram of p, so the
    candidate set is the docs matching all |p|-2 trigrams (a
    broadcast join + count equality — relational intersection), and
    only candidates pay the exact `contains` verify. This is
    pg_trgm's / Zoekt's design: at 100 TB the trigram postings are
    the index you materialize (bm25_index_write's bucket layout
    applies verbatim — uniform 3-char keys), and the exact verify
    touches ~selectivity-sized data instead of every byte.

    Patterns shorter than 3 chars fall back to a full scan (no
    trigram to prune on) — excluded here by contract."""
    spark = docs.sparkSession
    prows = []
    for pid, pat in patterns:
        assert len(pat) >= 3, f"pattern {pid} too short for trigrams"
        grams = {pat[i : i + 3] for i in range(len(pat) - 2)}
        prows += [(pid, g) for g in sorted(grams)]
    pat_grams = local_df(spark, prows, "pattern_id long, trigram string")
    n_grams = {
        pid: len({p[i : i + 3] for i in range(len(p) - 2)})
        for pid, p in patterns
    }
    need = F.create_map(
        *[F.lit(x) for kv in n_grams.items() for x in kv]
    )
    cands = (
        doc_trigrams(docs, text_col)
        .join(F.broadcast(pat_grams), "trigram")
        .groupBy("pattern_id", "doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
        .filter(F.col("n_hit") == need[F.col("pattern_id")])
        .select("pattern_id", "doc_id")
    )
    pats = local_df(spark, list(patterns), "pattern_id long, pat string")
    return (
        cands.join(docs.select("doc_id", text_col), "doc_id")
        .join(F.broadcast(pats), "pattern_id")
        .filter(F.col(text_col).contains(F.col("pat")))
        .select("pattern_id", "doc_id")
    )


def trigram_index_write(
    docs: DataFrame, path: str, n_buckets: int = 64, text_col: str = "text"
) -> None:
    """Materialize the trigram postings (doc_id, trigram),
    partitioned by trigram hash-bucket — `bm25_index_write`'s layout
    applied to substring search, exactly as the `trigram_search`
    docstring promises: a pattern of g trigrams probes at most g
    bucket DIRECTORIES (PartitionFilters prune the rest), instead of
    re-deriving the corpus' trigrams per query. No df/scalars — the
    candidate test is pure set-intersection.

    The exact `contains` verify still needs the document text: the
    index restricts candidates, the caller keeps the corpus — Zoekt's
    shard/docstore split."""
    postings = doc_trigrams(docs, text_col).withColumn(
        "bucket", F.pmod(F.xxhash64("trigram"), F.lit(n_buckets))
    )
    (
        postings.repartition(n_buckets, "bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(f"{path}/postings")
    )


def trigram_search_indexed(
    spark,
    path: str,
    docs: DataFrame,
    patterns: list[tuple[int, str]],
    n_buckets: int = 64,
    text_col: str = "text",
) -> DataFrame:
    """Substring search through the MATERIALIZED trigram index:
    identical results to `trigram_search` (the prefilter is lossless
    either way), but candidates come from reading ONLY the probed
    trigram buckets — plan-asserted PartitionFilters — instead of
    re-derived corpus trigrams. The exact `contains` verify runs
    against the caller's docs frame on candidates only."""
    prows = []
    n_grams = {}
    for pid, pat in patterns:
        assert len(pat) >= 3, f"pattern {pid} too short for trigrams"
        grams = {pat[i : i + 3] for i in range(len(pat) - 2)}
        n_grams[pid] = len(grams)
        prows += [(pid, g) for g in sorted(grams)]
    pat_grams = local_df(spark, prows, "pattern_id long, trigram string")
    buckets = [
        r["b"]
        for r in pat_grams.select(
            F.pmod(F.xxhash64("trigram"), F.lit(n_buckets)).alias("b")
        )
        .distinct()
        .collect()
    ]
    postings = spark.read.parquet(f"{path}/postings").filter(
        F.col("bucket").isin(buckets)
    )
    need = F.create_map(*[F.lit(x) for kv in n_grams.items() for x in kv])
    cands = (
        postings.join(F.broadcast(pat_grams), "trigram")
        # a candidate hits every DISTINCT trigram of its pattern
        .groupBy("pattern_id", "doc_id")
        .agg(F.count_distinct("trigram").alias("n_hit"))
        .filter(F.col("n_hit") == need[F.col("pattern_id")])
        .select("pattern_id", "doc_id")
    )
    pats = local_df(spark, list(patterns), "pattern_id long, pat string")
    return (
        cands.join(docs.select("doc_id", text_col), "doc_id")
        .join(F.broadcast(pats), "pattern_id")
        .filter(F.col(text_col).contains(F.col("pat")))
        .select("pattern_id", "doc_id")
    )


def bm25_index_maintain(
    spark,
    path: str,
    max_files_per_bucket: int = 4,
    target_bytes: int = 128 << 20,
) -> dict[str, int]:
    """Compact the incremental BM25 index's term-bucket directories:
    each `bm25_index_update` appends a file wave into every touched
    bucket, and a bucket read through dozens of tiny files is
    scheduler-bound. Row-preserving (search results identical before
    and after — asserted in test_retrieval.py); run it on whatever
    cadence the update volume demands, exactly like a warehouse
    OPTIMIZE job."""
    from reader_spark.operators.transfer import compact_partition_dirs

    return compact_partition_dirs(
        spark, f"{path}/postings", max_files_per_bucket, target_bytes
    )


def bm25_index_update(
    spark,
    path: str,
    new_docs: DataFrame,
    n_buckets: int = 64,
    text_col: str = "text",
    epoch: int | None = None,
) -> list[int]:
    """Incremental text-index maintenance (append-only corpus
    growth, the common case): the NEW documents' postings merge into
    ONLY their touched term-bucket directories. A term lives in
    exactly one bucket, so per-term df recomputes EXACTLY from
    (old postings of touched buckets + delta) — searches after an
    update are identical to a full rebuild (asserted in
    test_retrieval.py), and untouched bucket directories keep their
    files byte-for-byte. Scalars update by exact integer arithmetic
    (n_docs += dn, sum_dl += d_sum; avgdl = sum_dl / n_docs — the
    same division a rebuild performs).

    Crash-replay exactly-once (the foreachBatch contract): pass the
    micro-batch id as `epoch`. An already-applied epoch is skipped
    (the marker is published ATOMICALLY with the scalars via the
    pointer flip, so 'applied' is unambiguous); a batch that crashed
    BETWEEN the postings merge and the scalars publish re-merges
    idempotently — the merge dedupes on (doc_id, term), so re-adding
    an already-merged delta is a no-op and df recomputes to the same
    values. Net: a replayed batch can never double-count.

    Append-only contract: ids must be NEW (a changed document's
    removed terms would leave stale postings in buckets the delta
    never touches; replacement needs a doc->bucket reverse index or
    a rebuild — same caveat Lucene solves with per-segment deletes).
    Returns the touched bucket ids."""
    from reader_spark.operators import atomic_dir

    scalars_root = atomic_dir.resolve(f"{path}/scalars")
    stamp = atomic_dir.epoch_gate(scalars_root, epoch)
    if stamp is None:
        return []
    delta = doc_terms(new_docs, text_col).withColumn(
        "bucket", F.pmod(F.xxhash64("term"), F.lit(n_buckets))
    )
    touched = [r["bucket"] for r in delta.select("bucket").distinct().collect()]
    if touched:
        old = (
            spark.read.parquet(f"{path}/postings")
            .filter(F.col("bucket").isin(touched))
            .select("doc_id", "term", "dl", "tf", "bucket")
        )
        # dropDuplicates makes a crash-replay re-merge a no-op: the
        # already-merged delta's rows are exact duplicates of `old`'s
        merged = old.unionByName(delta).dropDuplicates(["doc_id", "term"])
        tstats = merged.groupBy("term").agg(F.count("*").alias("df"))
        full = merged.join(tstats, "term")
        (
            full.repartition(len(touched), "bucket")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(f"{path}/postings")
        )
    # scalars update even for a postings-free delta: documents with
    # empty text still count toward n_docs (dl = 0). A fully empty
    # delta frame (dn == 0) leaves the index untouched.
    d = new_docs.agg(
        F.count("*").alias("dn"),
        F.coalesce(
            F.sum(F.size(F.split(F.col(text_col), " "))), F.lit(0)
        ).alias("dsum"),
    ).collect()[0]
    if d["dn"] == 0:
        return touched
    s = spark.read.parquet(scalars_root).collect()[0]
    n, sd = s["n_docs"] + d["dn"], s["sum_dl"] + d["dsum"]
    new_scalars = local_df(
        spark, [(n, sd, sd / n)], "n_docs long, sum_dl long, avgdl double"
    )

    def write_fn(vdir: str) -> None:
        new_scalars.write.mode("overwrite").parquet(vdir)
        atomic_dir.write_epoch(vdir, stamp)

    atomic_dir.publish(f"{path}/scalars", write_fn)
    return touched


def bm25_index_maintainer(path: str, n_buckets: int = 64, text_col: str = "text"):
    """`foreachBatch` body keeping the materialized BM25 index fresh
    from a document STREAM — each micro-batch is a `bm25_index_update`
    delta (append-only contract: ids must be new; see that
    docstring). Completes the maintainer trio (IVF cells, CMS
    counters, BM25 term buckets): every materialized index the
    engine builds can be kept current per micro-batch.

        docs.writeStream.foreachBatch(bm25_index_maintainer(path))
            .option("checkpointLocation", ckpt).start()
    """

    def body(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # batch_id as the idempotence epoch: replayed micro-batches
        # (crash-recovery at-least-once) are detected and skipped or
        # re-merged idempotently — see bm25_index_update
        bm25_index_update(
            batch_df.sparkSession, path, batch_df, n_buckets, text_col,
            epoch=batch_id,
        )

    return body
