"""Graph centrality over document-similarity graphs.

Beyond-reference surface: after near-dup detection builds a graph
(pairs -> `dedup.connected_components` clusters), PageRank ranks the
documents INSIDE the duplication neighborhood — a centrality-based
alternative to min-id / best-quality canonical selection (the most
"linked-to" template variant is often the canonical one), and the
standard importance measure when the edges are citations/links
instead of near-dup relations.

Determinism contract (the property that buys a DuckDB oracle): float
summation order is pinned. Per-node incoming contributions are
collected, SORTED by source id, and folded sequentially — exactly
DuckDB's `list_reduce(list(x ORDER BY src), ...)` — so every
iteration's doubles are bit-identical across engines (same playbook
as similarity.label_seeded_centroids).

Scale (100 TB):
  * Each iteration is ONE equi-join (edges x current ranks on the
    source key) and ONE aggregate (on the destination key) — 2
    shuffles, partial-aggregation-friendly sizes, no global state.
  * The sorted-fold keeps per-node state bounded by IN-degree. A
    celebrity node (huge in-degree) makes the fold list long: at that
    point swap the fold for a plain `sum()` and accept last-ulp
    nondeterminism, or salt the aggregate into per-bucket partial
    folds merged in bucket order (deterministic AND bounded).
  * Driver-side state is two bounded scalars (node count, iteration
    counter); lineage is truncated per iteration with localCheckpoint
    exactly like connected_components.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from reader_spark.cache import pin
from reader_spark.functions.localrel import local_df

DAMPING = 0.85


def _sorted_fold(src_col: str, val_col: str):
    """Sequential sum of `val_col` in `src_col` order — the
    order-pinned aggregate both engines reproduce bit-for-bit."""
    sorted_vals = F.transform(
        F.array_sort(
            F.collect_list(
                F.struct(F.col(src_col).alias("i"), F.col(val_col).alias("v"))
            )
        ),
        lambda s: s.getField("v"),
    )
    return F.aggregate(
        F.slice(sorted_vals, 2, 2_000_000_000),
        F.get(sorted_vals, 0),
        lambda acc, v: acc + v,
    )


def pagerank(
    pairs: DataFrame,
    iterations: int = 4,
    damping: float = DAMPING,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
) -> DataFrame:
    """PageRank over an undirected pair list (each pair contributes
    both directions), restricted to nodes that appear in an edge (so
    every node has degree >= 1 — no dangling-mass redistribution
    term). Fixed iteration count; uniform 1/N start.

        pr_{t+1}(v) = (1 - d)/N + d * sum_{(u,v) in E} pr_t(u)/deg(u)

    Returns (node, pr) after `iterations` rounds, unrounded — callers
    round at their edge.
    """
    spark = pairs.sparkSession
    edges = (
        pairs.select(
            F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
        )
        .union(
            pairs.select(
                F.col(dst_col).alias("src"), F.col(src_col).alias("dst")
            )
        )
        .distinct()
    )
    edges = pin(edges)
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    ed = edges.join(deg, "src")
    # control-plane scalar, bounded: the graph's node count
    n = ed.select("src").distinct().count()
    if n == 0:
        return local_df(spark, [], "node long, pr double")
    pr = ed.select(F.col("src").alias("node")).distinct().withColumn(
        "pr", F.lit(1.0 / n)
    )
    base = (1.0 - damping) / n
    for _ in range(iterations):
        contrib = ed.join(pr, ed.src == pr.node).select(
            "dst", "src", (F.col("pr") / F.col("deg")).alias("c")
        )
        pr = (
            contrib.groupBy("dst")
            .agg(
                (F.lit(base) + F.lit(damping) * _sorted_fold("src", "c")).alias(
                    "pr"
                )
            )
            .select(F.col("dst").alias("node"), "pr")
            .localCheckpoint(eager=False)
        )
    return pr


def triangle_counts(
    pairs: DataFrame,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
) -> DataFrame:
    """Exact per-node triangle counts over an undirected pair list —
    the local clustering signal: near-dup neighborhoods that are
    CLIQUES (every variant similar to every other) are template
    families and safe to collapse hard; neighborhoods with many open
    wedges but few triangles are chains of borderline matches where a
    single verify threshold is doing too much work.

    Algorithm (the MPC-standard degree orientation): orient each
    edge from its (degree, id)-smaller endpoint to the larger; every
    triangle then has exactly ONE node with two out-edges, so wedges
    (u->v, u->w with v < w) joined against the canonical closing edge
    (v, w) count each triangle exactly once.

    Scale: orientation bounds out-degree by O(sqrt(m)) — a celebrity
    node of degree d contributes wedges only from edges where it is
    the SMALLER-degree endpoint, so the wedge join's fan-out is the
    textbook m^{3/2} worst case rather than sum(d^2); the closing
    check is a two-column equi-join against the edge list. Everything
    shuffles on uniform id keys; the per-node count explode is 3 rows
    per triangle.
    """
    a, b = F.col(src_col), F.col(dst_col)
    e = (
        pairs.select(
            F.least(a, b).alias("a"), F.greatest(a, b).alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    e = pin(e)
    from reader_spark.operators.dedup import maybe_broadcast

    deg = (
        e.select(F.col("a").alias("v"))
        .union(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("dg"))
    )
    # broadcast-gate audit (r12): deg aggregates the PINNED edge
    # frame, so a fresh QueryExecution resolves through the
    # CacheManager — the estimate tracks real cached bytes once e is
    # materialized; no Arrow kernel upstream, decision stable.
    share_deg = maybe_broadcast(deg)
    ed = (
        e.join(share_deg.select(F.col("v").alias("a"), F.col("dg").alias("da")), "a")
        .join(share_deg.select(F.col("v").alias("b"), F.col("dg").alias("db")), "b")
    )
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    o = ed.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("w"),
    )
    wedges = (
        o.alias("o1")
        .join(o.alias("o2"), F.col("o1.u") == F.col("o2.u"))
        .filter(F.col("o1.w") < F.col("o2.w"))
        .select(
            F.col("o1.u").alias("u"),
            F.col("o1.w").alias("x"),
            F.col("o2.w").alias("y"),
        )
    )
    tris = wedges.join(
        e, (F.col("x") == F.col("a")) & (F.col("y") == F.col("b"))
    ).select("u", "x", "y")
    return (
        tris.select(F.explode(F.array("u", "x", "y")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("n_tri"))
    )


def kcore(
    pairs: DataFrame,
    k: int,
    rounds: int = 12,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
) -> DataFrame:
    """Bounded k-core peel: iteratively remove nodes with degree < k
    (degree recomputed within the surviving subgraph each round),
    `rounds` times. Peeling is MONOTONE — once converged, further
    rounds are no-ops — so a fixed round count is a deterministic,
    engine-reproducible semantics: an oracle unrolling the same
    rounds computes the identical set whether or not the true
    fixpoint needs fewer. (If a graph needs more rounds than the
    budget, both engines agree on the same partial peel; pytest
    asserts the fixture converges well inside the budget.)

    The k-core is the dedup-graph's "dense template neighborhood"
    detector: nodes surviving k=30 peeling sit in near-clique
    boilerplate families, a stronger signal than raw degree (which
    single hub docs inflate).

    Scale: each round is one equi-join of the (shrinking) edge set
    against the alive set per endpoint + one degree aggregate — the
    connected-components cost shape, with the same localCheckpoint
    lineage truncation. Early-exits when a round removes nothing.
    """
    edges = (
        pairs.select(F.col(id_a).alias("s"), F.col(id_b).alias("d"))
        .unionByName(
            pairs.select(F.col(id_b).alias("s"), F.col(id_a).alias("d"))
        )
        .distinct()
        .localCheckpoint()
    )
    alive_edges = edges
    prev_n = -1
    deg = None
    for _ in range(rounds):
        deg = alive_edges.groupBy("s").agg(F.count(F.lit(1)).alias("degree"))
        survivors = deg.filter(F.col("degree") >= k).select("s")
        n = survivors.count()
        if n == prev_n:
            break
        prev_n = n
        alive_edges = (
            alive_edges.join(survivors, "s")
            .join(survivors.select(F.col("s").alias("d")), "d")
            .localCheckpoint()
        )
    final_deg = alive_edges.groupBy("s").agg(
        F.count(F.lit(1)).alias("core_degree")
    )
    return final_deg.filter(F.col("core_degree") >= k).select(
        F.col("s").alias("node"), "core_degree"
    )


def lpa_communities(
    pairs: DataFrame,
    iterations: int = 4,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
) -> DataFrame:
    """Synchronized label propagation (community detection) over an
    undirected pair list: labels start as node ids; each round every
    node adopts the most frequent label among its NEIGHBORS, ties
    broken by the smallest label. The fixed iteration budget with
    fully synchronized rounds is deterministic, engine-reproducible
    semantics — the same contract as `kcore`'s bounded peel and
    `pagerank`'s fixed rounds (asynchronous/randomized LPA, the
    textbook variant, is neither).

    On the near-dup graph this splits a connected component into its
    dense template families: connected components (`canonical_docs`)
    merge two clusters bridged by one accidental pair, LPA keeps them
    apart unless the bridge carries real neighborhood mass.

    Scale per round: one equi-join of edges against the K-row label
    frame (K = node count), one (node, label) partial-aggregated
    count, one per-node rank window whose partition is bounded by the
    node's distinct neighbor labels (<= degree). Lineage truncates
    between rounds with LAZY localCheckpoint (eager=False, the
    pagerank pattern): no per-round blocking job, but each round's
    result still materializes once instead of re-deriving the whole
    prefix (measured at sf0.1: eager 7.4 s, no checkpoint 12.4 s,
    lazy 6.4 s). Returns (node, community).

    Round-plan shape (r12): the edge list is hash-partitioned on the
    join key and PINNED (persisted, not checkpointed — a
    localCheckpoint's LogicalRDD reports UnknownPartitioning, which
    re-inserts the edges exchange in every round; the
    InMemoryRelation keeps HashPartitioning(s)), so the per-round
    label join never re-shuffles the edges — only the K-row label
    frame moves, as the build side of a shuffled hash join (edges
    would otherwise be exchanged AND sorted every round under
    sort-merge). The partition count is pinned to defaultParallelism
    so AQE cannot coalesce the rounds' join parallelism down to the
    edge list's byte size (`dropDuplicates` on a superset of the
    partitioning key adds no second exchange). The winner pick is
    `min(struct(-n, lbl))` — identical ordering to the old
    `row_number() over (order by n desc, lbl asc) = 1`, but
    partial-aggregated BELOW the exchange, so the per-round shuffle
    carries at most (distinct d per partition) pre-reduced rows
    instead of the full (d, lbl, n) stream, and the full-stream sort
    is by the single grouping key rather than (d, n desc, lbl)."""
    edges = pin(
        pairs.select(F.col(id_a).alias("s"), F.col(id_b).alias("d"))
        .union(
            pairs.select(F.col(id_b).alias("s"), F.col(id_a).alias("d"))
        )
        .repartition(
            pairs.sparkSession.sparkContext.defaultParallelism, F.col("s")
        )
        .dropDuplicates(["s", "d"])
    )
    labels = edges.select(F.col("s").alias("node")).distinct().withColumn(
        "lbl", F.col("node")
    )
    for _ in range(iterations):
        nb = edges.join(
            labels.withColumnRenamed("node", "s").hint("shuffle_hash"),
            "s",
        ).groupBy("d", "lbl").agg(F.count(F.lit(1)).alias("n"))
        labels = (
            nb.groupBy("d")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("n")).alias("nn"), F.col("lbl").alias("l")
                    )
                ).alias("__m")
            )
            .select(F.col("d").alias("node"), F.col("__m.l").alias("lbl"))
            .localCheckpoint(eager=False)
        )
    return labels.select("node", F.col("lbl").alias("community"))
