"""PageRank over pair graphs (operators/graph.py): hand-computed
values, mass conservation, and determinism of the sorted fold."""

import pyspark.sql.functions as F

from reader_spark.operators import graph as GR
import pytest


def test_pagerank_path_graph_known_values(spark):
    # undirected path A(1)-B(2)-C(3): deg 1,2,1; N=3
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "doc_a long, doc_b long"
    )
    out = {
        r["node"]: r["pr"]
        for r in GR.pagerank(pairs, iterations=2).collect()
    }
    base = (1.0 - 0.85) / 3
    pr0 = 1.0 / 3
    # iteration 1
    a1 = base + 0.85 * (pr0 / 2)
    b1 = base + 0.85 * (pr0 / 1 + pr0 / 1)
    # iteration 2
    a2 = base + 0.85 * (b1 / 2)
    b2 = base + 0.85 * (a1 / 1 + a1 / 1)
    assert out[1] == a2 and out[3] == a2
    assert out[2] == b2
    # mass conserved (no dangling nodes in an undirected graph)
    assert abs(sum(out.values()) - 1.0) < 1e-9


def test_pagerank_centrality_ordering(spark):
    # star: hub 0 linked to 1..5 -> hub must dominate
    pairs = spark.createDataFrame(
        [(0, i) for i in range(1, 6)], "doc_a long, doc_b long"
    )
    out = {r["node"]: r["pr"] for r in GR.pagerank(pairs, iterations=4).collect()}
    assert out[0] > max(v for k, v in out.items() if k != 0) * 2
    assert len(out) == 6


def test_pagerank_empty_graph(spark):
    pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    assert GR.pagerank(pairs, iterations=2).count() == 0


# ---------------------------------------------------------------------------
# triangle counting


def _pairs(spark, rows):
    return spark.createDataFrame(rows, "doc_a long, doc_b long")


def test_triangle_counts_hand_graph(spark):
    # triangle 1-2-3 plus a pendant edge 3-4: nodes 1,2,3 get one
    # triangle each, node 4 none
    pairs = _pairs(spark, [(1, 2), (2, 3), (1, 3), (3, 4)])
    got = {r["node"]: r["n_tri"] for r in GR.triangle_counts(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1}


def test_triangle_counts_clique(spark):
    # K5: C(4,2) = 6 triangles per node, 10 total triangles
    edges = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    got = {r["node"]: r["n_tri"] for r in GR.triangle_counts(_pairs(spark, edges)).collect()}
    assert got == {n: 6 for n in range(5)}


def test_triangle_counts_direction_and_dup_invariant(spark):
    # reversed/duplicated pairs collapse to the same undirected graph
    pairs = _pairs(spark, [(2, 1), (1, 2), (3, 2), (1, 3), (3, 1)])
    got = {r["node"]: r["n_tri"] for r in GR.triangle_counts(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1}


def test_kcore_hand_graph(spark):
    """K5 clique + pendant chain: at k=2 the chain peels away round
    by round but the triangle-free cycle survives; at k=4 only the
    K5 remains; k=5 empties the graph. Convergence well inside the
    round budget."""
    from reader_spark.operators import graph as GR

    edges = []
    # K5 on 0..4
    for a in range(5):
        for b in range(a + 1, 5):
            edges.append((a, b))
    # pendant chain 4-10-11-12
    edges += [(4, 10), (10, 11), (11, 12)]
    # 4-cycle 20-21-22-23 (every node degree 2)
    edges += [(20, 21), (21, 22), (22, 23), (23, 20)]
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")

    k2 = {r["node"]: r["core_degree"] for r in GR.kcore(df, k=2).collect()}
    # chain gone (12 has degree 1, peels; then 11; then 10), cycle
    # and clique stay
    assert set(k2) == {0, 1, 2, 3, 4, 20, 21, 22, 23}
    assert k2[20] == 2 and k2[0] == 4

    k4 = {r["node"] for r in GR.kcore(df, k=4).collect()}
    assert k4 == {0, 1, 2, 3, 4}
    assert GR.kcore(df, k=5).count() == 0

    # a 3-round chain needs 3 peels: rounds budget honored
    assert {r["node"] for r in GR.kcore(df, k=2, rounds=3).collect()} == set(k2)


def test_lpa_separates_bridged_cliques(spark):
    """Two 4-cliques joined by ONE bridge edge: connected components
    merge them into one blob; synchronized LPA keeps two communities
    (the bridge carries no neighborhood mass). Labels converge to
    each clique's minimum node id; determinism across runs."""
    import itertools

    a = list(itertools.combinations([0, 1, 2, 3], 2))
    b = list(itertools.combinations([10, 11, 12, 13], 2))
    bridge = [(3, 10)]
    df = spark.createDataFrame(
        [(x, y) for x, y in a + b + bridge], "doc_a long, doc_b long"
    )
    out = {r["node"]: r["community"] for r in GR.lpa_communities(
        df, iterations=4).collect()}
    assert set(out) == {0, 1, 2, 3, 10, 11, 12, 13}
    comms = {}
    for n, c in out.items():
        comms.setdefault(c, set()).add(n)
    assert sorted(map(sorted, comms.values())) == [
        [0, 1, 2, 3], [10, 11, 12, 13]]
    again = {r["node"]: r["community"] for r in GR.lpa_communities(
        df, iterations=4).collect()}
    assert again == out


def test_lpa_winner_pick_frequency_then_min_label(spark):
    """The r12 agg rewrite (min(struct(-n, lbl)) replacing the
    row_number window) must keep the exact winner semantics: most
    frequent neighbor label first, ties to the SMALLEST label.

    Star center 100 with neighbors {1, 2, 3}: after round 1 every
    node still holds its own id, so the center sees labels 1,2,3
    once each — a 3-way tie that must resolve to label 1 (min), not
    3 (max) — this catches a sign slip in the -n encoding, because
    max(struct(n, lbl)) would tie-break to the LARGEST label."""
    pairs = spark.createDataFrame(
        [(100, 1), (100, 2), (100, 3)], "doc_a long, doc_b long"
    )
    out = {
        r["node"]: r["community"]
        for r in GR.lpa_communities(pairs, iterations=1).collect()
    }
    # center: 3-way count tie among {1,2,3} -> min label 1.
    assert out[100] == 1
    # leaves: single neighbor label (100) wins outright.
    assert out[1] == out[2] == out[3] == 100

    # frequency beats label order: neighbors {5, 5-clique mass} vs a
    # smaller-id singleton — label with n=2 must beat label 4 (n=1)
    # even though 4 < 7. Node 6's neighbors after round 0: 4 (once),
    # 7 (once), 8 (once) -> tie resolves to 4; but after giving 7
    # and 8 a shared neighbor the counts diverge.
    pairs2 = spark.createDataFrame(
        [(6, 4), (6, 7), (6, 8), (7, 8)], "doc_a long, doc_b long"
    )
    out2 = {
        r["node"]: r["community"]
        for r in GR.lpa_communities(pairs2, iterations=2).collect()
    }
    # round 1: 6 -> min(4,7,8) = 4; 7 -> min(6,8) = 6; 8 -> min(6,7)
    #   = 6; 4 -> 6.
    # round 2: 6 sees labels {4:(from 4->6? 4 holds 6), ...}:
    #   neighbors 4,7,8 hold 6,6,6 -> n=3 for label 6; 6 -> 6.
    assert out2[6] == 6

    # determinism across runs (the agg is order-independent)
    again = {
        r["node"]: r["community"]
        for r in GR.lpa_communities(pairs2, iterations=2).collect()
    }
    assert again == out2


# ---------------------------------------------------------------------------
# Materialized near-dup graph index (dedup.py::neardup_index_*)


def _docs(spark):
    """Tiny corpus with two near-dup families + a singleton: family A
    (docs 1,2,3 share 9/10 tokens), family B (10,11,12 — a triangle,
    because synchronized LPA oscillates on 2-node components by
    design), unrelated 20."""
    rows = [
        (1, "a b c d e f g h i j"),
        (2, "a b c d e f g h i k"),
        (3, "a b c d e f g h i l"),
        (10, "p q r s t u v w x y"),
        (11, "p q r s t u v w x z"),
        (12, "p q r s t u v w x q2"),
        (20, "m n o aa bb cc dd ee ff gg"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _edges(spark, path):
    from reader_spark.operators import dedup as DD

    return sorted(
        (r["doc_a"], r["doc_b"])
        for r in DD.neardup_edges(spark, path).collect()
    )


def test_neardup_index_update_equals_rebuild(spark, tmp_path):
    from reader_spark.operators import dedup as DD

    docs = _docs(spark)
    full = str(tmp_path / "full")
    DD.neardup_index_write(docs, full, num_hashes=8, band_size=2,
                           threshold=0.8)
    split = str(tmp_path / "split")
    DD.neardup_index_write(
        docs.filter("doc_id < 10"), split, num_hashes=8, band_size=2,
        threshold=0.8,
    )
    n = DD.neardup_index_update(
        spark, split, docs.filter("doc_id >= 10"), num_hashes=8,
        band_size=2, threshold=0.8,
    )
    assert n == 4
    assert _edges(spark, split) == _edges(spark, full)
    # both families present, no cross-family or singleton edges
    e = _edges(spark, full)
    assert (1, 2) in e and (10, 11) in e
    assert all(20 not in pair for pair in e)
    assert all((a < 10) == (b < 10) for a, b in e)


def test_neardup_index_update_replay_is_noop(spark, tmp_path):
    from reader_spark.operators import dedup as DD

    docs = _docs(spark)
    path = str(tmp_path / "idx")
    DD.neardup_index_write(
        docs.filter("doc_id < 10"), path, num_hashes=8, band_size=2,
        threshold=0.8,
    )
    delta = docs.filter("doc_id >= 10")
    assert DD.neardup_index_update(
        spark, path, delta, num_hashes=8, band_size=2, threshold=0.8
    ) == 4
    before = _edges(spark, path)
    # crash-replayed batch: every doc already in toks/ -> nothing appends
    assert DD.neardup_index_update(
        spark, path, delta, num_hashes=8, band_size=2, threshold=0.8
    ) == 0
    assert _edges(spark, path) == before


def test_lpa_over_index_matches_direct(spark, tmp_path):
    from reader_spark.operators import dedup as DD

    docs = _docs(spark)
    path = str(tmp_path / "idx")
    DD.neardup_index_write(docs, path, num_hashes=8, band_size=2,
                           threshold=0.8)
    via_index = {
        r["node"]: r["community"]
        for r in GR.lpa_communities(
            DD.neardup_edges(spark, path), iterations=4
        ).collect()
    }
    toks = DD.token_hashes(docs)
    sigs = DD.minhash_signature(toks, num_hashes=8, hashes_col="toks")
    pairs = DD.lsh_candidate_pairs(sigs, num_hashes=8, band_size=2)
    direct = {
        r["node"]: r["community"]
        for r in GR.lpa_communities(
            DD.jaccard_verify(pairs, docs, threshold=0.8, toks=toks)
            .select("doc_a", "doc_b"),
            iterations=4,
        ).collect()
    }
    assert via_index == direct
    # the two families are distinct communities
    assert via_index[1] == via_index[2] == via_index[3]
    assert via_index[10] == via_index[11] == via_index[12]
    assert via_index[1] != via_index[10]


@pytest.mark.slow  # r13 tier: see pytest.ini
def test_neardup_index_maintainer_stream(spark, tmp_path):
    """Streamed doc batches keep the graph index equal to a scratch
    rebuild over the full corpus (availableNow + checkpoint, the
    trigram maintainer's harness shape)."""
    import json

    from reader_spark.operators import dedup as DD

    docs = _docs(spark)
    path = str(tmp_path / "idx")
    DD.neardup_index_write(
        docs.filter("doc_id < 10"), path, num_hashes=8, band_size=2,
        threshold=0.8,
    )
    # the component map rides inside index_update: streamed batches
    # must keep it equal to a scratch rebuild too
    DD.neardup_cc_write(spark, path, n_buckets=4)
    src = tmp_path / "docs_stream"
    src.mkdir()
    with open(src / "d.jsonl", "w") as f:
        for r in docs.filter("doc_id >= 10").collect():
            f.write(json.dumps({"doc_id": r["doc_id"], "text": r["text"]}) + "\n")
    stream = spark.readStream.schema("doc_id long, text string").json(str(src))
    q = (
        stream.writeStream.foreachBatch(
            DD.neardup_index_maintainer(path, num_hashes=8, band_size=2,
                                        threshold=0.8)
        )
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(90)
    scratch = str(tmp_path / "scratch")
    DD.neardup_index_write(docs, scratch, num_hashes=8, band_size=2,
                           threshold=0.8)
    assert _edges(spark, path) == _edges(spark, scratch)
    DD.neardup_cc_write(spark, scratch, n_buckets=4)
    assert _cc_map(spark, path) == _cc_map(spark, scratch)


def test_neardup_index_crash_mid_update_heals_on_replay(spark, tmp_path):
    """The documented worst case: a crash AFTER the edges append but
    BEFORE the toks/ append (the replay gate). The replayed batch
    re-runs in full — edge rows double up, but consumers `.distinct()`
    so graph results are unchanged, and the gate closes (a second
    replay is a no-op)."""
    from reader_spark.operators import dedup as DD

    docs = _docs(spark)
    path = str(tmp_path / "idx")
    DD.neardup_index_write(
        docs.filter("doc_id < 10"), path, num_hashes=8, band_size=2,
        threshold=0.8,
    )
    delta = docs.filter("doc_id >= 10")
    # simulate the crash: run the real update, then roll back toks/
    # and bands/ to their pre-update state (edges keep the appended
    # rows — exactly the on-disk state a kill between appends leaves)
    import shutil

    shutil.copytree(f"{path}/toks", str(tmp_path / "toks_pre"))
    shutil.copytree(f"{path}/bands", str(tmp_path / "bands_pre"))
    DD.neardup_index_update(
        spark, path, delta, num_hashes=8, band_size=2, threshold=0.8
    )
    edges_after = _edges(spark, path)
    shutil.rmtree(f"{path}/toks")
    shutil.rmtree(f"{path}/bands")
    shutil.copytree(str(tmp_path / "toks_pre"), f"{path}/toks")
    shutil.copytree(str(tmp_path / "bands_pre"), f"{path}/bands")
    # the rollback happened behind Spark's back: drop the session's
    # cached file listings (a real crash restarts the session)
    spark.catalog.refreshByPath(f"{path}/toks")
    spark.catalog.refreshByPath(f"{path}/bands")
    # replay: gate is open (delta docs absent from toks/), so the
    # batch re-applies — raw edge rows duplicate, distinct view holds
    assert DD.neardup_index_update(
        spark, path, delta, num_hashes=8, band_size=2, threshold=0.8
    ) == 4
    raw = spark.read.parquet(f"{path}/edges").count()
    assert raw > len(edges_after)          # duplicates exist on disk
    assert _edges(spark, path) == edges_after  # consumers unaffected
    # and the gate is closed now
    assert DD.neardup_index_update(
        spark, path, delta, num_hashes=8, band_size=2, threshold=0.8
    ) == 0


@pytest.mark.slow  # r13 tier: see pytest.ini
def test_neardup_index_maintain_compacts_and_purges(spark, tmp_path):
    """OPTIMIZE: after update waves plus crash-replay residue (edge
    rows duplicated on disk), maintain rewrites the subdirs behind
    pointer flips — the distinct-edge view is unchanged, duplicate
    rows are physically gone, and later updates keep working against
    the maintained layout."""
    import glob

    from reader_spark.operators import dedup as DD

    docs = _docs(spark)
    path = str(tmp_path / "idx")
    DD.neardup_index_write(
        docs.filter("doc_id <= 2"), path, num_hashes=8, band_size=2,
        threshold=0.8,
    )
    for flt in ("doc_id = 3", "doc_id = 10", "doc_id = 11"):
        DD.neardup_index_update(
            spark, path, docs.filter(flt), num_hashes=8, band_size=2,
            threshold=0.8,
        )
    from reader_spark.operators.dedup import _nd_root

    edges_root = _nd_root(path, "edges")
    spark.read.parquet(edges_root).write.mode("append").parquet(edges_root)
    spark.catalog.refreshByPath(edges_root)
    want = _edges(spark, path)
    stats = DD.neardup_index_maintain(spark, path)
    assert set(stats) == {"edges", "bands", "toks"}
    assert _edges(spark, path) == want
    # physical purge: the duplicated edge rows are gone
    raw_edges = spark.read.parquet(_nd_root(path, "edges"))
    assert raw_edges.count() == raw_edges.distinct().count() == len(want)
    # compaction really reduced the file count
    assert len(glob.glob(f"{_nd_root(path, 'toks')}/*.parquet")) == stats["toks"]
    # updates still work against the maintained (pointer-flip) layout
    assert DD.neardup_index_update(
        spark, path, docs.filter("doc_id = 12"), num_hashes=8,
        band_size=2, threshold=0.8,
    ) == 1
    assert (10, 12) in _edges(spark, path)
    # and a from-scratch rebuild over the maintained layout is clean
    DD.neardup_index_write(docs, path, num_hashes=8, band_size=2,
                           threshold=0.8)
    assert (1, 3) in _edges(spark, path)


def test_neardup_index_crash_between_bands_and_toks_no_self_loops(
    spark, tmp_path
):
    """The OTHER crash point: bands/ appended, toks/ not (toks is the
    replay gate). The replayed batch's docs are still 'fresh' but
    their band rows already sit in stored bands/ — the delta-vs-stored
    equi-join would pair each doc with itself (Jaccard(X,X)=1.0
    verifies) and land a PERMANENT self-loop that .distinct() cannot
    absorb, inflating degrees for every graph consumer. The __new !=
    __old guard must keep the raw edge file self-loop-free and the
    replay must converge to the clean-run edge set."""
    import shutil

    from reader_spark.operators import dedup as DD

    docs = _docs(spark)
    path = str(tmp_path / "idx")
    DD.neardup_index_write(
        docs.filter("doc_id < 10"), path, num_hashes=8, band_size=2,
        threshold=0.8,
    )
    delta = docs.filter("doc_id >= 10")
    shutil.copytree(f"{path}/toks", str(tmp_path / "toks_pre"))
    DD.neardup_index_update(
        spark, path, delta, num_hashes=8, band_size=2, threshold=0.8
    )
    edges_clean = _edges(spark, path)
    # crash simulation: edges + bands appended, toks rolled back
    shutil.rmtree(f"{path}/toks")
    shutil.copytree(str(tmp_path / "toks_pre"), f"{path}/toks")
    spark.catalog.refreshByPath(f"{path}/toks")
    assert DD.neardup_index_update(
        spark, path, delta, num_hashes=8, band_size=2, threshold=0.8
    ) == 4
    raw = spark.read.parquet(f"{path}/edges")
    assert raw.filter("doc_a = doc_b").count() == 0  # no self-loops on disk
    assert _edges(spark, path) == edges_clean
    # degrees (what pagerank/kcore/LPA consume) match a scratch build
    scratch = str(tmp_path / "scratch")
    DD.neardup_index_write(docs, scratch, num_hashes=8, band_size=2,
                           threshold=0.8)
    assert _edges(spark, path) == _edges(spark, scratch)


# ---------------------------------------------------------------------------
# Materialized component map (dedup.py::neardup_cc_*)


def _cc_map(spark, path):
    from reader_spark.operators import dedup as DD

    return {
        r["doc_id"]: r["component_id"]
        for r in DD.neardup_canonical(spark, path).collect()
    }


def _cc_rebuild_map(spark, path, tmp_str):
    """Scratch rebuild of the component map at a throwaway path."""
    import shutil

    from reader_spark.operators import dedup as DD

    shutil.copytree(path, tmp_str)
    DD.neardup_cc_write(spark, tmp_str, n_buckets=4)
    return _cc_map(spark, tmp_str)


def _bridge_docs(spark):
    """Two sub-0.8 families whose union doc merges them: X (1, 2: t*)
    and Y (10, 11: 8 shared t's + u's, J(X,Y)=8/12=0.67), bridge 30 =
    X ∪ Y tokens (J=10/12=0.83 with each), singleton 20."""
    t = "t1 t2 t3 t4 t5 t6 t7 t8"
    rows = [
        (1, f"{t} t9 t10"),
        (2, f"{t} t9 t11"),
        (10, f"{t} u1 u2"),
        (11, f"{t} u1 u3"),
        (20, "m n o p q r s aa bb cc"),
        (30, f"{t} t9 t10 u1 u2"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_neardup_cc_update_equals_rebuild_and_merges(spark, tmp_path):
    """Incremental component maintenance == scratch rebuild across a
    wave that (a) adds members to existing components, (b) MERGES two
    components via a bridge doc, and (c) adds a singleton — labels
    stay the component minimum throughout."""
    from reader_spark.operators import dedup as DD

    docs = _bridge_docs(spark)
    path = str(tmp_path / "idx")
    DD.neardup_index_write(
        docs.filter("doc_id in (1, 10)"), path, num_hashes=8, band_size=2,
        threshold=0.8,
    )
    DD.neardup_cc_write(spark, path, n_buckets=4)
    assert _cc_map(spark, path) == {1: 1, 10: 10}  # two components
    n = DD.neardup_index_update(
        spark, path, docs.filter("doc_id not in (1, 10)"),
        num_hashes=8, band_size=2, threshold=0.8,
    )
    assert n == 4
    got = _cc_map(spark, path)
    assert got == _cc_rebuild_map(spark, path, str(tmp_path / "scratch"))
    assert got[20] == 20  # singleton labels itself
    # the bridge merged X and Y iff the LSH found both sides; either
    # way incremental == rebuild, and every label is a component min
    for d, lbl in got.items():
        assert lbl <= d and got[lbl] == lbl


@pytest.mark.slow  # r13 tier: see pytest.ini
def test_neardup_cc_update_touches_only_affected_buckets(spark, tmp_path):
    """A delta that only extends ONE component leaves every other
    label bucket's files byte-identical — the rewrite is bounded by
    the merge set, not the corpus (the 100 TB economics)."""
    import glob
    import os

    from reader_spark.operators import dedup as DD

    docs = _docs(spark)
    path = str(tmp_path / "idx")
    DD.neardup_index_write(
        docs.filter("doc_id != 3"), path, num_hashes=8, band_size=2,
        threshold=0.8,
    )
    DD.neardup_cc_write(spark, path, n_buckets=16)
    root = DD._nd_root(path, "cc")
    before = {
        f: (os.path.getmtime(f), os.path.getsize(f))
        for f in glob.glob(f"{root}/bucket=*/*.parquet")
    }
    DD.neardup_index_update(
        spark, path, docs.filter("doc_id = 3"), num_hashes=8, band_size=2,
        threshold=0.8,
    )
    after = {
        f: (os.path.getmtime(f), os.path.getsize(f))
        for f in glob.glob(f"{root}/bucket=*/*.parquet")
    }
    # doc 3 joins family A (label 1): only label-1's bucket rewrites
    untouched = [f for f in before if f in after and before[f] == after[f]]
    changed_dirs = {
        os.path.dirname(f)
        for f in set(before) ^ set(after)
        | {f for f in before if f in after and before[f] != after[f]}
    }
    assert len(changed_dirs) == 1  # exactly one bucket dir touched
    assert len(untouched) == len(before) - sum(
        1 for f in before if os.path.dirname(f) in changed_dirs
    )
    got = _cc_map(spark, path)
    assert got[3] == got[1]
    assert got == _cc_rebuild_map(spark, path, str(tmp_path / "scratch"))


@pytest.mark.slow  # r13 tier: see pytest.ini
def test_neardup_cc_replay_is_noop(spark, tmp_path):
    """Crash after the cc rewrite, before the toks/ append: the
    replayed batch's endpoints already share merged labels (identity
    mapping) and its ids are already stored, so nothing changes."""
    import shutil

    from reader_spark.operators import dedup as DD

    docs = _bridge_docs(spark)
    path = str(tmp_path / "idx")
    DD.neardup_index_write(
        docs.filter("doc_id in (1, 10)"), path, num_hashes=8, band_size=2,
        threshold=0.8,
    )
    DD.neardup_cc_write(spark, path, n_buckets=4)
    delta = docs.filter("doc_id not in (1, 10)")
    shutil.copytree(f"{path}/toks", str(tmp_path / "toks_pre"))
    DD.neardup_index_update(
        spark, path, delta, num_hashes=8, band_size=2, threshold=0.8
    )
    want = _cc_map(spark, path)
    shutil.rmtree(f"{path}/toks")
    shutil.copytree(str(tmp_path / "toks_pre"), f"{path}/toks")
    spark.catalog.refreshByPath(f"{path}/toks")
    assert DD.neardup_index_update(
        spark, path, delta, num_hashes=8, band_size=2, threshold=0.8
    ) == 4
    assert _cc_map(spark, path) == want


def test_neardup_cc_maintain_rebuilds_component_map(spark, tmp_path):
    """maintain() rebuilds the materialized component map from the
    freshly compacted edges: one row per indexed doc, the same labels
    as before and as a scratch rebuild."""
    from reader_spark.operators import dedup as DD

    docs = _bridge_docs(spark)
    path = str(tmp_path / "idx")
    DD.neardup_index_write(docs, path, num_hashes=8, band_size=2,
                           threshold=0.8)
    DD.neardup_cc_write(spark, path, n_buckets=4)
    before = _cc_map(spark, path)
    out = DD.neardup_index_maintain(spark, path)
    assert out["cc"] == 6
    got = _cc_map(spark, path)
    assert got == before
    assert got == _cc_rebuild_map(spark, path, str(tmp_path / "scratch"))


@pytest.mark.slow  # r13 tier: see pytest.ini
def test_neardup_cc_distributed_fallback_matches_driver_path(
    spark, tmp_path, monkeypatch
):
    """Past the control-plane cap the label graph is resolved by the
    distributed CC instead of the driver union-find — same mapping,
    same final component map (cap monkeypatched to force the
    fallback on the same delta)."""
    from reader_spark.operators import dedup as DD

    docs = _bridge_docs(spark)

    def run(cap):
        import shutil

        path = str(tmp_path / f"idx_cap{cap}")
        shutil.rmtree(path, ignore_errors=True)
        DD.neardup_index_write(
            docs.filter("doc_id in (1, 10)"), path, num_hashes=8,
            band_size=2, threshold=0.8,
        )
        DD.neardup_cc_write(spark, path, n_buckets=4)
        monkeypatch.setattr(DD, "_CC_DRIVER_CAP", cap)
        DD.neardup_index_update(
            spark, path, docs.filter("doc_id not in (1, 10)"),
            num_hashes=8, band_size=2, threshold=0.8,
        )
        return _cc_map(spark, path)

    assert run(0) == run(500_000)  # distributed == driver union-find


@pytest.mark.slow  # r13 tier: see pytest.ini
def test_neardup_cc_crash_after_edges_before_cc_heals(spark, tmp_path):
    """First crash point in the edges -> cc -> bands -> toks order:
    edges appended, component map untouched. The replay re-runs the
    full update (toks gate open) and must land on the clean-run
    state — edge rows may duplicate on disk (absorbed by .distinct),
    the component map must converge exactly."""
    import shutil

    from reader_spark.operators import dedup as DD

    docs = _bridge_docs(spark)
    path = str(tmp_path / "idx")
    DD.neardup_index_write(
        docs.filter("doc_id in (1, 10)"), path, num_hashes=8, band_size=2,
        threshold=0.8,
    )
    DD.neardup_cc_write(spark, path, n_buckets=4)
    delta = docs.filter("doc_id not in (1, 10)")
    pre = str(tmp_path / "pre")
    for sub in ("cc", "bands", "toks"):
        shutil.copytree(f"{path}/{sub}", f"{pre}/{sub}")
    DD.neardup_index_update(
        spark, path, delta, num_hashes=8, band_size=2, threshold=0.8
    )
    want_edges, want_cc = _edges(spark, path), _cc_map(spark, path)
    # crash simulation: only the edges append survived
    for sub in ("cc", "bands", "toks"):
        shutil.rmtree(f"{path}/{sub}")
        shutil.copytree(f"{pre}/{sub}", f"{path}/{sub}")
        spark.catalog.refreshByPath(f"{path}/{sub}")
    assert DD.neardup_index_update(
        spark, path, delta, num_hashes=8, band_size=2, threshold=0.8
    ) == 4
    assert _edges(spark, path) == want_edges
    assert _cc_map(spark, path) == want_cc
    assert spark.read.parquet(f"{path}/edges").filter(
        "doc_a = doc_b").count() == 0


def test_cc_occupancy_flags_mega_component_and_rewrite_stays_bounded(
    spark, tmp_path
):
    """Skew guard (r8 verdict): a mega near-dup family (boilerplate
    template) concentrates its whole component in ONE label bucket.
    `neardup_cc_occupancy` flags it (max_label_rows ~ the family,
    occupancy far above the 1e6 uniform share), and the documented
    rewrite bound holds at the file level: an update whose merge set
    does not touch the mega label never rewrites the mega bucket."""
    import glob
    import os

    from reader_spark.operators import dedup as DD

    nb = 16
    # pick a mega-family base id whose LABEL bucket differs from
    # family A's label bucket (1) — the assertion needs them apart
    buckets = {
        r["id"]: r["b"]
        for r in spark.range(1, 200).selectExpr(
            "id", f"pmod(xxhash64(id), {nb}) AS b"
        ).collect()
    }
    base = next(i for i in range(100, 200) if buckets[i] != buckets[1])
    mega_text = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    rows = [
        (1, "a b c d e f g h i j"),
        (2, "a b c d e f g h i k"),
    ] + [(base + i, mega_text) for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "idx")
    DD.neardup_index_write(docs, path, num_hashes=8, band_size=2,
                           threshold=0.8)
    DD.neardup_cc_write(spark, path, n_buckets=nb)

    occ = {r["bucket"]: r for r in
           DD.neardup_cc_occupancy(spark, path).collect()}
    assert sum(r["n_rows"] for r in occ.values()) == 42
    mega = occ[buckets[base]]
    assert mega["max_label_rows"] == 40 and mega["heaviest_label"] == base
    # 40/42 of the corpus in one of 16 buckets: ~15x the uniform share
    assert mega["occupancy_ppm"] > 10_000_000
    assert occ[buckets[1]]["max_label_rows"] == 2

    root = DD._nd_root(path, "cc")
    mega_dir = f"{root}/bucket={buckets[base]}"
    before = {
        f: (os.path.getmtime(f), os.path.getsize(f))
        for f in glob.glob(f"{mega_dir}/*.parquet")
    }
    assert before  # the mega bucket exists
    # doc 3 joins family A only — the mega label is not in the merge
    # set, so its bucket's files must remain byte-identical
    delta = spark.createDataFrame(
        [(3, "a b c d e f g h i l")], "doc_id long, text string"
    )
    DD.neardup_index_update(spark, path, delta, num_hashes=8, band_size=2,
                            threshold=0.8)
    after = {
        f: (os.path.getmtime(f), os.path.getsize(f))
        for f in glob.glob(f"{mega_dir}/*.parquet")
    }
    assert after == before
    got = {r["doc_id"]: r["component_id"]
           for r in DD.neardup_canonical(spark, path).collect()}
    assert got[3] == got[1] == 1
    assert got[base + 7] == base
