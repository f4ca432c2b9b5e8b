"""Dedup / similarity unit tests on tiny controlled corpora (the
oracle harness covers the fixture tables; these pin the semantics)."""

from pyspark.sql import functions as F

from reader_spark.operators import dedup as DD
from reader_spark.operators import similarity as SIM
import pytest


def _ivf_root(path):
    """Data root of a pointer-published IVF index (the live version
    dir); bare legacy layouts resolve to themselves."""
    from reader_spark.operators import atomic_dir

    return atomic_dir.resolve(path)


def docs_df(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )


def test_exact_dedup_counts(spark):
    df = docs_df(spark, ["a b c", "a b c", "x y"])
    out = {r["keep_id"]: r["n_copies"] for r in DD.exact_dedup(df).collect()}
    assert out == {0: 2, 2: 1}


def test_minhash_identical_docs_same_signature(spark):
    df = docs_df(spark, ["a b c d e", "e d c b a", "q w e r t"])
    sigs = DD.minhash_signature(df, num_hashes=8).collect()
    s = {r["doc_id"]: [r[f"h{i}"] for i in range(8)] for r in sigs}
    assert s[0] == s[1]  # order-insensitive token set
    assert s[0] != s[2]


def test_lsh_finds_identical_pair(spark):
    df = docs_df(spark, ["a b c d e", "a b c d e", "q w r t y"])
    sigs = DD.minhash_signature(df, num_hashes=8)
    pairs = DD.lsh_candidate_pairs(sigs, num_hashes=8, band_size=4).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in pairs} == {(0, 1)}


def test_jaccard_verify_values(spark):
    df = docs_df(spark, ["a b c d", "a b c e", "x y z w"])
    pairs = spark.createDataFrame([(0, 1), (0, 2)], ["doc_a", "doc_b"])
    out = DD.jaccard_verify(pairs, df, threshold=0.0).collect()
    vals = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in out}
    assert vals[(0, 1)] == 0.6  # |{a,b,c}| / |{a,b,c,d,e}|
    assert vals[(0, 2)] == 0.0


def test_jaccard_intersect_impl_parity(spark):
    """Every pair of a small corpus at threshold 0.0 yields exactly
    the hand-computed token-set Jaccard, rounded to 6 places — the
    duplicate pair (0, 6) at 1.0, the empty doc 5 at 0.0 against
    everything, disjoint pairs at 0.0 (kept: 0.0 >= threshold)."""
    texts = [
        "a b c d", "a b c e", "x y z w", "a b c d e f",
        "p q", "", "a b c d", "p q r s t u v w",
    ]
    df = docs_df(spark, texts)
    pairs = spark.createDataFrame(
        [(i, j) for i in range(len(texts)) for j in range(i + 1, len(texts))],
        ["doc_a", "doc_b"],
    )
    got = sorted(
        tuple(r) for r in DD.jaccard_verify(pairs, df, threshold=0.0).collect()
    )
    overlapping = {
        (0, 1): 0.6,  # {a,b,c} / {a,b,c,d,e}
        (0, 3): 0.666667,  # {a,b,c,d} / {a..f}
        (0, 6): 1.0,  # identical texts
        (1, 3): 0.666667,  # {a,b,c,e} / {a..f}
        (1, 6): 0.6,
        (2, 7): 0.090909,  # {w} / 11 distinct tokens
        (3, 6): 0.666667,
        (4, 7): 0.25,  # {p,q} / {p..w}
    }
    want = sorted(
        (i, j, overlapping.get((i, j), 0.0))
        for i in range(len(texts))
        for j in range(i + 1, len(texts))
    )
    assert got == want


def test_simhash_similar_docs_close(spark):
    df = docs_df(spark, ["a b c d e f g h", "a b c d e f g x", "q w r t y u i o"])
    out = {r["doc_id"]: r["simhash"] for r in DD.simhash(df).collect()}

    def hamming(x, y):
        return bin(x ^ y).count("1")

    assert hamming(out[0], out[1]) < hamming(out[0], out[2])
    assert all(v >= 0 for v in out.values())  # 63-bit => sign-safe


def test_knn_self_excluded_and_ranked(spark):
    vecs = [
        (0, [1.0, 0.0]),
        (1, [0.9, 0.1]),
        (2, [0.0, 1.0]),
        (3, [1.0, 0.05]),
    ]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"]).withColumn(
        "embedding", F.col("embedding").cast("array<float>")
    )
    out = SIM.knn_bruteforce(df, [0], k=3).collect()
    ranked = [r["neighbor_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert ranked == [3, 1, 2]
    assert all(r["neighbor_id"] != 0 for r in out)


def test_knn_ivf_probes_nearest_centroids(spark):
    # label-seeded centroids: c1 = mean of vecs 0,1 = (0.95, 0.05),
    # c2 = (0.95, 0.01). Quantizer ASSIGNMENT (not the stored label)
    # indexes the corpus: vec 0 (1.0, 0.0) is nearer c2, so with
    # nprobe=1 query 0 probes c2 and finds vec 2 — the genuinely
    # closest neighbor the stale stored-label routing would miss.
    vecs = [
        (0, [1.0, 0.0], 1),
        (1, [0.9, 0.1], 1),
        (2, [0.95, 0.01], 2),
    ]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding", "label"]).withColumn(
        "embedding", F.col("embedding").cast("array<float>")
    )
    out = SIM.knn_ivf(df, [0], k=5, nprobe=1).collect()
    assert [r["neighbor_id"] for r in out] == [2]
    # nprobe=2 reaches both cells -> full candidate set, ranked by cos
    out2 = SIM.knn_ivf(df, [0], k=5, nprobe=2).collect()
    assert {r["neighbor_id"] for r in out2} == {1, 2}


def test_ann_recall_report_quantifies_probe_miss(spark):
    """recall@k audit: with nprobe=1 the query's single probed cell
    misses vec 1 (recall 500000 ppm of k=2); nprobe=2 reaches both
    cells (recall 1e6). Same geometry as the probe test above."""
    vecs = [
        (0, [1.0, 0.0], 1),
        (1, [0.9, 0.1], 1),
        (2, [0.95, 0.01], 2),
    ]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding", "label"]).withColumn(
        "embedding", F.col("embedding").cast("array<float>")
    )
    narrow = SIM.ann_recall_report(df, [0], k=2, nprobe=1).collect()
    assert [(r["n_exact"], r["n_hits"], r["recall_ppm"]) for r in narrow] == [
        (2, 1, 500000)
    ]
    wide = SIM.ann_recall_report(df, [0], k=2, nprobe=2).collect()
    assert [(r["n_exact"], r["n_hits"], r["recall_ppm"]) for r in wide] == [
        (2, 2, 1000000)
    ]


def test_knn_ivf_trained_recall(spark, tmp_path):
    # production path: pyspark.ml KMeans quantizer fitted once,
    # materialized index, multi-probe search. The testdata embeddings are UNclustered
    # random vectors (measured: 8% of a query's true top-5 shares its
    # label), where no coarse quantizer can be recall-faithful with
    # few probes — so validate the mechanics on data with real cluster
    # structure: 10 well-separated centers + noise, the regime IVF is
    # built for. recall@5 vs exact brute force >= 0.9 at nprobe=2/10.
    import random

    rng = random.Random(7)
    dim, n_centers, per_center = 16, 10, 50
    rows = []
    for cid in range(n_centers):
        center = [3.0 if d % n_centers == cid else 0.0 for d in range(dim)]
        for j in range(per_center):
            vec = [c + rng.uniform(-0.5, 0.5) for c in center]
            rows.append((cid * per_center + j, vec))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"]).withColumn(
        "embedding", F.col("embedding").cast("array<float>")
    )
    qids = [i * per_center for i in range(10)]
    model = SIM.ivf_fit(emb, n_clusters=n_centers, seed=7)
    path = str(tmp_path / "ivf")
    SIM.ivf_index_write(emb, path, model)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in SIM.knn_bruteforce(emb, qids, k=5).collect()
    }
    queries = emb.filter(F.col("vec_id").isin(qids))
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in SIM.knn_ivf_indexed(
            spark, path, queries, k=5, nprobe=2
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"recall@5 = {recall}"


def test_knn_ivf_pq_full_probe_equals_plain_pq(spark, sf_dir):
    """With nprobe = ALL cells the IVF restriction is a no-op, so the
    composed IVF x PQ path must return EXACTLY knn_pq_rescore's
    results (same codebooks, same ADC, same rescore); with nprobe=2
    it still returns k rows per query (cells pruned, k intact)."""
    from reader_spark.session import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    qids = [0, 1, 2]
    full = sorted(map(tuple, SIM.knn_ivf_pq(
        emb, qids, k=5, rerank=10, m=8, dim=64, nprobe=10).collect()))
    plain = sorted(map(tuple, SIM.knn_pq_rescore(
        emb, qids, k=5, rerank=10, m=8, dim=64).collect()))
    assert full == plain
    pruned = SIM.knn_ivf_pq(emb, qids, k=5, rerank=10, m=8, dim=64, nprobe=2)
    counts = {r["query_id"]: r["n"] for r in pruned.groupBy(
        "query_id").agg(F.count("*").alias("n")).collect()}
    assert counts == {0: 5, 1: 5, 2: 5}


def test_knn_ivf_pq_indexed_identity_and_pruning(spark, tmp_path, sf_dir):
    """The materialized IVF+PQ index: with EVERY cell probed and
    rerank >= corpus the exact rescore makes the search equal brute
    force exactly; with nprobe=2 the codes scan carries a
    PartitionFilter on the probed cells (the approximate pass never
    reads unprobed directories)."""
    from reader_spark.session import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    qids = [0, 1, 2]
    queries = emb.filter(F.col("vec_id").isin(qids))
    path = str(tmp_path / "ivfpq")
    model = SIM.ivf_fit(emb, n_clusters=8, seed=7)
    SIM.ivf_pq_index_write(emb, path, model, m=8, dim=64)
    full = SIM.knn_ivf_pq_indexed(
        spark, path, queries, k=5, rerank=10_000, nprobe=8, m=8, dim=64
    )
    got = sorted(map(tuple, full.collect()))
    want = sorted(map(tuple, SIM.knn_bruteforce(emb, qids, k=5).collect()))
    assert got == want
    pruned = SIM.knn_ivf_pq_indexed(
        spark, path, queries, k=5, rerank=10, nprobe=2, m=8, dim=64
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    seg = [s for s in plan.split("PartitionFilters")[1:] if "cl" in s.split("]")[0]]
    assert seg, plan
    counts = {r["query_id"]: r["n"] for r in pruned.groupBy(
        "query_id").agg(F.count("*").alias("n")).collect()}
    assert counts == {0: 5, 1: 5, 2: 5}


def test_ivf_index_update_removes_emptied_cell(spark, tmp_path):
    """A changed vector that moves ALL of its old cell's rows away
    must not leave the old cell directory behind (dynamic overwrite
    cannot express an empty partition — stale files would resurrect
    the moved id at search time)."""
    import os

    from reader_spark.operators import atomic_dir

    rows = [
        (1, [1.0, 0.0]),
        (2, [0.0, 1.0]),
        (3, [0.0, 0.9]),
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"]).withColumn(
        "embedding", F.col("embedding").cast("array<float>")
    )
    model = SIM.ivf_fit(emb, n_clusters=2, seed=7)
    path = str(tmp_path / "mv")
    SIM.ivf_index_write(emb, path, model)
    # id 1 moves to the other cell; its old cell had only id 1
    moved = spark.createDataFrame(
        [(1, [0.0, 0.95])], ["vec_id", "embedding"]
    ).withColumn("embedding", F.col("embedding").cast("array<float>"))
    SIM.ivf_index_update(spark, path, moved)
    root = atomic_dir.resolve(path)
    corpus = spark.read.parquet(f"{root}/corpus")
    assert corpus.count() == 3
    assert corpus.filter(F.col("vec_id") == 1).count() == 1
    dirs = {d for d in os.listdir(f"{root}/corpus") if d.startswith("cl=")}
    live = {f"cl={r['cl']}" for r in corpus.select("cl").distinct().collect()}
    assert dirs == live


def test_shingle_set(spark):
    import pyspark.sql.functions as F
    from reader_spark.operators import dedup as DD

    df = spark.createDataFrame([("a b c b a",), ("solo",)], "text string")
    out = df.select(DD.shingle_set(F.col("text"), 2).alias("s")).collect()
    assert out[0].s == sorted({"a b", "b c", "c b", "b a"})
    assert out[1].s == []  # shorter than n -> empty set


def test_simhash_candidate_pairs_match_naive(spark, sf_dir):
    import pyspark.sql.functions as F
    from reader_spark.operators import dedup as DD
    from reader_spark.session import read_table

    sh = DD.simhash(read_table(spark, sf_dir, "documents").limit(200)).persist()
    banded = DD.simhash_candidate_pairs(sh, n_bands=4, max_hamming=3)
    a, b = sh.alias("a"), sh.alias("b")
    naive = a.join(
        b,
        (F.col("a.doc_id") < F.col("b.doc_id"))
        & (F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))) <= 3),
    ).select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    got = sorted((r.doc_a, r.doc_b) for r in banded.collect())
    want = sorted((r.doc_a, r.doc_b) for r in naive.collect())
    assert got == want and len(got) == len(set(got))  # complete, no dups


def test_knn_partial_topk_exact(spark, sf_dir):
    # the map-side bounded top-k is a lossless pre-filter: identical
    # rows to the plain window path at every rank
    from reader_spark.session import read_table

    emb = read_table(spark, sf_dir.replace("sf0.001", "sf0.01"), "embeddings")
    qids = list(range(10))
    plain = sorted(
        tuple(r) for r in SIM.knn_bruteforce(emb, qids, k=5).collect()
    )
    trunc = sorted(
        tuple(r)
        for r in SIM.knn_bruteforce(emb, qids, k=5, partial_topk=True).collect()
    )
    assert plain == trunc


def test_connected_components_min_label(spark):
    # chain 1-2-3 + clique 10-11 + edge via hub 3-7: one component
    # {1,2,3,7} labeled 1, one {10,11} labeled 10; node order and
    # direction don't matter
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 7), (10, 11)], ["doc_a", "doc_b"]
    )
    out = {r["node"]: r["label"] for r in DD.connected_components(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 7: 1, 10: 10, 11: 10}


def test_connected_components_long_chain_converges(spark):
    # a 12-node path needs multiple propagation rounds — the fixpoint
    # must still collapse everything to the minimum id
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(11)], ["doc_a", "doc_b"]
    )
    out = {r["node"]: r["label"] for r in DD.connected_components(pairs).collect()}
    assert set(out.values()) == {0} and len(out) == 12


def _union_find_minima(edges):
    """{node: component minimum} by driver-side union-find."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in list(parent)}


def test_connected_components_matches_union_find(spark):
    """A random 200-node graph plus paths of 20 and 28 nodes (27
    propagation rounds, inside the default 30): every label is the
    union-find component minimum."""
    import random

    rng = random.Random(5)
    edges = [(rng.randrange(200), rng.randrange(200)) for _ in range(150)]
    edges += [(1000 + i, 1001 + i) for i in range(19)]
    edges += [(2000 + i, 2001 + i) for i in range(27)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    out = {r["node"]: r["label"] for r in DD.connected_components(pairs).collect()}
    assert out == _union_find_minima(edges)


def test_connected_components_unconverged_raises(spark):
    """A 40-node path needs 39 propagation rounds. With the default
    30 the labels are still changing when the rounds run out, and the
    function fails naming the round count instead of returning labels
    that split the path into several components."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(39)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="after 30 rounds"):
        DD.connected_components(pairs)


def test_connected_components_star_matches_propagation(spark):
    # large-star/small-star (Kiveris et al.) is the test oracle for
    # min-label propagation; both must produce identical (node, label)
    # maps.
    # Mixed shapes: long path (worst case for propagation), star hub,
    # triangle, bridged cliques, self-pair singleton, isolated edge.
    edges = (
        [(i, i + 1) for i in range(20, 35)]  # 16-node path
        + [(50, v) for v in (51, 52, 53, 54)]  # star
        + [(60, 61), (61, 62), (62, 60)]  # triangle
        + [(70, 71), (71, 72), (72, 70), (72, 80), (80, 81), (81, 82)]
        + [(90, 90)]  # self-pair singleton
        + [(95, 96)]
    )
    from kernel_oracles import connected_components_star

    pairs = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    prop = {r["node"]: r["label"] for r in DD.connected_components(pairs).collect()}
    star = {
        r["node"]: r["label"]
        for r in connected_components_star(pairs).collect()
    }
    assert star == prop
    assert star[35] == 20 and star[82] == 70 and star[90] == 90


@pytest.mark.slow  # r13 tier: see pytest.ini
def test_connected_components_star_random_graphs(spark):
    # randomized equivalence: 5 seeded Erdos-Renyi-ish graphs, star vs
    # propagation vs a driver-side union-find ground truth
    import random

    from kernel_oracles import connected_components_star

    for seed in range(5):
        rng = random.Random(seed)
        n = 60
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(n)
        ]
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        truth = {}
        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        nodes = {v for e in edges for v in e}
        for v in nodes:
            truth[v] = find(v)
        # union-find roots are component minima because we always
        # parent the larger root under the smaller
        pairs = spark.createDataFrame(edges, ["doc_a", "doc_b"])
        star = {
            r["node"]: r["label"]
            for r in connected_components_star(pairs).collect()
        }
        prop = {
            r["node"]: r["label"] for r in DD.connected_components(pairs).collect()
        }
        assert star == truth == prop, f"seed={seed}"


def test_empty_doc_signatures_never_band_collide(spark):
    # Degenerate docs (empty / sub-shingle text) carry all-NULL
    # signatures. concat_ws skips NULLs, so without the guard in
    # md5_band_rows every empty doc would key md5('') in EVERY band
    # and E empty docs would emit E^2/2 candidate pairs through the
    # screen's one shuffle. The guard must make candidate volume
    # INVARIANT to the number of empty docs, for both the wide
    # (melted) and legacy per-band-join dispatch.
    base = [
        "a unique document about spark",
        "a unique document about spark engines",
        "something entirely different altogether now",
    ]

    def n_candidates(n_null, num_hashes, band_size, tokenizer=None):
        texts = base + [None] * n_null
        if tokenizer is None:
            sigs = DD.minhash_signature(
                docs_df(spark, texts), num_hashes=num_hashes
            )
        else:
            # sub-shingle docs: 1-word text -> empty shingle array ->
            # all-NULL signature (the ADVICE.md degenerate case)
            texts = base + ["word"] * n_null
            toks = DD.token_hashes(
                docs_df(spark, texts), tokenizer=tokenizer
            )
            sigs = DD.minhash_signature(
                toks, num_hashes=num_hashes, hashes_col="toks"
            )
        return {
            (r["doc_a"], r["doc_b"])
            for r in DD.lsh_candidate_pairs(
                sigs, num_hashes=num_hashes, band_size=band_size
            ).collect()
        }

    # wide dispatch (n_bands > 4): the melted md5_band_rows path
    assert n_candidates(1, 16, 2) == n_candidates(200, 16, 2)
    # legacy per-band-join dispatch (NULL == NULL never matches)
    assert n_candidates(1, 8, 2) == n_candidates(200, 8, 2)
    # shingle tokenizer: sub-n docs have empty token arrays -> NULL sigs
    assert n_candidates(1, 16, 2, DD.shingle_set) == n_candidates(
        200, 16, 2, DD.shingle_set
    )
    # and no degenerate-doc id ever appears in a candidate pair
    wide = n_candidates(200, 16, 2)
    assert all(a < len(base) and b < len(base) for a, b in wide)


def test_containment_pairs_asymmetric(spark):
    from reader_spark.operators import dedup as DD

    small = "alpha beta gamma delta epsilon zeta"
    big = small + " eta theta iota kappa " + "x y z w " * 8
    rows = [
        (1, small),                      # fully contained in 2
        (2, big),
        (3, "totally different words with no overlap here at all ok"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        (r["doc_a"], r["doc_b"]): r
        for r in DD.containment_pairs(
            docs, n=3, min_containment=0.5, max_gram_df=100
        ).collect()
    }
    # 1 -> 2 contained (all of 1's 4 trigrams appear in 2)
    assert (1, 2) in out and out[(1, 2)]["containment"] == 1.0
    # asymmetry: 2's grams are mostly NOT in 1
    assert (2, 1) not in out
    assert not any(3 in k for k in out)


def test_containment_prefix_filter_drops_common_grams(spark):
    from reader_spark.operators import dedup as DD

    # a gram shared by every doc is dropped by max_gram_df=2, so
    # docs sharing ONLY that boilerplate never pair
    boiler = "the quick brown"
    rows = [(i, boiler + f" unique{i} only{i} words{i}") for i in range(1, 5)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = DD.containment_pairs(
        docs, n=3, min_containment=0.1, max_gram_df=2
    ).collect()
    assert out == []


def test_incremental_filter_matches_any_band_semantics(spark):
    from reader_spark.operators import dedup as DD

    # existing corpus: two docs; incoming: one exact clone (every
    # band collides), one fresh doc, one partial overlap
    existing = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta"),
         (2, "one two three four five six seven eight")],
        "doc_id long, text string",
    )
    incoming = spark.createDataFrame(
        [(10, "alpha beta gamma delta epsilon zeta eta theta"),  # clone of 1
         (11, "totally fresh words never seen anywhere before now"),
         (12, "alpha two fresh four epsilon six eta eight")],
        "doc_id long, text string",
    )
    idx = DD.band_index(DD.minhash_signature(existing))
    out = {
        r["doc_id"]
        for r in DD.incremental_dedup_filter(
            DD.minhash_signature(incoming), idx
        ).collect()
    }
    assert 10 not in out          # exact clone always collides
    assert 11 in out              # fresh doc always survives
    # doc 12: survival depends on band collisions - just assert it got
    # a deterministic verdict consistent with a brute-force band check
    inc_bands = {
        (r["doc_id"], r["band_id"], r["band_key"])
        for r in DD.md5_band_rows(DD.minhash_signature(incoming)).collect()
    }
    idx_set = {(r["band_id"], r["band_key"]) for r in idx.collect()}
    hit_docs = {d for d, b, k in inc_bands if (b, k) in idx_set}
    assert out == {10, 11, 12} - hit_docs


def test_knn_ivf_sq8_candidates_within_probed_cells(spark, sf_dir):
    # composed IVF x SQ8: every emitted neighbor must live in one of
    # the query's nprobe probed cells AND the emitted cos_sim must be
    # the EXACT cosine (rescore contract), matching knn_bruteforce's
    # value for the same pair.
    import pyspark.sql.functions as F
    from reader_spark.session import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    got = SIM.knn_ivf_sq8(emb, list(range(5)), k=5, rerank=10, dim=64).collect()
    assert {r["query_id"] for r in got} == set(range(5))
    for qid in range(5):
        ranks = sorted(r["rank"] for r in got if r["query_id"] == qid)
        assert ranks == [1, 2, 3, 4, 5]
    exact = {
        (r["query_id"], r["neighbor_id"]): r["cos_sim"]
        for r in SIM.knn_bruteforce(emb, list(range(5)), k=500).collect()
    }
    for r in got:
        assert exact[(r["query_id"], r["neighbor_id"])] == r["cos_sim"]


def test_ivf_index_write_and_search(spark, sf_dir, tmp_path):
    # materialized index round trip: results identical to the
    # in-memory trained path at the same probes; partition pruning
    # asserted on the physical plan (PartitionFilters on cl)
    from kernel_oracles import knn_ivf_trained

    from reader_spark.session import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    model = SIM.ivf_fit(emb, n_clusters=8, seed=7)
    path = str(tmp_path / "ivf")
    SIM.ivf_index_write(emb, path, model)
    qids = [0, 1, 2]
    queries = emb.filter(F.col("vec_id").isin(qids))
    got = SIM.knn_ivf_indexed(spark, path, queries, k=5, nprobe=2)
    want = knn_ivf_trained(emb, qids, model, k=5, nprobe=2)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "cl" in plan


def test_knn_pq_rescore_exact_values_and_recall(spark, sf_dir):
    # rescore contract: every emitted cos_sim equals the brute-force
    # value for that pair (PQ only selects candidates, never alters
    # the reported similarity)
    from reader_spark.session import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    got = SIM.knn_pq_rescore(emb, list(range(5)), k=5, rerank=10).collect()
    assert {r["query_id"] for r in got} == set(range(5))
    exact = {
        (r["query_id"], r["neighbor_id"]): r["cos_sim"]
        for r in SIM.knn_bruteforce(emb, list(range(5)), k=500).collect()
    }
    for r in got:
        assert exact[(r["query_id"], r["neighbor_id"])] == r["cos_sim"]

    # recall on data with real cluster structure (the regime a
    # label-seeded codebook is built for; the fixture embeddings are
    # unclustered random vectors where no 16-codeword/subspace
    # quantizer can be recall-faithful — same caveat as IVF)
    import random

    rng = random.Random(11)
    dim, n_centers, per_center = 16, 8, 40
    rows = []
    for cid in range(n_centers):
        center = [2.5 if d % n_centers == cid else 0.0 for d in range(dim)]
        for j in range(per_center):
            rows.append(
                (cid * per_center + j,
                 [c + rng.uniform(-0.4, 0.4) for c in center], cid)
            )
    emb2 = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    qids = [i * per_center for i in range(n_centers)]
    bt = {
        (r["query_id"], r["neighbor_id"])
        for r in SIM.knn_bruteforce(emb2, qids, k=5).collect()
    }
    # rerank must cover the quantization-tie set: every member of a
    # tight cluster shares the same codes, so the approx ordering
    # inside a cell is id-arbitrary — rerank >= cluster size makes
    # the exact pass see the whole cell (the standard PQ rerank rule:
    # size it to the expected candidates-at-equal-code)
    pq = {
        (r["query_id"], r["neighbor_id"])
        for r in SIM.knn_pq_rescore(
            emb2, qids, k=5, rerank=per_center, m=4, dim=dim
        ).collect()
    }
    recall = len(bt & pq) / len(bt)
    assert recall >= 0.85, recall


def test_ivf_index_incremental_update(spark, sf_dir, tmp_path):
    """Incremental cell upsert == full rebuild under the same
    quantizer; untouched cell directories keep their files
    byte-identical."""
    import os

    from reader_spark.session import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    seed = emb.filter(F.col("vec_id") < 400)
    model = SIM.ivf_fit(seed, n_clusters=8, seed=7)
    path = str(tmp_path / "ivf_inc")
    SIM.ivf_index_write(seed, path, model)

    def cell_files():
        out = {}
        corpus = os.path.join(_ivf_root(path), "corpus")
        for d in os.listdir(corpus):
            if d.startswith("cl="):
                full = os.path.join(corpus, d)
                out[d] = sorted(
                    (f, os.path.getmtime(os.path.join(full, f)))
                    for f in os.listdir(full)
                    if f.endswith(".parquet")
                )
        return out

    before = cell_files()
    # delta: 30 new vectors + 10 CHANGED ids (re-using ids 0..9 with
    # different vectors — must replace, not duplicate)
    delta = emb.filter(
        (F.col("vec_id") >= 400) & (F.col("vec_id") < 430)
    ).unionByName(
        emb.filter(F.col("vec_id") < 10).select(
            "vec_id",
            F.expr("transform(embedding, x -> x * CAST(0.5 AS FLOAT))").alias(
                "embedding"
            ),
            "label",
        )
    )
    touched = SIM.ivf_index_update(spark, path, delta)
    after = cell_files()
    touched_dirs = {f"cl={c}" for c in touched}
    # untouched cells: identical file lists and mtimes
    for d, files in before.items():
        if d not in touched_dirs:
            assert after[d] == files, d
    # no duplicated ids; changed ids carry the new vector
    stored = spark.read.parquet(f"{_ivf_root(path)}/corpus")
    assert stored.groupBy("vec_id").count().filter("count > 1").count() == 0
    # search equivalence vs a full rebuild with the SAME model over
    # the equivalent logical corpus
    full_corpus = seed.join(
        delta.select("vec_id"), "vec_id", "left_anti"
    ).unionByName(delta)
    path2 = str(tmp_path / "ivf_full")
    SIM.ivf_index_write(full_corpus, path2, model)
    qids = [0, 5, 411]
    queries = full_corpus.filter(F.col("vec_id").isin(qids))
    got = SIM.knn_ivf_indexed(spark, path, queries, k=5, nprobe=2)
    want = SIM.knn_ivf_indexed(spark, path2, queries, k=5, nprobe=2)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_ivf_index_maintain_compacts_and_preserves_results(spark, sf_dir, tmp_path):
    """Update waves accrete files per IVF cell; maintain() compacts
    fat cells with identical search results (r4 verdict stretch #8)."""
    import os

    from reader_spark.session import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    seed = emb.filter(F.col("vec_id") < 300)
    model = SIM.ivf_fit(seed, n_clusters=4, seed=7)
    path = str(tmp_path / "ivf_maint")
    SIM.ivf_index_write(seed, path, model)
    for lo in (300, 350, 400):
        SIM.ivf_index_update(
            spark, path,
            emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < lo + 50)),
        )
    queries = emb.filter(F.col("vec_id").isin([0, 1, 2]))
    before = sorted(map(tuple, SIM.knn_ivf_indexed(
        spark, path, queries, k=5, nprobe=2).collect()))

    def max_cell_files():
        root = f"{_ivf_root(path)}/corpus"
        return max(
            len([f for f in os.listdir(os.path.join(root, d))
                 if f.endswith(".parquet")])
            for d in os.listdir(root) if d.startswith("cl=")
        )

    # scatter the same rows into many files per cell (append-mode
    # ingest shape), then compact
    scattered = spark.read.parquet(f"{_ivf_root(path)}/corpus").repartition(8)
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        scattered.write.mode("overwrite").partitionBy("cl").parquet(
            f"{_ivf_root(path)}/corpus"
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    assert max_cell_files() > 1
    SIM.ivf_index_maintain(spark, path, max_files_per_cell=1)
    assert max_cell_files() <= 1
    after = sorted(map(tuple, SIM.knn_ivf_indexed(
        spark, path, queries, k=5, nprobe=2).collect()))
    assert before == after


def test_ivf_index_update_replaced_id_moves_cells(spark, tmp_path):
    """A CHANGED vector whose nearest centroid moves from cell A to
    cell B must not leave its stale row behind in A (the r4 advice
    finding): the delta's NEW cells alone would rewrite only B, so
    the update has to pull A into the touched set via the old-home
    probe. Synthetic 2-D fixture where the move is unambiguous."""

    class FakeModel:
        def clusterCenters(self):
            return [[0.0, 0.0], [10.0, 10.0]]

    emb = spark.createDataFrame(
        [
            (1, [0.1, 0.1]),   # cell 0
            (2, [10.0, 10.1]), # cell 1
            (3, [0.2, 0.3]),   # cell 0
        ],
        "vec_id long, embedding array<double>",
    )
    path = str(tmp_path / "ivf_move")
    SIM.ivf_index_write(emb, path, FakeModel())
    # id 1 moves to cell 1; the delta's new-cell set is {1} only
    delta = spark.createDataFrame(
        [(1, [9.9, 9.9])], "vec_id long, embedding array<double>"
    )
    touched = SIM.ivf_index_update(spark, path, delta)
    assert sorted(touched) == [0, 1]  # old home included
    stored = spark.read.parquet(f"{_ivf_root(path)}/corpus")
    rows = {
        r["vec_id"]: (r["cl"], r["vec"]) for r in stored.collect()
    }
    assert len(rows) == 3  # no duplicate id anywhere
    assert rows[1][0] == 1 and rows[1][1] == [9.9, 9.9]
    assert rows[2][0] == 1 and rows[3][0] == 0


def test_ivf_index_stream_maintenance(spark, sf_dir, tmp_path):
    """Embedding stream -> foreachBatch(ivf_index_update): after the
    stream drains, the index equals a full rebuild over seed+delta."""
    import json

    from reader_spark.session import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    seed = emb.filter(F.col("vec_id") < 400)
    model = SIM.ivf_fit(seed, n_clusters=8, seed=7)
    path = str(tmp_path / "ivf_s")
    SIM.ivf_index_write(seed, path, model)

    delta_rows = emb.filter(
        (F.col("vec_id") >= 400) & (F.col("vec_id") < 440)
    ).collect()
    src = tmp_path / "emb_stream"
    src.mkdir()
    with open(src / "d.json", "w") as f:
        for r in delta_rows:
            f.write(json.dumps({
                "vec_id": r["vec_id"],
                "embedding": [float(x) for x in r["embedding"]],
                "label": r["label"],
            }) + "\n")
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>, label int")
        .json(str(src))
    )
    q = (
        stream.writeStream.foreachBatch(SIM.ivf_index_maintainer(path))
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_ivf"))
        .start()
    )
    q.awaitTermination(120)
    assert spark.read.parquet(f"{_ivf_root(path)}/corpus").count() == 440
    full = seed.unionByName(
        emb.filter((F.col("vec_id") >= 400) & (F.col("vec_id") < 440))
    )
    path2 = str(tmp_path / "ivf_s_full")
    SIM.ivf_index_write(full, path2, model)
    queries = full.filter(F.col("vec_id").isin([3, 405, 433]))
    got = SIM.knn_ivf_indexed(spark, path, queries, k=5, nprobe=2)
    want = SIM.knn_ivf_indexed(spark, path2, queries, k=5, nprobe=2)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_record_linkage_catches_first_char_typo(spark):
    """The r4 single prefix block missed early-position typos; the
    two-half union block is pigeonhole-complete for substitutions
    (r4 verdict stretch #9)."""
    from reader_spark.queries import _record_linkage_frame

    cust = spark.createDataFrame(
        [
            (1, "Customer#000000001", 10.0),
            (2, "Xustomer#000000001", 12.5),   # first-char typo of 1
            (3, "Customer#000000002", 99.0),   # last-char neighbor of 1
            (4, "Customer#999999999", 50.0),   # unrelated
        ],
        "c_custkey long, c_name string, c_acctbal double",
    )
    got = {
        (r["cust_a"], r["cust_b"]): (r["name_dist"], r["bal_diff"])
        for r in _record_linkage_frame(cust).collect()
    }
    assert (1, 2) in got and got[(1, 2)] == (1, 2.5)   # early typo found
    assert (1, 3) in got and got[(1, 3)][0] == 1       # late typo still found
    assert all(4 not in pair for pair in got)


def test_knn_binary_rescore_exact_and_recall(spark):
    """Binary quantization: every emitted cos_sim equals the
    brute-force value for that pair (Hamming only SELECTS), and on
    clustered data recall@5 stays high at generous rerank."""
    import random

    rng = random.Random(11)
    dim, n_centers, per_center = 64, 8, 40
    rows = []
    for cid in range(n_centers):
        center = [3.0 if d % n_centers == cid else -1.0 for d in range(dim)]
        for j in range(per_center):
            rows.append(
                (cid * per_center + j,
                 [c + rng.uniform(-0.5, 0.5) for c in center])
            )
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"]).withColumn(
        "embedding", F.col("embedding").cast("array<float>")
    )
    qids = [i * per_center for i in range(8)]
    exact = SIM.knn_bruteforce(emb, qids, k=5).collect()
    # rerank must exceed the Hamming-0 tie set (a whole 40-member
    # cluster shares one sign code on this fixture) or the id-ordered
    # tie truncation cuts true neighbors — the knob mirrors knn_pq's
    # quantization-tie sizing rule
    got = SIM.knn_binary(emb, qids, k=5, rerank=45).collect()
    exact_vals = {(r["query_id"], r["neighbor_id"]): r["cos_sim"] for r in exact}
    brute_all = {
        (r["query_id"], r["neighbor_id"]): r["cos_sim"]
        for r in SIM.knn_bruteforce(emb, qids, k=len(rows)).collect()
    }
    for r in got:
        assert brute_all[(r["query_id"], r["neighbor_id"])] == r["cos_sim"]
    recall = len(
        {(r["query_id"], r["neighbor_id"]) for r in got}
        & set(exact_vals)
    ) / len(exact_vals)
    assert recall >= 0.9, recall


def test_lsh_tuning_report_monotone_tradeoff(spark, sf_dir):
    """The knob table's invariants: more/narrower bands never lose
    recall (candidate sets are supersets as band_size drops at fixed
    num_hashes), every config's hits are bounded by its candidates
    and the shared truth, and the single-config audit row agrees
    with the swept row for the same knobs."""
    from reader_spark.operators import dedup as DD

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rep = {
        (r["num_hashes"], r["band_size"]): r
        for r in DD.lsh_tuning_report(
            docs, configs=((16, 8), (16, 4), (16, 2)), sample=48
        ).collect()
    }
    assert set(rep) == {(16, 8), (16, 4), (16, 2)}
    n_true = {r["n_true"] for r in rep.values()}
    assert len(n_true) == 1  # shared ground truth across configs
    # narrower bands: recall monotone non-decreasing, candidates grow
    r8, r4, r2 = rep[(16, 8)], rep[(16, 4)], rep[(16, 2)]
    assert r8["recall_ppm"] <= r4["recall_ppm"] <= r2["recall_ppm"]
    assert r8["n_candidates"] <= r4["n_candidates"] <= r2["n_candidates"]
    for r in rep.values():
        assert r["n_hits"] <= min(r["n_candidates"], r["n_true"])

    single = DD.lsh_recall_report(
        docs, num_hashes=16, band_size=8, sample=48
    ).collect()[0]
    assert single["recall_ppm"] == r8["recall_ppm"]
    assert single["n_candidates"] == r8["n_candidates"]


def test_production_banding_recall_gate(spark, sf_dir):
    """Acceptance gate for the DEFAULT near-dup screen (VERDICT r9
    #1): the recall the k=128/r=8/b=16 S-curve promises (~0.95 at
    j=0.8) must actually be measured by the audit — >=90% of true
    near-dup pairs at the verify threshold. The old (16, 8) default
    measured ~46% on the same fixture; every consumer of the banded
    screen (near-dup dedup, the graph index, split edges,
    decontamination) inherits this gate."""
    from reader_spark.operators import dedup as DD

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    row = DD.lsh_recall_report(docs, sample=48).collect()[0]
    assert row["recall_ppm"] >= 900_000, dict(row.asDict())
    # and the screen still screens: candidates stay far below the
    # all-pairs count (the reason LSH exists)
    n = row["n_sample"]
    assert row["n_candidates"] < n * (n - 1) // 2


def test_neardup_index_params_pin_wins(spark, tmp_path, sf_dir):
    """The index's LSH parameters are pinned at build time
    (_params.json): an update invoked with DIFFERENT values must
    resolve the pin — banding the delta at another width would join
    incomparable band keys (zero cross candidates, silent recall
    collapse). update-after-mismatched-call == fresh rebuild at the
    pinned parameters."""
    from reader_spark.operators import dedup as DD

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(20)
    old = docs.filter("doc_id < 10")
    delta = docs.filter("doc_id >= 10")

    inc = str(tmp_path / "inc")
    DD.neardup_index_write(old, inc, num_hashes=8, band_size=2,
                           threshold=0.7)
    # mismatched caller: library defaults (128, 8, 0.8) — pin wins
    DD.neardup_index_update(spark, inc, delta)

    full = str(tmp_path / "full")
    DD.neardup_index_write(docs, full, num_hashes=8, band_size=2,
                           threshold=0.7)

    got = {
        (r["doc_a"], r["doc_b"])
        for r in DD.neardup_edges(spark, inc).collect()
    }
    want = {
        (r["doc_a"], r["doc_b"])
        for r in DD.neardup_edges(spark, full).collect()
    }
    assert got == want
    p = DD._nd_params(inc)
    assert (p["num_hashes"], p["band_size"], p["threshold"]) == (8, 2, 0.7)


def test_minhash_arrow_bit_identical_to_expression(spark, sf_dir):
    """The Arrow (mapInPandas + numpy) signature kernel must be
    BIT-IDENTICAL to the expression-form oracle — same md5-base
    hashes, same affine mix mod P (all values < 2^60, int64 never
    overflows), same all-NULL rows for empty/NULL docs — so it feeds
    the banding, index layout, and DuckDB oracles unchanged."""
    from kernel_oracles import minhash_signature_expr

    from reader_spark.operators import dedup as DD

    edge = spark.createDataFrame(
        [(0, "a b c d e"), (1, None), (2, ""), (3, "x"),
         (4, " ".join(f"t{i}" for i in range(700)))],
        ["doc_id", "text"],
    )
    for df in (
        edge,
        spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200),
    ):
        exp = minhash_signature_expr(df, num_hashes=32).orderBy(
            "doc_id"
        ).collect()
        arr = DD.minhash_signature(df, num_hashes=32).orderBy(
            "doc_id"
        ).collect()
        assert [tuple(r) for r in exp] == [tuple(r) for r in arr]


def test_simhash_arrow_bit_identical_to_expression(spark):
    """The Arrow SimHash kernel must equal the expression-fold oracle
    bit-for-bit: same sign counts, same count > 0 bit test, NULL
    text -> NULL simhash."""
    from kernel_oracles import simhash_expr

    from reader_spark.operators import dedup as DD

    docs = spark.createDataFrame(
        [(0, "a b c d e"), (1, None), (2, ""), (3, "x"),
         (4, " ".join(f"t{i}" for i in range(700)))],
        ["doc_id", "text"],
    )
    e = simhash_expr(docs).orderBy("doc_id").collect()
    a = DD.simhash(docs).orderBy("doc_id").collect()
    assert [tuple(r) for r in e] == [tuple(r) for r in a]


def test_oph_build_records_density_and_falls_back_on_short_docs(
    spark, tmp_path
):
    """OPH's densification tradeoff must be priced AT BUILD TIME:
    the pin records mean filled buckets, and a short-doc corpus
    (tokens << k, signature mostly correlated borrows) falls back to
    the classic scheme with the requested scheme kept auditable."""
    import warnings as W

    from reader_spark.operators import dedup as DD

    # short docs: ~4 distinct tokens vs k=128 -> density << k/2
    short = docs_df(
        spark, [f"tiny doc number {i}" for i in range(12)]
    )
    idx = str(tmp_path / "short_oph")
    with W.catch_warnings(record=True) as caught:
        W.simplefilter("always")
        DD.neardup_index_write(short, idx, scheme="oph")
    assert any("short-doc corpus" in str(w.message) for w in caught)
    p = DD._nd_params(idx)
    assert p["scheme"] == "classic"
    assert p["scheme_requested"] == "oph"
    assert (
        0
        < p["mean_filled_buckets"]
        < DD.OPH_MIN_FILLED_FRACTION * p["num_hashes"]
    )

    # long docs: >> k distinct tokens -> density near k, oph kept
    long_docs = docs_df(
        spark,
        [
            " ".join(f"w{i}t{j}" for j in range(600))
            for i in range(6)
        ],
    )
    idx2 = str(tmp_path / "long_oph")
    DD.neardup_index_write(long_docs, idx2, scheme="oph")
    p2 = DD._nd_params(idx2)
    assert p2["scheme"] == "oph"
    assert "scheme_requested" not in p2
    assert p2["mean_filled_buckets"] >= 0.5 * p2["num_hashes"]


def test_decontaminate_incremental_unpinned_index_raises(
    spark, tmp_path
):
    """A legacy index without _params.json must NOT silently assume
    the current defaults: a pre-r10 index built at k=16 would band
    incomparably and contaminated docs would pass at collapsed
    recall. Explicit caller parameters (the index-update legacy
    contract) unlock it."""
    import os

    import pytest as _pytest

    from reader_spark.operators import dedup as DD

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over dogs")],
        ["doc_id", "text"],
    )
    train = docs_df(spark, ["the quick brown fox jumps over dogs",
                            "completely unrelated text entirely"])
    idx = str(tmp_path / "legacy")
    DD.neardup_index_write(bench, idx, num_hashes=16, band_size=2)
    os.remove(os.path.join(idx, "_params.json"))  # legacy index
    with _pytest.raises(ValueError, match="_params.json"):
        DD.decontaminate_incremental(spark, train, idx)
    # explicit params matching the build unlock the legacy index
    got = {
        r["doc_id"]
        for r in DD.decontaminate_incremental(
            spark, train, idx, num_hashes=16, band_size=2
        ).collect()
    }
    assert got == {1}


def test_decontaminate_incremental_equals_batch(spark, tmp_path, sf_dir):
    """Incremental (index-backed) decontamination == the batch form
    on the same corpus: the cross-pair candidate set from the band
    equi-join equals what corpus-wide banding emits for
    (delta x benchmark) pairs, and the verify is the same exact
    Jaccard — so the surviving train sets are identical."""
    from pyspark.sql import functions as F

    from reader_spark import queries as Q
    from reader_spark.operators import curation as CU
    from reader_spark.operators import dedup as DD

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    splits = CU.dataset_split(docs).select("doc_id", "split")
    bench = docs.join(
        splits.filter(F.col("split") != "train").select("doc_id"),
        "doc_id", "left_semi",
    )
    train = docs.join(
        splits.filter(F.col("split") == "train").select("doc_id"),
        "doc_id", "left_semi",
    )
    idx = str(tmp_path / "benchidx")
    DD.neardup_index_write(bench, idx)  # production defaults, pinned
    got = {
        r["doc_id"]
        for r in DD.decontaminate_incremental(spark, train, idx)
        .select("doc_id").collect()
    }
    want = {
        r["doc_id"]
        for r in Q.decontaminate_train_q(spark, sf_dir).collect()
    }
    assert got == want


def test_oph_signature_scheme(spark, tmp_path, sf_dir):
    """One-permutation hashing: the O(tokens) signature scheme must
    (a) keep recall at the production banding (>=90% at j=0.8 — the
    same gate the classic scheme passes), (b) produce the identical
    schema so the whole downstream pipeline is scheme-agnostic, and
    (c) pin its scheme in the index so updates band compatibly:
    update-after-write == fresh rebuild, both under scheme='oph'."""
    from pyspark.sql import functions as F

    from reader_spark.operators import dedup as DD

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    row = DD.lsh_recall_report(docs, sample=48, scheme="oph").collect()[0]
    assert row["recall_ppm"] >= 900_000, dict(row.asDict())

    # schema identity with the classic scheme
    toks = DD.token_hashes(docs.limit(5))
    a = DD.minhash_signature(toks, num_hashes=32, hashes_col="toks")
    b = DD.oph_signature(toks, num_hashes=32, hashes_col="toks")
    assert a.columns == b.columns
    assert dict(a.dtypes) == dict(b.dtypes)

    # borrowed coordinates never collide with genuine ones: a genuine
    # minimum is < P, a borrow is >= P (offset by distance * P)
    vals = b.collect()[0]
    assert all(vals[f"h{i}"] is not None for i in range(32))

    # scheme pin: write oph, update with CLASSIC-default call — the
    # pin routes the delta through oph and update == rebuild
    sub = docs.limit(20)
    inc = str(tmp_path / "inc")
    DD.neardup_index_write(
        sub.filter("doc_id < 10"), inc,
        num_hashes=32, band_size=8, threshold=0.7, scheme="oph",
    )
    DD.neardup_index_update(spark, inc, sub.filter("doc_id >= 10"))
    full = str(tmp_path / "full")
    DD.neardup_index_write(
        sub, full, num_hashes=32, band_size=8, threshold=0.7, scheme="oph",
    )
    got = {(r["doc_a"], r["doc_b"])
           for r in DD.neardup_edges(spark, inc).collect()}
    want = {(r["doc_a"], r["doc_b"])
            for r in DD.neardup_edges(spark, full).collect()}
    assert got == want
    assert DD._nd_params(inc)["scheme"] == "oph"


def test_pq_encode_arrow_bit_identical_to_expression(spark, sf_dir):
    """The Arrow PQ encoder == the expression-form oracle
    row-for-row: same squared-L2 partial-sum order (sequential cumsum
    == left fold), same tie-to-smaller-codeword rule (argmin-first
    over ascending-cw codebooks == min(struct(d2, cw)))."""
    from kernel_oracles import pq_encode_expr
    from pyspark.sql import functions as F

    from reader_spark.operators import similarity as SI

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dim = len(emb.select("embedding").first()[0])
    m = 8
    vecs = emb.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("vec"),
        F.col("label").alias("cluster"),
    )
    books = SI.pq_codebooks(vecs, m, dim)
    from reader_spark.cache import pin

    books = pin(books)
    e = pq_encode_expr(vecs, books, m, dim).orderBy(
        "vec_id", "s"
    ).collect()
    a = SI.pq_encode(vecs, books, m, dim).orderBy(
        "vec_id", "s"
    ).collect()
    assert [tuple(r) for r in e] == [tuple(r) for r in a]


def test_nearest_clusters_arrow_identical_to_expression(spark, sf_dir):
    """The Arrow nprobe=1 assignment == the expression struct-min
    oracle: same dot (sequential cumsum == left fold), same
    (nv - 2*dot) + nc op order, argmin-first over ascending-cl
    centroids == min(struct(dist, cl)). Centroids come from the
    kmeans_assign pipeline (two Lloyd iterations)."""
    from kernel_oracles import nearest_cluster_expr

    from reader_spark.cache import release_pins
    from reader_spark.operators import similarity as SI

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    try:
        vecs = SI._kmeans_vecs(emb, "vec_id", "embedding", "label")
        cents = SI.kmeans_lloyd(vecs, n_iters=2)
        side = vecs.drop("cluster")
        arrow = sorted(
            (r["vec_id"], r["cl"])
            for r in SI.nearest_clusters(side, cents, 1, "vec_id").collect()
        )
        expr = sorted(
            (r["vec_id"], r["cl"])
            for r in nearest_cluster_expr(side, cents, "vec_id").collect()
        )
        assert arrow == expr
        assert len(arrow) == emb.count()
    finally:
        release_pins()


def test_pq_encode_degenerate_codebooks_parity(spark, sf_dir):
    """r12 (advice): the arrow encoder must DEGRADE exactly like the
    expression-form oracle on degenerate codebooks — empty books
    encode nothing (no ValueError from max()), and a subspace absent
    from the books emits no rows for that s (no worker KeyError) —
    the bit-identity contract holds on bad inputs too."""
    from kernel_oracles import pq_encode_expr
    from pyspark.sql import functions as F

    from reader_spark.operators import similarity as SI

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(50)
    dim = len(emb.select("embedding").first()[0])
    m = 8
    vecs = emb.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("vec"),
        F.col("label").alias("cluster"),
    )
    full_books = SI.pq_codebooks(vecs, m, dim)

    empty_books = full_books.limit(0)
    for encode in (SI.pq_encode, pq_encode_expr):
        out = encode(vecs, empty_books, m, dim)
        assert out.count() == 0
        assert out.columns == ["vec_id", "s", "code"]

    # drop subspace 3 entirely: kernel and oracle emit rows only for
    # the 7 remaining subspaces, identically
    holey = full_books.filter(F.col("s") != 3)
    e = pq_encode_expr(vecs, holey, m, dim).orderBy(
        "vec_id", "s"
    ).collect()
    a = SI.pq_encode(vecs, holey, m, dim).orderBy(
        "vec_id", "s"
    ).collect()
    assert [tuple(r) for r in e] == [tuple(r) for r in a]
    assert {r["s"] for r in a} == {0, 1, 2, 4, 5, 6, 7}
