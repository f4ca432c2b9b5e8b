"""Corpus-curation operator tests (operators/curation.py):
repetition metrics, contamination screen, deterministic samplers,
and the sign-LSH semantic dedup invariants."""

import math

import pyspark.sql.functions as F

from reader_spark.operators import curation as CU


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_repetition_metrics_known_values(spark):
    df = _docs(
        spark,
        [
            (1, "a a a b"),          # top=3/4, bigrams: aa,aa,ab -> dup 1/3
            (2, "x y z"),            # all distinct
            (3, "w"),                # single token, zero bigrams
        ],
    )
    out = {r["doc_id"]: r for r in CU.repetition_metrics(df).collect()}
    assert out[1]["n_tokens"] == 4
    assert out[1]["top_token_frac"] == 0.75
    assert out[1]["distinct_ratio"] == 0.5
    assert abs(out[1]["dup_bigram_frac"] - round(1 / 3, 6)) < 1e-9
    assert out[2]["top_token_frac"] == round(1 / 3, 6)
    assert out[2]["dup_bigram_frac"] == 0.0
    assert out[3]["n_tokens"] == 1
    assert out[3]["dup_bigram_frac"] == 0.0


def test_ngram_contamination_hits(spark):
    bench = _docs(spark, [(100, "the quick brown fox jumps")])
    docs = _docs(
        spark,
        [
            (1, "the quick brown fox sleeps"),  # shares 2 of 3 grams
            (2, "totally different words here now"),
        ],
    )
    out = {r["doc_id"]: r for r in CU.ngram_contamination(docs, bench, n=3).collect()}
    assert out[1]["n_grams"] == 3
    assert out[1]["n_hit"] == 2
    assert abs(out[1]["contamination"] - round(2 / 3, 6)) < 1e-9
    assert out[2]["n_hit"] == 0 and out[2]["contamination"] == 0.0


def test_stratified_sample_deterministic_and_bounded(spark, sf_dir):
    from reader_spark.session import read_table

    docs = read_table(spark, sf_dir, "documents")
    a = CU.stratified_sample(docs, ["lang", "source"], cap=5)
    kept1 = sorted(r["doc_id"] for r in a.collect())
    kept2 = sorted(
        r["doc_id"]
        for r in CU.stratified_sample(
            docs.repartition(13), ["lang", "source"], cap=5
        ).collect()
    )
    # identical under any partitioning (hash decision, no RNG)
    assert kept1 == kept2
    assert 0 < len(kept1) < docs.count()
    # every stratum's keep rate respects min(1, cap/n)
    rates = CU.stratified_sample(docs, ["lang", "source"], cap=5).select(
        "rate"
    ).distinct().collect()
    assert all(0 < r["rate"] <= 1.0 for r in rates)


def test_temperature_resample_rates_monotonic(spark, sf_dir):
    from reader_spark.session import read_table

    docs = read_table(spark, sf_dir, "documents")
    out = CU.temperature_resample(docs, "lang", alpha=0.3)
    rates = {r["lang"]: r["rate"] for r in out.select("lang", "rate").distinct().collect()}
    counts = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    # bigger groups get strictly smaller keep rates; smallest keeps all
    ordered = sorted(counts, key=counts.get)
    assert rates[ordered[0]] == 1.0
    for lo, hi in zip(ordered, ordered[1:]):
        if counts[hi] > counts[lo]:
            assert rates[hi] < rates[lo]
    # rate law: (min_n / n)^0.7
    mn = min(counts.values())
    for lang, n in counts.items():
        assert abs(rates[lang] - round(math.pow(mn / n, 0.7), 6)) < 1e-9


def test_hyperplane_deterministic():
    a = CU.hyperplane(3, 64)
    b = CU.hyperplane(3, 64)
    assert a == b and len(a) == 64
    assert all(-1.0 <= x <= 1.0 for x in a)
    assert CU.hyperplane(4, 64) != a


def test_semantic_dedup_keep_min_invariants(spark, sf_dir):
    from reader_spark.session import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    out = CU.semantic_dedup(emb, n_planes=8, dim=64, threshold=0.2)
    rows = out.collect()
    assert len(rows) == emb.count()
    by_bucket = {}
    for r in rows:
        by_bucket.setdefault(r["bucket"], []).append(r)
    # the minimum id in every bucket is always kept
    for members in by_bucket.values():
        smallest = min(members, key=lambda r: r["vec_id"])
        assert smallest["is_kept"] == 1
    # dropped implies a smaller-id neighbor in the same bucket with
    # cosine >= threshold (verified brute-force on the collected set)
    vecs = {
        r["vec_id"]: r["embedding"]
        for r in emb.select("vec_id", "embedding").collect()
    }

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return d / (na * nb)

    dropped = [r for r in rows if r["is_kept"] == 0]
    assert dropped, "threshold should drop at least one vector on fixtures"
    for r in dropped[:50]:
        peers = [
            m for m in by_bucket[r["bucket"]] if m["vec_id"] < r["vec_id"]
        ]
        assert any(
            round(cos(vecs[r["vec_id"]], vecs[m["vec_id"]]), 6) >= 0.2
            for m in peers
        ), f"vec {r['vec_id']} dropped without a dominating neighbor"


def test_passage_stats_duplicated_spans(spark):
    from reader_spark.operators import curation as CU

    # doc 1 and 2 share their first 8-word passage exactly; doc 3 is
    # unique; doc 4 is a short doc (< width) duplicated verbatim in 5
    shared = "a b c d e f g h"
    rows = [
        (1, shared + " tail one x y z w q r"),
        (2, shared + " tail two k l m n o p"),
        (3, "entirely unique words here that repeat nowhere else at all"),
        (4, "tiny doc"),
        (5, "tiny doc"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in CU.passage_stats(docs, width=8).collect()}
    # 16 tokens -> 2 passages each for docs 1/2
    assert out[1]["n_passages"] == 2 and out[2]["n_passages"] == 2
    assert out[1]["n_dup"] == 1 and out[2]["n_dup"] == 1
    assert out[1]["dup_frac"] == 0.5
    assert out[3]["n_dup"] == 0
    # sub-width docs form one passage; verbatim copies count as dups
    assert out[4] and out[4]["n_passages"] == 1 and out[4]["n_dup"] == 1
    assert out[5]["n_dup"] == 1


def test_unigram_logprob_orders_by_rarity(spark):
    import math

    from reader_spark.operators import curation as CU

    # "common" appears 8x, each rare word once: doc 1 (all common)
    # must outscore doc 2 (all rare)
    rows = [
        (1, "common common common common"),
        (2, "rare1 rare2 rare3 rare4"),
        (3, "common common common common"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in CU.unigram_logprob(docs).collect()}
    assert out[1]["n_tokens"] == 4
    assert out[1]["avg_logprob"] > out[2]["avg_logprob"]
    # exact value: total=12 tokens, cf(common)=8 -> ln(8/12)
    assert abs(out[1]["avg_logprob"] - round(math.log(8 / 12), 6)) < 1e-9
    assert abs(out[2]["avg_logprob"] - round(math.log(1 / 12), 6)) < 1e-9


def test_semantic_dedup_hot_bucket_guard(spark):
    from reader_spark.operators import curation as CU

    # 12 identical vectors (one hot bucket, pairwise cosine 1.0) plus
    # two loners orthogonal-ish to them
    base = [1.0] + [0.0] * 63
    other = [0.0] * 32 + [1.0] + [0.0] * 31
    rows = [(i, base) for i in range(12)] + [(100, other), (101, [
        -x for x in other])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # unguarded: the hot bucket collapses to its minimum id
    out = {r["vec_id"]: r["is_kept"] for r in CU.semantic_dedup(emb).collect()}
    assert out[0] == 1 and all(out[i] == 0 for i in range(1, 12))
    # guarded at max_bucket=4: the 12-member bucket never enters the
    # dominance join — every member passes through kept, loners
    # unaffected
    guarded = {
        r["vec_id"]: r["is_kept"]
        for r in CU.semantic_dedup(emb, max_bucket=4).collect()
    }
    assert all(guarded[i] == 1 for i in range(12))
    assert guarded[100] == 1 and guarded[101] == 1
    assert len(guarded) == 14


def test_chunk_documents_boundaries(spark):
    # 10 tokens, width 4, overlap 1 (stride 3): chunks at 0,3,6 cover
    # 1-4, 4-7, 7-10 -> exactly 3 full chunks; n=11 adds a truncated
    # tail chunk at start 9 (tokens 10-11, len 2).
    rows = [
        (1, " ".join(f"t{i}" for i in range(10))),
        (2, " ".join(f"t{i}" for i in range(11))),
        (3, "a b"),  # n <= width -> exactly one chunk
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = CU.chunk_documents(docs, width=4, overlap=1)
    got = {
        (r["doc_id"], r["chunk_id"]): r["n_chunk_tokens"]
        for r in out.collect()
    }
    assert {k[1] for k in got if k[0] == 1} == {0, 1, 2}
    assert all(got[(1, i)] == 4 for i in range(3))
    assert {k[1] for k in got if k[0] == 2} == {0, 1, 2, 3}
    assert got[(2, 3)] == 2  # truncated tail, never padded
    assert got[(3, 0)] == 2 and {k[1] for k in got if k[0] == 3} == {0}
    # overlap: consecutive chunks share `overlap` tokens -> total
    # token-instances = n + overlap * (n_chunks - 1)
    assert sum(v for (d, _), v in got.items() if d == 1) == 10 + 1 * 2


def test_chunk_documents_rejects_bad_overlap(spark):
    import pytest

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError):
        CU.chunk_documents(docs, width=4, overlap=4)


def test_mixture_plan_rates_and_epochs(spark):
    rows = [(1, "a b c d", "web"), (2, "a b", "code"), (3, "x y z w", "web")]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {
        r["source"]: r
        for r in CU.mixture_plan(
            docs, {"web": 0.25, "code": 0.75}, budget_tokens=12
        ).collect()
    }
    # web: 8 tokens have, need 3 -> rate 0.375 (375000 ppm), 1 epoch
    assert out["web"]["tokens_have"] == 8
    assert out["web"]["tokens_needed"] == 3
    assert out["web"]["rate_ppm"] == 375_000
    assert out["web"]["n_epochs"] == 1
    # code: 2 have, need 9 -> rate 4.5 (repeats), 5 epochs
    assert out["code"]["tokens_needed"] == 9
    assert out["code"]["rate_ppm"] == 4_500_000
    assert out["code"]["n_epochs"] == 5


def test_epoch_shuffle_is_permutation_and_epoch_varies(spark):
    docs = spark.createDataFrame(
        [(i,) for i in range(200)], "doc_id long"
    )
    a = CU.epoch_shuffle(docs, n_shards=8, epoch=0).collect()
    assert sorted(r["doc_id"] for r in a) == list(range(200))  # exactly once
    by_shard = {}
    for r in a:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    assert set(by_shard) <= set(range(8))
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1))  # dense ranks
    # determinism + epoch sensitivity
    again = CU.epoch_shuffle(docs, n_shards=8, epoch=0).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, again))
    other = CU.epoch_shuffle(docs, n_shards=8, epoch=1).collect()
    assert {(r["doc_id"], r["shard"], r["pos"]) for r in a} != {
        (r["doc_id"], r["shard"], r["pos"]) for r in other
    }


def test_reservoir_sample_exact_k_and_weight_bias(spark):
    import pyspark.sql.functions as F

    rows = [(i, "s" + str(i % 3)) for i in range(300)]
    docs = spark.createDataFrame(rows, "doc_id long, source string")
    out = CU.reservoir_sample(docs, ["source"], k=7).collect()
    by = {}
    for r in out:
        by.setdefault(r["source"], []).append(r["doc_id"])
    assert set(by) == {"s0", "s1", "s2"}
    assert all(len(v) == 7 for v in by.values())  # exact k
    # deterministic
    again = CU.reservoir_sample(docs, ["source"], k=7).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    # small strata yield min(k, n)
    tiny = spark.createDataFrame([(1, "a"), (2, "a")], "doc_id long, source string")
    assert CU.reservoir_sample(tiny, ["source"], k=7).count() == 2

    # weighted: heavy weights must be sampled far above their share
    wdocs = spark.createDataFrame(
        [(i, "x", 10.0 if i < 30 else 0.1) for i in range(300)],
        "doc_id long, source string, wgt double",
    )
    picked = [
        r["doc_id"]
        for r in CU.reservoir_sample(
            wdocs, ["source"], k=20, weight=F.col("wgt")
        ).collect()
    ]
    heavy = sum(1 for d in picked if d < 30)
    assert heavy >= 15, heavy  # 10% of ids, ~100x weight -> dominate


# ---------------------------------------------------------------------------
# round-4b additions: bigram LM scoring + sequence packing


def test_bigram_logprob_hand_computed(spark):
    import math

    docs = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "a c")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in CU.bigram_logprob(docs, lam=0.75).collect()}
    # unigrams: a=3 b=2 c=1, N=6; bigrams: (a,b)=2, (a,c)=1
    pab = 0.75 * (2 / 3) + 0.25 * (2 / 6)
    pac = 0.75 * (1 / 3) + 0.25 * (1 / 6)
    assert out[1]["n_pairs"] == 1
    assert out[1]["avg_logprob"] == round(math.log(pab), 6)
    assert out[3]["avg_logprob"] == round(math.log(pac), 6)


def test_pack_sequences_invariants(spark):
    rows = [(i, " ".join(["t"] * (5 + (i * 7) % 40))) for i in range(80)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = CU.pack_sequences(docs, seq_len=64, n_buckets=4).collect()
    assert len(out) == 80
    fills = {}
    for r in out:
        key = (r["bucket"], r["seq_idx"])
        fills.setdefault(key, []).append((r["seq_off"], r["n_tok"]))
    for (bkt, seq), items in fills.items():
        items.sort()
        # offsets are contiguous within a sequence
        pos = 0
        for off, n in items:
            assert off == pos
            pos += n
        # no sequence exceeds capacity unless it is a single long doc
        assert pos <= 64 or len(items) == 1
    # packing actually packs: sequences average > 1 doc
    assert len(out) / len(fills) > 1.5


def test_pack_sequences_layout_invariant(spark):
    rows = [(i, " ".join(["t"] * (3 + i % 9))) for i in range(60)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    a = sorted(map(tuple, CU.pack_sequences(docs.repartition(2), 32, 4).collect()))
    b = sorted(map(tuple, CU.pack_sequences(docs.repartition(11), 32, 4).collect()))
    assert a == b


def test_vocab_coverage_hand_computed(spark):
    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "a c"), (3, "d d d")],
        "doc_id long, text string",
    )
    # counts: a=3 d=3 b=1 c=1 -> top-2 vocab (count desc, term) = a, d
    out = {r["doc_id"]: r for r in CU.vocab_coverage(docs, vocab_size=2).collect()}
    assert (out[1]["n_oov"], out[1]["n_tokens"]) == (1, 3)
    assert out[2]["n_oov"] == 1 and out[2]["oov_rate"] == 0.5
    assert out[3]["n_oov"] == 0


def test_duplicate_spans_hand_case(spark):
    """Hand-checkable span merging: two docs share an 8-token run
    that straddles a doc-A chunk boundary; overlapping windows find
    it and the merged interval covers exactly the shared tokens."""
    from reader_spark.operators import curation as CU

    shared = " ".join(f"s{i}" for i in range(10))  # 10 shared tokens
    docs = spark.createDataFrame(
        [
            # doc 1: 4 unique tokens, then the shared run, then 3 unique
            (1, "a b c d " + shared + " x y z"),
            # doc 2: the shared run alone
            (2, shared),
            # doc 3: fully unique, longer than width
            (3, " ".join(f"u{i}" for i in range(12))),
            # doc 4: shorter than width -> no spans
            (4, "tiny doc"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in CU.duplicate_spans(docs, width=8).collect()}
    # doc 2: windows at s=0,1,2 all duplicated (they appear inside
    # doc 1); merged interval [0, 10) -> all 10 tokens covered
    assert out[2]["n_tokens"] == 10 and out[2]["dup_tokens"] == 10
    assert out[2]["dup_frac"] == 1.0
    # doc 1: duplicated windows are exactly the shared run's three
    # 8-grams at s=4,5,6 -> merged [4, 14) = 10 tokens of 17
    assert out[1]["n_tokens"] == 17 and out[1]["dup_tokens"] == 10
    # unique and too-short docs report zero
    assert out[3]["dup_tokens"] == 0 and out[4]["dup_tokens"] == 0
    # non-overlapping chunking misses the straddled run in doc 1:
    # its chunks are [0,8) and [8,16) + tail, neither equal to a
    # doc-2 chunk
    ps = {r["doc_id"]: r for r in CU.passage_stats(docs, width=8).collect()}
    assert ps[1]["n_dup"] == 0 and out[1]["dup_tokens"] == 10


def test_duplicate_spans_islands_disjoint_runs(spark):
    """Two disjoint duplicated runs in one doc stay separate islands
    and their token coverage adds."""
    from reader_spark.operators import curation as CU

    run_a = " ".join(f"a{i}" for i in range(8))
    run_b = " ".join(f"b{i}" for i in range(8))
    filler = " ".join(f"f{i}" for i in range(5))
    docs = spark.createDataFrame(
        [
            (1, run_a + " " + filler + " " + run_b),
            (2, run_a),
            (3, run_b),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in CU.duplicate_spans(docs, width=8).collect()}
    assert out[1]["n_tokens"] == 21
    assert out[1]["dup_tokens"] == 16  # 8 + 8, filler not covered


def test_budget_select_matches_greedy_reference(spark):
    """budget_select == a Python reference of its spec: all levels
    that fit entirely are in, the single boundary level fills by
    md5-ordered greedy whole-doc prefix, nothing below enters. Also:
    total tokens <= budget, determinism across runs."""
    import hashlib

    # 40 docs, 8 quality levels (doc_id % 8 / 10), 1..5 tokens each
    rows = [(i, " ".join(["w"] * (i % 5 + 1))) for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    quality = (F.col("doc_id") % 8).cast("double") / 10.0
    budget = 50

    def hppm(i):
        return int(hashlib.md5(f"bsel:{i}".encode()).hexdigest()[:8], 16) % 1_000_000

    # python reference
    toks = {i: i % 5 + 1 for i in range(40)}
    qppm = {i: round((i % 8) / 10.0 * 1_000_000) for i in range(40)}
    levels = sorted(set(qppm.values()), reverse=True)
    expect, spent = set(), 0
    for lvl in levels:
        members = [i for i in range(40) if qppm[i] == lvl]
        lvl_toks = sum(toks[i] for i in members)
        if spent + lvl_toks <= budget:
            expect |= set(members)
            spent += lvl_toks
        elif spent < budget:
            run = 0
            for i in sorted(members, key=lambda i: (hppm(i), i)):
                run += toks[i]
                if run <= budget - spent:
                    expect.add(i)
            break
        else:
            break

    got = CU.budget_select(docs, budget, quality).collect()
    assert {r["doc_id"] for r in got} == expect
    assert sum(r["toks"] for r in got) <= budget
    again = CU.budget_select(docs, budget, quality).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, again))


def test_remove_duplicate_spans_excises_islands(spark):
    """Two docs sharing an 8-token run: the run is cut from BOTH
    (the published tool's remove-every-occurrence semantics),
    surviving tokens keep their order, and a unique doc is untouched.
    kept + dup == total against the report operator."""
    from reader_spark.operators import curation as CU

    shared = "q w e r t y u i"  # 8 shared tokens
    rows = [
        (1, f"a b {shared} c d"),
        (2, f"x {shared} z"),
        (3, "totally unique words with no duplicate run here ok"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           CU.remove_duplicate_spans(docs, width=8).collect()}
    import hashlib

    md5 = lambda t: hashlib.md5(t.encode()).hexdigest()
    assert out[1]["kept_tokens"] == 4
    assert out[1]["clean_hash"] == md5("a b c d")
    assert out[2]["kept_tokens"] == 2
    assert out[2]["clean_hash"] == md5("x z")
    assert out[3]["kept_tokens"] == out[3]["n_tokens"]
    assert out[3]["clean_hash"] == md5(rows[2][1])
    rep = {r["doc_id"]: r for r in
           CU.duplicate_spans(docs, width=8).collect()}
    for d in out:
        assert out[d]["kept_tokens"] + rep[d]["dup_tokens"] == rep[d]["n_tokens"]


def test_decontaminate_train_drops_near_dups_of_holdout(spark):
    """Composable decontamination shape (the catalog query composes
    the same primitives over md5 splits): a train doc near-dup of a
    holdout doc is dropped, an unrelated train doc survives."""
    import pyspark.sql.functions as F

    from reader_spark.operators import dedup as DD

    rows = [
        (1, "a b c d e f g h i j", "train"),
        (2, "a b c d e f g h i k", "test"),   # near-dup of 1
        (3, "totally different content words here now ok fine", "train"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, split string")
    toks = DD.token_hashes(docs)
    sigs = DD.minhash_signature(toks, num_hashes=8, hashes_col="toks")
    pairs = DD.lsh_candidate_pairs(sigs, num_hashes=8, band_size=2)
    verified = DD.jaccard_verify(pairs, docs, threshold=0.8, toks=toks)
    la = docs.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("sp_a"))
    lb = docs.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("sp_b"))
    lab = verified.join(la, "doc_a").join(lb, "doc_b")
    leaked = (
        lab.filter((F.col("sp_a") == "train") & (F.col("sp_b") != "train"))
        .select(F.col("doc_a").alias("doc_id"))
        .unionByName(
            lab.filter((F.col("sp_b") == "train") & (F.col("sp_a") != "train"))
            .select(F.col("doc_b").alias("doc_id"))
        )
        .distinct()
    )
    kept = sorted(
        r["doc_id"]
        for r in docs.filter("split = 'train'")
        .join(leaked, "doc_id", "anti").select("doc_id").collect()
    )
    assert kept == [3]


def test_drift_report_and_summary(spark):
    """Identical distributions -> zero drift; a shifted current
    snapshot -> mass moves to higher buckets, out-of-range values
    clamp into the edge bucket instead of dropping, and the exact
    integer TVD/L-inf metrics reflect it."""
    from reader_spark.operators import curation as CU

    ref = spark.createDataFrame(
        [(float(i % 100),) for i in range(1000)], "v double"
    )
    same = CU.drift_summary(ref, ref, "v", n_buckets=10).collect()[0]
    assert same["tvd_ppm"] == 0 and same["linf_ppm"] == 0
    assert same["n_drifted_buckets"] == 0
    assert same["n_ref"] == same["n_cur"] == 1000

    # shift by +50 (half the range): half of cur lands beyond ref's
    # max and must clamp into the top bucket
    cur = spark.createDataFrame(
        [(float(i % 100) + 50.0,) for i in range(1000)], "v double"
    )
    rep = {r["bucket"]: r for r in
           CU.drift_report(ref, cur, "v", n_buckets=10).collect()}
    assert sum(r["cur_n"] for r in rep.values()) == 1000  # nothing dropped
    assert rep[9]["cur_n"] > rep[9]["ref_n"]  # clamped mass on top
    assert all(rep[b]["cur_n"] == 0 for b in range(0, 5))  # low buckets empty
    summ = CU.drift_summary(ref, cur, "v", n_buckets=10).collect()[0]
    assert summ["tvd_ppm"] >= 490_000  # ~half the mass moved
    assert summ["n_drifted_buckets"] >= 5
    # ppm shares are exact integers: recompute TVD from the report
    tvd = sum(abs(r["delta_ppm"]) for r in rep.values()) // 2
    assert summ["tvd_ppm"] == tvd


def test_drift_check_matches_summary_and_watch_stream(spark, tmp_path):
    """drift_check against the PUBLISHED reference == drift_summary
    computed directly from both frames; the streaming drift_watch
    logs one verdict row per micro-batch keyed by batch id (dynamic
    overwrite: a replayed batch replaces, never duplicates)."""
    import json

    from reader_spark.operators import curation as CU

    ref = spark.createDataFrame(
        [(float(i % 100),) for i in range(1000)], "value double"
    )
    ref_path = str(tmp_path / "drift_ref")
    CU.drift_ref_write(ref, ref_path, "value", n_buckets=10)
    cur = spark.createDataFrame(
        [(float(i % 100) + 50.0,) for i in range(500)], "value double"
    )
    got = CU.drift_check(spark, ref_path, cur, "value").collect()[0]
    want = CU.drift_summary(ref, cur, "value", n_buckets=10).collect()[0]
    assert (got["tvd_ppm"], got["linf_ppm"], got["n_drifted_buckets"]) == (
        want["tvd_ppm"], want["linf_ppm"], want["n_drifted_buckets"]
    )
    assert got["n_cur"] == 500

    # streaming watch: two batches, one stable and one shifted
    src = tmp_path / "stream"
    src.mkdir()
    with open(src / "b0.jsonl", "w") as f:
        for i in range(400):
            f.write(json.dumps({"value": float(i % 100)}) + "\n")
    log = str(tmp_path / "drift_log")
    stream = spark.readStream.schema("value double").option(
        "maxFilesPerTrigger", 1
    ).json(str(src))
    q = (
        stream.writeStream.foreachBatch(
            CU.drift_watch(ref_path, log, "value")
        )
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(60)
    with open(src / "b1.jsonl", "w") as f:
        for i in range(400):
            f.write(json.dumps({"value": float(i % 100) + 70.0}) + "\n")
    q = (
        spark.readStream.schema("value double").option(
            "maxFilesPerTrigger", 1
        ).json(str(src))
        .writeStream.foreachBatch(CU.drift_watch(ref_path, log, "value"))
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(60)
    rows = {r["batch"]: r for r in spark.read.parquet(log).collect()}
    assert len(rows) == 2
    stable, shifted = rows[min(rows)], rows[max(rows)]
    assert stable["tvd_ppm"] == 0 and stable["n_drifted_buckets"] == 0
    assert shifted["tvd_ppm"] >= 600_000  # 70% of mass out of place
    assert shifted["n_drifted_buckets"] >= 7
    # replay idempotence: re-running a batch's body replaces its row
    batch_df = spark.read.schema("value double").json(str(src / "b1.jsonl"))
    CU.drift_watch(ref_path, log, "value")(batch_df, max(rows))
    again = {r["batch"]: r for r in spark.read.parquet(log).collect()}
    assert len(again) == 2 and again[max(rows)] == shifted


def test_drift_extreme_outliers_clamp_not_crash(spark, tmp_path):
    """Regression (r8 verdict): a current value FAR outside the
    reference range used to CAST_OVERFLOW — floor() saturates to
    Long.MaxValue and the int cast ran before the clamp — killing
    every drift entry point on exactly the anomaly (corrupted
    sentinel epoch, encoder float overflow) the family exists to
    flag. All four paths must clamp into the edge buckets."""
    from reader_spark.operators import curation as CU

    ref = spark.createDataFrame([(0.0,), (1.0,)], "v double")
    cur = spark.createDataFrame(
        [(1e18,), (-1e18,), (float("inf"),), (0.5,)], "v double"
    )
    rep = {r["bucket"]: r for r in CU.drift_report(ref, cur, "v").collect()}
    assert sum(r["cur_n"] for r in rep.values()) == 4  # nothing dropped
    assert rep[19]["cur_n"] == 2 and rep[0]["cur_n"] == 1  # edge mass
    summ = CU.drift_summary(ref, cur, "v").collect()[0]
    assert summ["tvd_ppm"] > 0 and summ["n_cur"] == 4

    refg = spark.createDataFrame([("a", 0.0), ("a", 1.0)], "g string, v double")
    curg = spark.createDataFrame([("a", 1e18)], "g string, v double")
    grow = CU.drift_report_grouped(refg, curg, "v", "g").collect()[0]
    assert grow["n_cur"] == 1 and grow["tvd_ppm"] == 500_000

    ref_path = str(tmp_path / "xref")
    CU.drift_ref_write(ref, ref_path, "v")
    chk = CU.drift_check(spark, ref_path, cur, "v").collect()[0]
    assert chk["n_cur"] == 4 and chk["tvd_ppm"] == summ["tvd_ppm"]


def test_drift_watch_logs_empty_batch_verdict(spark, tmp_path):
    """An empty micro-batch is the drift signal, not a skip: the
    watch logs a verdict row with n_cur=0 and the one-sided-wipe TVD
    (sum(ref_ppm) div 2 ~= 5e5), and a replayed now-empty batch
    still replaces its stale row."""
    from reader_spark.operators import curation as CU

    ref = spark.createDataFrame(
        [(float(i % 100),) for i in range(1000)], "value double"
    )
    ref_path = str(tmp_path / "eref")
    CU.drift_ref_write(ref, ref_path, "value", n_buckets=10)
    log = str(tmp_path / "elog")
    empty = spark.createDataFrame([], "value double")
    CU.drift_watch(ref_path, log, "value")(empty, 7)
    rows = spark.read.parquet(log).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["batch"] == 7 and r["n_cur"] == 0
    assert 499_999 <= r["tvd_ppm"] <= 500_000
    # replay with data replaces the empty-batch row, not duplicates
    full = spark.createDataFrame(
        [(float(i % 100),) for i in range(200)], "value double"
    )
    CU.drift_watch(ref_path, log, "value")(full, 7)
    again = spark.read.parquet(log).collect()
    assert len(again) == 1 and again[0]["n_cur"] == 200
    assert again[0]["tvd_ppm"] == 0


def test_drift_categorical_report_and_summary(spark):
    """Identical mixes -> zero drift; a vanished category's mass
    redistributes (its share delta is negative, survivors positive);
    categories outside the reference top-K fold into __other__ and
    NOTHING is ever dropped from either side's totals."""
    from reader_spark.operators import curation as CU

    rows = [(f"s{i % 4}",) for i in range(400)]  # 4 sources, 100 each
    ref = spark.createDataFrame(rows, "src string")
    same = CU.drift_summary_categorical(ref, ref, "src").collect()[0]
    assert same["tvd_ppm"] == 0 and same["linf_ppm"] == 0
    assert same["n_drifted_categories"] == 0
    assert same["n_ref"] == same["n_cur"] == 400

    # s3 vanishes; a NEW source s9 appears (not in ref top-K -> OTHER)
    cur = spark.createDataFrame(
        [(f"s{i % 3}",) for i in range(300)] + [("s9",)] * 100, "src string"
    )
    rep = {r["category"]: r for r in
           CU.drift_report_categorical(ref, cur, "src", top_k=4).collect()}
    assert sum(r["cur_n"] for r in rep.values()) == 400  # nothing dropped
    assert rep["s3"]["cur_n"] == 0 and rep["s3"]["delta_ppm"] == -250_000
    assert rep["__other__"]["cur_n"] == 100  # the unknown source
    assert rep["s0"]["cur_ppm"] == 250_000  # 100/400
    summ = CU.drift_summary_categorical(ref, cur, "src", top_k=4).collect()[0]
    tvd = sum(abs(r["delta_ppm"]) for r in rep.values()) // 2
    assert summ["tvd_ppm"] == tvd == 250_000
    assert summ["n_drifted_categories"] == 2  # s3 down 25pp, OTHER up 25pp

    # top-K fold: with top_k=2 only the 2 winners keep their name
    # (ties broken by category value: s0, s1) — the rest are OTHER
    rep2 = {r["category"] for r in
            CU.drift_report_categorical(ref, ref, "src", top_k=2).collect()}
    assert rep2 == {"s0", "s1", "__other__"}
    # nulls are a visible bucket, not dropped rows
    refn = spark.createDataFrame([("a",), (None,)], "src string")
    repn = {r["category"]: r for r in
            CU.drift_report_categorical(refn, refn, "src").collect()}
    assert repn["(null)"]["ref_n"] == 1


def test_drift_categorical_check_and_watch(spark, tmp_path):
    """drift_check_categorical against the PUBLISHED reference ==
    drift_summary_categorical computed directly; the streaming watch
    logs per-batch verdict rows keyed by batch id, including for an
    EMPTY batch (n_cur=0 is the signal, not a skip)."""
    from reader_spark.operators import curation as CU

    ref = spark.createDataFrame(
        [(f"s{i % 4}",) for i in range(400)], "src string"
    )
    ref_path = str(tmp_path / "catref")
    CU.drift_ref_write_categorical(ref, ref_path, "src", top_k=3)
    cur = spark.createDataFrame(
        [(f"s{i % 3}",) for i in range(300)] + [("s9",)] * 100, "src string"
    )
    got = CU.drift_check_categorical(spark, ref_path, cur, "src").collect()[0]
    want = CU.drift_summary_categorical(
        ref, cur, "src", top_k=3
    ).collect()[0]
    assert (got["tvd_ppm"], got["linf_ppm"], got["n_drifted_categories"]) == (
        want["tvd_ppm"], want["linf_ppm"], want["n_drifted_categories"]
    )
    assert got["n_cur"] == 400

    log = str(tmp_path / "catlog")
    watch = CU.drift_watch_categorical(ref_path, log, "src")
    watch(ref, 0)      # stable batch
    watch(cur, 1)      # drifted batch
    watch(spark.createDataFrame([], "src string"), 2)  # empty batch
    rows = {r["batch"]: r for r in spark.read.parquet(log).collect()}
    assert len(rows) == 3
    assert rows[0]["tvd_ppm"] == 0
    assert rows[1]["tvd_ppm"] == got["tvd_ppm"]
    assert rows[2]["n_cur"] == 0 and rows[2]["tvd_ppm"] >= 499_999
    # replay replaces, never duplicates
    watch(cur, 2)
    again = {r["batch"]: r for r in spark.read.parquet(log).collect()}
    assert len(again) == 3 and again[2]["n_cur"] == 400


def test_drift_categorical_grouped_isolates_minority(spark):
    """Per-group anchoring: a mix shift confined to a minority group
    alarms on ITS row while the majority group reads zero; groups
    absent from the reference are skipped (no baseline)."""
    from reader_spark.operators import curation as CU

    ref = spark.createDataFrame(
        [("big", f"s{i % 2}") for i in range(900)]
        + [("small", f"m{i % 2}") for i in range(100)],
        "g string, src string",
    )
    # big unchanged; small flips entirely to one source
    cur = spark.createDataFrame(
        [("big", f"s{i % 2}") for i in range(900)]
        + [("small", "m0") for i in range(100)]
        + [("brandnew", "x") for i in range(50)],
        "g string, src string",
    )
    out = {r["g"]: r for r in CU.drift_report_categorical_grouped(
        ref, cur, "src", "g", top_k=5
    ).collect()}
    assert set(out) == {"big", "small"}  # brandnew skipped: no baseline
    assert out["big"]["tvd_ppm"] == 0
    assert out["small"]["tvd_ppm"] == 500_000  # half the mass moved
    assert out["small"]["n_drifted_categories"] == 2


def test_split_by_component_is_leakage_free(spark):
    """Every member of a component gets the component's split (no
    near-dup family straddles train/test); docs absent from the map
    split as singletons; fractions behave on singleton mass."""
    from reader_spark.operators import curation as CU

    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in range(1000)], "doc_id long, text string"
    )
    comp = spark.createDataFrame(
        [(i, i - (i % 10)) for i in range(500)],  # families of 10
        "doc_id long, component_id long",
    )
    out = CU.split_by_component(docs, comp).collect()
    assert len(out) == 1000
    by_comp = {}
    for r in out:
        by_comp.setdefault(r["component_id"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_comp.values())  # no straddling
    # docs 500..999 are singletons: component == own id
    singles = {r["doc_id"]: r["component_id"] for r in out if r["doc_id"] >= 500}
    assert singles == {i: i for i in range(500, 1000)}
    splits = {r["split"] for r in out}
    assert splits == {"train", "val", "test"}


def test_drift_report_grouped_isolates_minority_drift(spark):
    """A drifting minority group alarms in its own row while the
    stable majority stays at zero — the signal corpus-level drift
    dilutes away; a group that vanished from cur alarms maximally."""
    from reader_spark.operators import curation as CU

    ref = spark.createDataFrame(
        [("big", float(i % 100)) for i in range(900)]
        + [("small", float(i % 100)) for i in range(100)]
        + [("gone", float(i % 100)) for i in range(50)],
        "src string, v double",
    )
    cur = spark.createDataFrame(
        [("big", float(i % 100)) for i in range(900)]
        + [("small", float(i % 100) + 80.0) for i in range(100)],
        "src string, v double",
    )
    out = {
        r["src"]: r
        for r in CU.drift_report_grouped(
            ref, cur, "v", "src", n_buckets=10
        ).collect()
    }
    assert out["big"]["tvd_ppm"] == 0 and out["big"]["n_drifted_buckets"] == 0
    assert out["small"]["tvd_ppm"] >= 700_000  # 80% of range shifted
    assert out["gone"]["n_cur"] == 0
    assert out["gone"]["tvd_ppm"] >= 499_999  # vanished source alarms


def test_occupancy_cap_auto_arithmetic(spark):
    """The 'auto' cap is greatest(SKEW_CAP_FLOOR, FACTOR x mean
    occupancy) with integer DIV — groups above it are excluded from
    the joinable frame and listed in capped_keys; None opts out."""
    from reader_spark.operators import curation as CU

    # 300-member hot key + 600 singleton keys: mean occupancy =
    # 900 DIV 601 = 1, cap = greatest(256, 10) = 256 < 300
    rows = [(i, 0) for i in range(300)] + [
        (1000 + j, 1 + j) for j in range(600)
    ]
    df = spark.createDataFrame(rows, "vid long, k long")
    joinable, capped = CU._occupancy_cap(df, "k", "auto")
    assert {r["k"] for r in capped.collect()} == {0}
    assert joinable.count() == 600
    assert joinable.filter("k = 0").count() == 0

    # explicit int cap
    j2, c2 = CU._occupancy_cap(df, "k", 299)
    assert {r["k"] for r in c2.collect()} == {0}
    # opt-out
    j3, c3 = CU._occupancy_cap(df, "k", None)
    assert j3.count() == 900 and c3.count() == 0


def test_semantic_dedup_auto_cap_mega_bucket(spark):
    """Default-on skew guard (r12): a mega-bucket past the auto cap
    never enters the dominance join — its members pass through kept
    and carry is_capped = 1, so the pair list stays bounded by the
    capped occupancy, not the mega-bucket's square."""
    import math

    from reader_spark.operators import curation as CU

    base = [1.0] + [0.0] * 63
    mega = [(i, base) for i in range(300)]
    # scattered deterministic loners (decorrelated across planes)
    loners = [
        (
            10_000 + j,
            [math.sin(0.7 * j * (d + 1)) for d in range(64)],
        )
        for j in range(1, 601)  # j=0 would be the zero vector
    ]
    emb = spark.createDataFrame(
        mega + loners, "vec_id long, embedding array<double>"
    )
    out = CU.semantic_dedup(emb).collect()
    by_id = {r["vec_id"]: r for r in out}
    # identical vectors, uncapped, would collapse to min id; the cap
    # must keep them ALL and mark them
    for i in range(300):
        assert by_id[i]["is_kept"] == 1
        assert by_id[i]["is_capped"] == 1
    # loners keep flowing through the normal dominance path (a loner
    # whose signs happen to match the mega bucket is capped with it)
    assert 300 <= sum(r["is_capped"] for r in out) <= 310
    # sanity: explicit opt-out restores the collapse
    uncapped = {
        r["vec_id"]: r["is_kept"]
        for r in CU.semantic_dedup(emb, max_bucket=None).collect()
    }
    assert uncapped[0] == 1
    assert all(uncapped[i] == 0 for i in range(1, 300))


def test_occupancy_cap_absolute_ceiling(spark):
    """r12 scale-probe finding: when the group count is SMALL, the
    relative 10x-mean rule is blind (a half-the-corpus mega-group is
    only ~2x the mean) — the absolute ceiling must cap it anyway.
    Two groups of 12k/11k rows: 10x mean = 115k, but both exceed
    SKEW_CAP_CEIL=10k and are excluded from the joinable frame."""
    from pyspark.sql import functions as F

    from reader_spark.operators import curation as CU

    df = spark.range(23_000).select(
        F.col("id").alias("vid"),
        F.when(F.col("id") < 12_000, 0).otherwise(1).alias("k"),
    )
    joinable, capped = CU._occupancy_cap(df, "k", "auto")
    assert {r["k"] for r in capped.collect()} == {0, 1}
    assert joinable.count() == 0


def test_occupancy_cap_many_groups_antijoin_fallback(spark, monkeypatch):
    """r13 (VERDICT item 9): past SKEW_CAP_ISIN_MAX over-cap keys the
    driver-side literal isin gives way to a broadcast anti-join, with
    identical semantics — capped keys excluded, under-cap and
    NULL-key rows flow through — verified by running the same fixture
    through BOTH paths and comparing row sets."""
    from reader_spark.operators import curation as CU

    # 1,500 capped pairs + 50 singletons + 5 NULL-key rows, cap=1
    rows = (
        [(2 * g, g) for g in range(1500)]
        + [(2 * g + 1, g) for g in range(1500)]
        + [(10_000 + j, 100_000 + j) for j in range(50)]
        + [(20_000 + j, None) for j in range(5)]
    )
    df = spark.createDataFrame(rows, "vid long, k long")

    def run():
        joinable, capped = CU._occupancy_cap(df, "k", 1)
        return (
            sorted(r["vid"] for r in joinable.collect()),
            sorted(r["k"] for r in capped.collect()),
        )

    # fallback path (1,500 > 1,000)
    assert CU.SKEW_CAP_ISIN_MAX < 1500
    got_anti = run()
    # literal path, same fixture
    monkeypatch.setattr(CU, "SKEW_CAP_ISIN_MAX", 10_000)
    got_isin = run()
    assert got_anti == got_isin
    vids, keys = got_anti
    assert keys == list(range(1500))
    assert vids == sorted(
        [10_000 + j for j in range(50)] + [20_000 + j for j in range(5)]
    )


def test_semantic_dedup_arrow_bucket_bit_identical(spark, sf_dir, monkeypatch):
    """r12 kernel: the Arrow bucket/norm pass == the expression form
    row-for-row (cumsum partial-sum order == the left fold; integer
    sign packing exact), and the full semantic_dedup output is
    identical on either side of the LSH_KERNEL_BYTES size cut."""
    from reader_spark import cache
    from reader_spark.operators import similarity as SIM
    from reader_spark.session import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    planes = [CU.hyperplane(p, 64) for p in range(8)]
    src = emb.select(
        F.col("vec_id").alias("vid"),
        F.col("embedding").cast("array<double>").alias("vec"),
    )
    kernel = sorted(tuple(r) for r in CU._sem_vecs_arrow(src, planes).collect())
    expr = sorted(
        tuple(r)
        for r in src.select(
            "vid",
            "vec",
            CU.lsh_bucket(F.col("vec"), planes).alias("bucket"),
            F.sqrt(SIM.dot(F.col("vec"), F.col("vec"))).alias("nrm"),
        ).collect()
    )
    assert kernel == expr

    small = sorted(tuple(r) for r in CU.semantic_dedup(emb).collect())
    monkeypatch.setattr(CU, "LSH_KERNEL_BYTES", 0)
    big = sorted(tuple(r) for r in CU.semantic_dedup(emb).collect())
    cache.release_pins()
    assert small == big
    assert len(small) == emb.count()


def test_semantic_dedup_auto_dispatch_size_aware(spark, sf_dir):
    """semantic_dedup takes the expression form on small inputs
    (kernel fixed costs dominate below the crossover) and the Arrow
    kernel past LSH_KERNEL_BYTES — observable in the physical plan."""
    from reader_spark.session import read_table

    emb = read_table(spark, sf_dir, "embeddings")

    def plan_of(df):
        return df._jdf.queryExecution().executedPlan().toString()

    small = plan_of(CU.semantic_dedup(emb))
    assert "MapInPandas" not in small

    old = CU.LSH_KERNEL_BYTES
    CU.LSH_KERNEL_BYTES = 0
    try:
        big = plan_of(CU.semantic_dedup(emb))
    finally:
        CU.LSH_KERNEL_BYTES = old
    from reader_spark import cache

    cache.release_pins()
    assert "MapInPandas" in big
