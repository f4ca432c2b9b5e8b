"""Heavy-hitter sketch tests (operators/sketches.py): exactness of
the two-pass Misra-Gries + recount pipeline, the candidate-volume
bound when the vocabulary is much larger than the sketch, and
invariance to the partition layout."""

import pyspark.sql.functions as F

from reader_spark.operators import sketches as SK


def _skewed_docs(spark, n_rare=400, hot_repeats=60):
    """A corpus whose vocabulary (~400 distinct rare tokens + 3 hot
    ones) is far larger than the sketch size used in tests: 3 hot
    tokens dominate, the long tail appears once each."""
    rows = []
    for i in range(n_rare):
        hot = ["hot%d" % (i % 3)] * (hot_repeats // 20)
        rows.append((i, " ".join(hot + ["rare%d" % i])))
    return spark.createDataFrame(rows, "doc_id long, text string")


def _exact(spark_docs, k, ngram=1):
    """Direct full-shuffle answer to compare against."""
    tok = spark_docs.select(
        F.explode(SK._ngram_terms("text", ngram)).alias("term")
    )
    total = tok.count()
    return {
        (r["term"], r["cnt"])
        for r in tok.groupBy("term")
        .agg(F.count("*").alias("cnt"))
        .where(F.col("cnt") * k > F.lit(total))
        .collect()
    }


def test_heavy_hitters_exact_on_skewed_vocab(spark):
    docs = _skewed_docs(spark)
    k = 10  # sketch far smaller than the ~403-term vocabulary
    got = {
        (r["term"], r["cnt"])
        for r in SK.heavy_hitters(docs, k=k).collect()
    }
    assert got == _exact(docs, k)
    assert {t for t, _ in got} == {"hot0", "hot1", "hot2"}


def test_candidate_volume_bounded_by_k_per_partition(spark):
    docs = _skewed_docs(spark)
    tok = docs.select(F.explode(F.split("text", " ")).alias("term"))
    tok = tok.repartition(6)
    cands = SK.misra_gries_candidates(tok, 10)
    per_part = cands.withColumn(
        "p", F.spark_partition_id()
    ).groupBy("p").count().collect()
    assert per_part, "no partitions produced candidates"
    assert all(r["count"] <= 10 for r in per_part)
    # the sketch really evicts: far fewer candidates than vocab terms
    assert cands.count() < 100 < tok.select("term").distinct().count()


def test_heavy_hitters_partition_layout_invariant(spark):
    docs = _skewed_docs(spark)
    a = {
        (r["term"], r["cnt"])
        for r in SK.heavy_hitters(docs.repartition(2), k=7).collect()
    }
    b = {
        (r["term"], r["cnt"])
        for r in SK.heavy_hitters(docs.repartition(13), k=7).collect()
    }
    assert a == b


def test_heavy_hitters_bigrams(spark):
    docs = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "a b c d"), (3, "x y")],
        "doc_id long, text string",
    )
    got = {
        (r["term"], r["cnt"])
        for r in SK.heavy_hitters(docs, k=4, ngram=2).collect()
    }
    # bigrams: a b ×3 (doc1) + a b (doc2) = 4 of 10 total -> 4*4 > 10
    assert ("a b", 4) in got
    assert all(t == "a b" or c * 4 > 10 for t, c in got)


def test_kmv_tiles_merge_equals_direct(spark):
    """Merging per-hour KMV tiles reproduces the direct whole-table
    sketch EXACTLY (global k-min is contained in the union of tile
    k-mins), and the estimate lands within the theoretical error
    band of the true distinct count."""
    from kernel_oracles import kmv_merge
    from pyspark.sql import functions as F

    from reader_spark.operators import sketches as SK

    n = 5000
    df = spark.range(n).select(
        (F.col("id") % 24).alias("hour"),
        # ~1700 distinct users spread over hours
        ((F.col("id") * 7919) % 1700).alias("user_id"),
        F.lit("ev").alias("kind"),
    )
    k = 64
    tiles = SK.kmv_tiles(df, ["kind", "hour"], "user_id", k=k)
    merged = kmv_merge(tiles, ["kind"], k=k).collect()[0]
    direct = kmv_merge(
        SK.kmv_tiles(df, ["kind"], "user_id", k=k), ["kind"], k=k
    ).collect()[0]
    assert merged["estimate"] == direct["estimate"]
    assert merged["n_kept"] == k
    true = df.select("user_id").distinct().count()
    # KMV relative error ~ 1/sqrt(k-1) ≈ 12.6%; allow 3 sigma
    assert abs(merged["estimate"] - true) / true < 0.4

    # sparse groups (< k distinct) keep everything and estimate null
    few = spark.range(10).select(
        F.lit("x").alias("g"), F.col("id").alias("u")
    )
    t = SK.kmv_tiles(few, ["g"], "u", k=k)
    out = kmv_merge(t, ["g"], k=k).collect()[0]
    assert out["n_kept"] == 10 and out["estimate"] is None


def test_count_min_upper_bound_and_merge(spark):
    """CMS point estimates: est >= true always; merging two corpora's
    tiles cell-wise equals the sketch of the union (exact merge)."""
    from pyspark.sql import functions as F

    from reader_spark.operators import sketches as SK

    def toks(words):
        return spark.createDataFrame([(w,) for w in words], "term string")

    a = toks(["x"] * 50 + ["y"] * 20 + list(f"w{i}" for i in range(100)))
    b = toks(["x"] * 30 + ["z"] * 10)
    probe = toks(["x", "y", "z", "absent"])

    ta = SK.count_min_tiles(a, width=64, depth=4)
    tb = SK.count_min_tiles(b, width=64, depth=4)
    est_a = {
        r["term"]: r["cms_est"]
        for r in SK.count_min_estimate(ta, probe, width=64, depth=4).collect()
    }
    assert est_a["x"] >= 50 and est_a["y"] >= 20
    assert est_a["z"] >= 0  # not in corpus a: collisions only

    # cell-wise merge == sketch of union
    merged = (
        ta.unionByName(tb)
        .groupBy("row", "col")
        .agg(F.sum("cnt").alias("cnt"))
    )
    direct = SK.count_min_tiles(
        a.unionByName(b), width=64, depth=4
    )
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, direct.collect())
    )
    est_m = {
        r["term"]: r["cms_est"]
        for r in SK.count_min_estimate(merged, probe, width=64, depth=4).collect()
    }
    assert est_m["x"] >= 80 and est_m["z"] >= 10


def test_cms_incremental_update_equals_rebuild(spark, tmp_path):
    """Stored-sketch maintenance: seed + N deltas == one-shot build
    over the concatenated corpus (CMS merge is exact), batch AND
    stream (foreachBatch)."""
    import json

    from reader_spark.operators import sketches as SK

    def toks(words):
        return spark.createDataFrame([(w,) for w in words], "term string")

    seed = ["x"] * 20 + ["y"] * 5
    d1 = ["x"] * 3 + ["z"] * 7
    d2 = ["y"] * 9
    path = str(tmp_path / "cms")
    SK.cms_tiles_write(toks(seed), path, width=32, depth=3)
    SK.cms_tiles_update(spark, path, toks(d1), width=32, depth=3)
    SK.cms_tiles_update(spark, path, toks(d2), width=32, depth=3)
    direct = SK.count_min_tiles(toks(seed + d1 + d2), width=32, depth=3)
    assert sorted(map(tuple, SK.cms_tiles_read(spark, path).collect())) == sorted(
        map(tuple, direct.collect())
    )

    # stream path: two jsonl files through foreachBatch
    src = tmp_path / "cms_stream"
    src.mkdir()
    path2 = str(tmp_path / "cms2")
    SK.cms_tiles_write(toks(seed), path2, width=32, depth=3)
    with open(src / "a.jsonl", "w") as f:
        for w in d1:
            f.write(json.dumps({"term": w}) + "\n")
    with open(src / "b.jsonl", "w") as f:
        for w in d2:
            f.write(json.dumps({"term": w}) + "\n")
    stream = spark.readStream.schema("term string").json(str(src))
    q = (
        stream.writeStream.foreachBatch(
            SK.cms_maintainer(path2, width=32, depth=3)
        )
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_cms"))
        .start()
    )
    q.awaitTermination(90)
    assert sorted(map(tuple, SK.cms_tiles_read(spark, path2).collect())) == sorted(
        map(tuple, direct.collect())
    )


def test_bottomk_sample_merge_equals_direct(spark):
    """Bottom-k-by-uniform-hash samples merge EXACTLY: union tiles,
    keep global bottom k == sample the concatenated input directly
    (the KMV containment argument), and quantile estimates agree."""
    from kernel_oracles import bottomk_merge
    from pyspark.sql import functions as F

    from reader_spark.operators import sketches as SK

    a = spark.createDataFrame(
        [("x", float(i)) for i in range(200)], "g string, value double"
    )
    b = spark.createDataFrame(
        [("x", float(i)) for i in range(150, 400)], "g string, value double"
    )
    ta = SK.bottomk_sample_tiles(a, ["g"], "value", k=32)
    tb = SK.bottomk_sample_tiles(b, ["g"], "value", k=32)
    merged = bottomk_merge(ta.unionByName(tb), ["g"], k=32)
    direct = SK.bottomk_sample_tiles(
        a.unionByName(b), ["g"], "value", k=32
    )
    assert merged.collect()[0]["sample"] == direct.collect()[0]["sample"]
    qm = SK.quantiles_from_tiles(merged, [0.5]).collect()[0]
    qd = SK.quantiles_from_tiles(direct, [0.5]).collect()[0]
    assert qm["p50"] == qd["p50"] and qm["n_sampled"] == 32


def test_cms_update_crash_replay_exactly_once(spark, tmp_path, monkeypatch):
    """CMS counters are not idempotent, so replay protection is the
    epoch marker published ATOMICALLY with the counters: a replay
    after completion is skipped; a replay after a crash mid-publish
    applies exactly once (the crashed attempt never flipped the
    pointer)."""
    from reader_spark.operators import atomic_dir

    def toks(words):
        return spark.createDataFrame([(w,) for w in words], "term string")

    def counts(path):
        return sorted(map(tuple, SK.cms_tiles_read(spark, path).collect()))

    seed = ["x"] * 10 + ["y"] * 4
    delta = ["x"] * 3 + ["z"] * 2

    ref = str(tmp_path / "cms_ref")
    SK.cms_tiles_write(toks(seed), ref, width=16, depth=2)
    SK.cms_tiles_update(spark, ref, toks(delta), width=16, depth=2, epoch=5)
    want = counts(ref)

    # replay after completion: skipped, counters unchanged
    SK.cms_tiles_update(spark, ref, toks(delta), width=16, depth=2, epoch=5)
    assert counts(ref) == want

    # crash mid-publish (pointer never flips), then replay
    torn = str(tmp_path / "cms_torn")
    SK.cms_tiles_write(toks(seed), torn, width=16, depth=2)
    base = counts(torn)
    real_publish = atomic_dir.publish

    def boom(path, write_fn):
        raise RuntimeError("crash before counter commit")

    monkeypatch.setattr(atomic_dir, "publish", boom)
    import pytest as _pytest

    with _pytest.raises(RuntimeError):
        SK.cms_tiles_update(
            spark, torn, toks(delta), width=16, depth=2, epoch=5
        )
    monkeypatch.setattr(atomic_dir, "publish", real_publish)
    assert counts(torn) == base  # previous counters still live
    SK.cms_tiles_update(spark, torn, toks(delta), width=16, depth=2, epoch=5)
    assert counts(torn) == want


def test_kmv_overlap_estimates_jaccard(spark):
    """kmv_overlap from sketches alone: exact Jaccard when the union
    fits inside k (the estimator degenerates to the true value), a
    close ppm estimate when it does not, zero for disjoint sets —
    and the underlying corpora are never joined."""
    from reader_spark.operators import sketches as SK

    rows = (
        [("a", f"shared-{i}") for i in range(60)]
        + [("a", f"only-a-{i}") for i in range(20)]
        + [("b", f"shared-{i}") for i in range(60)]
        + [("b", f"only-b-{i}") for i in range(20)]
        + [("c", f"only-c-{i}") for i in range(30)]
    )
    df = spark.createDataFrame(rows, "src string, v string")
    # k larger than every union -> estimates are EXACT
    tiles = SK.kmv_tiles(df, ["src"], "v", k=256)
    got = {
        (r["key_a"], r["key_b"]): r
        for r in SK.kmv_overlap(tiles, "src", k=256).collect()
    }
    ab = got[("a", "b")]
    assert ab["m"] == 100 and ab["n_common"] == 60
    assert ab["jaccard_est_ppm"] == 600_000
    assert got[("a", "c")]["n_common"] == 0
    assert got[("a", "c")]["jaccard_est_ppm"] == 0
    assert got[("b", "c")]["jaccard_est_ppm"] == 0
    # k smaller than the union -> a bounded-state ESTIMATE of 0.6
    tiles32 = SK.kmv_tiles(df, ["src"], "v", k=32)
    est = {
        (r["key_a"], r["key_b"]): r["jaccard_est_ppm"]
        for r in SK.kmv_overlap(tiles32, "src", k=32).collect()
    }
    assert est[("a", "c")] == 0
    assert 350_000 <= est[("a", "b")] <= 850_000  # ±0.25 at k=32


def test_kmv_tiles_maintained_stream_equals_direct(spark, tmp_path):
    """Streamed KMV tile maintenance == direct sketch over the full
    corpus (the kmv_merge containment property makes the merge
    EXACT), the overlap matrix from maintained tiles matches the
    direct one, and a replayed epoch is a no-op."""
    import json

    from reader_spark.operators import sketches as SK

    rows = (
        [("a", f"shared-{i}") for i in range(80)]
        + [("a", f"only-a-{i}") for i in range(40)]
        + [("b", f"shared-{i}") for i in range(80)]
        + [("b", f"only-b-{i}") for i in range(40)]
    )
    df = spark.createDataFrame(rows, "src string, v string")
    path = str(tmp_path / "kmv")
    SK.kmv_tiles_write(
        df.filter("v like 'shared%'"), path, ["src"], "v", k=32
    )
    src_dir = tmp_path / "stream"
    src_dir.mkdir()
    with open(src_dir / "delta.jsonl", "w") as f:
        for r in df.filter("v not like 'shared%'").collect():
            f.write(json.dumps({"src": r["src"], "v": r["v"]}) + "\n")
    q = (
        spark.readStream.schema("src string, v string")
        .json(str(src_dir))
        .writeStream.foreachBatch(SK.kmv_maintainer(path, ["src"], "v", k=32))
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(60)
    got = {
        r["src"]: list(r["kmv"])
        for r in SK.kmv_tiles_read(spark, path).collect()
    }
    want = {
        r["src"]: list(r["kmv"])
        for r in SK.kmv_tiles(df, ["src"], "v", k=32).collect()
    }
    assert got == want  # maintained == direct, hash-for-hash
    ov_maint = {
        (r["key_a"], r["key_b"]): r["jaccard_est_ppm"]
        for r in SK.kmv_overlap(
            SK.kmv_tiles_read(spark, path), "src", k=32
        ).collect()
    }
    ov_direct = {
        (r["key_a"], r["key_b"]): r["jaccard_est_ppm"]
        for r in SK.kmv_overlap(
            SK.kmv_tiles(df, ["src"], "v", k=32), "src", k=32
        ).collect()
    }
    assert ov_maint == ov_direct
    # replayed epoch: no-op (same batch id re-applied by hand)
    batch = spark.read.schema("src string, v string").json(
        str(src_dir / "delta.jsonl")
    )
    SK.kmv_tiles_update(spark, path, batch, ["src"], "v", k=32, epoch=0)
    again = {
        r["src"]: list(r["kmv"])
        for r in SK.kmv_tiles_read(spark, path).collect()
    }
    assert again == got


def test_bottomk_tiles_maintained_stream_equals_direct(spark, tmp_path):
    """Streamed bottom-k sample maintenance == a direct sample over
    everything streamed, ROW-FOR-ROW (exact containment merge), so
    maintained quantiles equal direct-sample quantiles on the same
    data; replayed epoch is a no-op."""
    import json

    from reader_spark.operators import sketches as SK

    rows = [(i, "a" if i % 3 else "b", float((i * 37) % 1000))
            for i in range(2000)]
    df = spark.createDataFrame(rows, "event_id long, et string, value double")
    path = str(tmp_path / "bk")
    SK.bottomk_tiles_write(
        df.filter("event_id < 1200"), path, ["et"], "value", k=64,
        id_col="event_id",
    )
    src = tmp_path / "stream"
    src.mkdir()
    with open(src / "delta.jsonl", "w") as f:
        for r in df.filter("event_id >= 1200").collect():
            f.write(json.dumps({
                "event_id": r["event_id"], "et": r["et"],
                "value": r["value"]}) + "\n")
    q = (
        spark.readStream.schema("event_id long, et string, value double")
        .json(str(src))
        .writeStream.foreachBatch(
            SK.bottomk_maintainer(path, ["et"], "value", k=64,
                                  id_col="event_id")
        )
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(60)
    got = {
        r["et"]: [tuple(s) for s in r["sample"]]
        for r in SK.bottomk_tiles_read(spark, path).collect()
    }
    want = {
        r["et"]: [tuple(s) for s in r["sample"]]
        for r in SK.bottomk_sample_tiles(
            df, ["et"], "value", k=64, id_col="event_id"
        ).collect()
    }
    assert got == want  # maintained sample == direct, row-for-row
    qm = {
        r["et"]: (r["p50"], r["p95"])
        for r in SK.quantiles_from_tiles(
            SK.bottomk_tiles_read(spark, path), [0.5, 0.95]
        ).collect()
    }
    qd = {
        r["et"]: (r["p50"], r["p95"])
        for r in SK.quantiles_from_tiles(
            SK.bottomk_sample_tiles(df, ["et"], "value", k=64,
                                    id_col="event_id"),
            [0.5, 0.95],
        ).collect()
    }
    assert qm == qd
    # replayed epoch: no-op
    batch = spark.read.schema("event_id long, et string, value double").json(
        str(src / "delta.jsonl"))
    SK.bottomk_tiles_update(spark, path, batch, ["et"], "value", k=64,
                            id_col="event_id", epoch=0)
    again = {
        r["et"]: [tuple(s) for s in r["sample"]]
        for r in SK.bottomk_tiles_read(spark, path).collect()
    }
    assert again == got


def test_quantile_drift_from_tiles(spark, sf_dir, tmp_path):
    """Maintained quantile drift: identical tile tables read zero
    drift; a scaled current wave trips every key; a key missing from
    the current table alarms as vanished. Verdicts read two KB-sized
    tile tables, never the corpus."""
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type", "value", "event_id"
    )
    ref = str(tmp_path / "ref")
    SK.bottomk_tiles_write(ev, ref, ["event_type"], "value",
                           k=64, id_col="event_id")
    cur_same = str(tmp_path / "cur_same")
    SK.bottomk_tiles_write(ev, cur_same, ["event_type"], "value",
                           k=64, id_col="event_id")
    same = SK.quantile_drift_from_tiles(
        SK.bottomk_tiles_read(spark, ref),
        SK.bottomk_tiles_read(spark, cur_same),
    ).collect()
    assert same and all(not r["drifted"] for r in same)
    assert all(r["max_rel_ppm"] == 0 for r in same)

    # x3 shift on values, and one event_type vanishes entirely
    types = [r["event_type"] for r in
             ev.select("event_type").distinct().collect()]
    gone = sorted(types)[0]
    shifted = ev.filter(F.col("event_type") != gone).select(
        "event_type", (F.col("value") * 3).alias("value"), "event_id"
    )
    cur_shift = str(tmp_path / "cur_shift")
    SK.bottomk_tiles_write(shifted, cur_shift, ["event_type"], "value",
                           k=64, id_col="event_id")
    rows = {r["event_type"]: r for r in SK.quantile_drift_from_tiles(
        SK.bottomk_tiles_read(spark, ref),
        SK.bottomk_tiles_read(spark, cur_shift),
        alert_ppm=100_000,
    ).collect()}
    assert rows[gone]["n_cur"] == 0 and rows[gone]["drifted"]
    for t in types:
        if t != gone:
            # a 3x scale is a ~2,000,000 ppm relative shift
            assert rows[t]["drifted"] and rows[t]["max_rel_ppm"] > 1_000_000


def test_quantile_drift_watch_stream(spark, sf_dir, tmp_path):
    """Streaming quantile drift: batches fold into the current tiles
    (exact merge, epoch-gated) and each batch logs a per-key verdict
    vs the published reference; a replayed batch replaces its rows
    and leaves the tiles untouched; a stable stream never alarms, a
    scaled wave does."""
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type", "value", "event_id"
    )
    ref = str(tmp_path / "ref")
    cur = str(tmp_path / "cur")
    log = str(tmp_path / "log")
    SK.bottomk_tiles_write(ev, ref, ["event_type"], "value",
                           k=64, id_col="event_id")
    # current starts as a copy of the reference
    SK.bottomk_tiles_write(ev, cur, ["event_type"], "value",
                           k=64, id_col="event_id")
    body = SK.quantile_drift_watch(
        ref, cur, log, ["event_type"], "value", k=64, id_col="event_id",
    )

    stable = ev.limit(200)
    body(stable, 0)
    body(stable, 0)  # crash replay: tiles unmoved, rows replaced
    rows0 = [r for r in spark.read.parquet(log).collect() if r["batch"] == 0]
    assert rows0 and all(not r["drifted"] for r in rows0)

    shifted = ev.select(
        "event_type", (F.col("value") * 5).alias("value"),
        (F.col("event_id") + 10_000_000).alias("event_id"),
    )
    body(shifted, 1)
    rows1 = [r for r in spark.read.parquet(log).collect() if r["batch"] == 1]
    # the 5x wave merged into the current tiles moves the upper tail
    assert rows1 and any(r["drifted"] for r in rows1)

    # empty batch still logs its standing verdict
    body(ev.limit(0), 2)
    assert [r for r in spark.read.parquet(log).collect()
            if r["batch"] == 2]


def test_bloom_no_false_negatives_and_merge_equals_direct(spark):
    """Bloom guarantees: (a) every inserted key probes maybe_seen
    (zero false negatives — the property that makes definitely-new
    safe to ingest); (b) word-wise OR merge of per-wave tiles equals
    the directly-built filter bit-for-bit (mergeable seen-set); (c)
    the merge is idempotent under replay; (d) unseen keys are mostly
    definitely-new at the default sizing."""
    from reader_spark.operators import sketches as SK

    keys = spark.range(2000).select(F.col("id").alias("k"))
    seen = keys.filter("k < 1500")

    direct = SK.bloom_tiles(seen, "k")
    # (a) zero false negatives
    v = SK.bloom_probe(keys, direct, "k")
    assert v.filter("k < 1500 AND NOT maybe_seen").count() == 0
    # (d) at m=4096*60 bits / n=1500 keys the fp rate is ~0: the
    # unseen half must be overwhelmingly definitely-new
    fp = v.filter("k >= 1500 AND maybe_seen").count()
    assert fp <= 2

    # (b) wave-wise build + merge == direct build, bit for bit
    w1 = SK.bloom_tiles(seen.filter("k < 700"), "k")
    w2 = SK.bloom_tiles(seen.filter("k >= 700"), "k")
    merged = SK.bloom_merge(w1.unionByName(w2))
    got = {(r["word"], r["bits"]) for r in merged.collect()}
    want = {(r["word"], r["bits"]) for r in direct.collect()}
    assert got == want

    # (c) replaying a wave into the union changes nothing
    replay = SK.bloom_merge(w1.unionByName(w2).unionByName(w2))
    assert {(r["word"], r["bits"]) for r in replay.collect()} == want


def test_bloom_maintained_artifact_update_equals_rebuild(spark, tmp_path):
    """The materialized filter: geometry pinned at write, update ==
    from-scratch rebuild bit-for-bit (OR mergeability), replayed
    epochs skip, and a probe through the stored artifact keeps the
    zero-false-negative guarantee."""
    from reader_spark.operators import sketches as SK

    keys = spark.range(1200).select(F.col("id").alias("k"))
    w1, w2 = keys.filter("k < 500"), keys.filter("k >= 500 AND k < 900")

    path = str(tmp_path / "bloom")
    SK.bloom_write(w1, path, "k", m_words=512, k_hashes=4)
    SK.bloom_update(spark, path, w2, "k", epoch=1)

    direct = SK.bloom_tiles(
        keys.filter("k < 900"), "k", m_words=512, k_hashes=4
    )
    stored, m_words, k_hashes = SK.bloom_read(spark, path)
    assert (m_words, k_hashes) == (512, 4)
    got = {(r["word"], r["bits"]) for r in stored.collect()}
    want = {(r["word"], r["bits"]) for r in direct.collect()}
    assert got == want

    # replayed epoch: a no-op (and the artifact stays identical)
    SK.bloom_update(spark, path, w2, "k", epoch=1)
    stored2, _, _ = SK.bloom_read(spark, path)
    assert {(r["word"], r["bits"]) for r in stored2.collect()} == want

    # probe through the artifact: no false negatives
    v = SK.bloom_probe(keys, stored, "k", m_words=m_words,
                       k_hashes=k_hashes)
    assert v.filter("k < 900 AND NOT maybe_seen").count() == 0


def test_bloom_geometry_autosize_meets_budget(spark, tmp_path):
    """r12 autosizing: the derived geometry meets the fp budget with
    the standard optimum's k, is not grossly oversized (half the
    words would blow the budget), and an un-sized bloom_write pins
    bloom_geometry(observed_keys x HEADROOM) in the artifact."""
    from kernel_oracles import bloom_fp_rate

    from reader_spark.operators import sketches as SK

    for n in (1_000, 50_000, 1_000_000):
        m_w, k_h = SK.bloom_geometry(n, 1e-6)
        assert bloom_fp_rate(n, m_w, k_h) <= 1e-6
        assert bloom_fp_rate(n, m_w // 2, k_h) > 1e-6
        assert k_h == 21  # round(ln2 * 29.62 margined bits/key) at 1e-6

    keys = spark.range(1_000).select(F.col("id").alias("k"))
    path = str(tmp_path / "bloom_auto")
    SK.bloom_write(keys, path, "k")
    stored, m_w, k_h = SK.bloom_read(spark, path)
    assert (m_w, k_h) == SK.bloom_geometry(
        1_000 * SK.BLOOM_AUTOSIZE_HEADROOM, 1e-6
    )
    v = SK.bloom_probe(keys, stored, "k", m_words=m_w, k_hashes=k_h)
    assert v.filter("NOT maybe_seen").count() == 0


def test_bloom_update_warns_past_fp_budget(spark, tmp_path):
    """A maintained filter whose measured set-bit fill pushes the
    expected fp past the pinned budget warns on update (refit
    signal); a comfortably-sized filter stays silent."""
    import warnings

    from reader_spark.operators import sketches as SK

    keys = spark.range(800).select(F.col("id").alias("k"))
    tiny = str(tmp_path / "bloom_tiny")
    SK.bloom_write(keys.filter("k < 10"), tiny, "k", m_words=4,
                   k_hashes=2)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        SK.bloom_update(spark, tiny, keys, "k", epoch=1)
    assert any("fp budget" in str(x.message) for x in w)

    roomy = str(tmp_path / "bloom_roomy")
    SK.bloom_write(keys.filter("k < 10"), roomy, "k",
                   expected_keys=10_000)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        SK.bloom_update(spark, roomy, keys, "k", epoch=1)
    assert not any("fp budget" in str(x.message) for x in w)


def test_bloom_probe_null_key_definitely_new(spark):
    """NULL keys verdict definitely-new (False, never NULL): the
    filter cannot have seen a NULL (build-side hash propagates NULL),
    and a NULL verdict would make a `~maybe_seen` curate gate
    silently drop the row instead of passing it downstream."""
    from reader_spark.operators import sketches as SK

    seen = spark.range(100).select(F.col("id").alias("k"))
    probe = spark.createDataFrame(
        [(1,), (None,), (500,)], "k long"
    )
    v = {
        r["k"]: r["maybe_seen"]
        for r in SK.bloom_probe(
            probe, SK.bloom_tiles(seen, "k"), "k"
        ).collect()
    }
    assert v[1] is True
    assert v[None] is False  # not None/NULL
    assert v[500] is False
