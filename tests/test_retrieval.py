"""BM25 retrieval and PII-scrub tests (operators/retrieval.py,
functions/text.py pii section)."""

import math

import pytest

import pyspark.sql.functions as F

from reader_spark.functions import text as TX
from reader_spark.operators import retrieval as RT


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_bm25_known_values(spark):
    # 3 docs, query = single term "cat": df(cat)=2, N=3, dl=2 each.
    docs = _docs(spark, [(1, "cat dog"), (2, "cat cat"), (3, "fish dog")])
    out = {
        (r["query_id"], r["doc_id"]): r
        for r in RT.bm25_topk(docs, [(0, "cat")], k=10).collect()
    }
    n, df, k1, b, avgdl = 3, 2, 1.2, 0.75, 2.0
    idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))

    def score(tf, dl):
        return round(idf * (tf / (tf + k1 * (1 - b + b * dl / avgdl))), 6)

    assert set(out) == {(0, 1), (0, 2)}  # doc 3 has no query term
    assert out[(0, 1)]["score"] == score(1, 2)
    assert out[(0, 2)]["score"] == score(2, 2)
    # tf=2 scores above tf=1 at equal length
    assert out[(0, 2)]["rank"] == 1 and out[(0, 1)]["rank"] == 2


def test_bm25_multi_term_sums_and_k_bound(spark):
    docs = _docs(
        spark,
        [(i, "alpha beta " + ("gamma " * (i % 3)).strip()) for i in range(1, 30)],
    )
    out = RT.bm25_topk(docs, [(7, "alpha gamma")], k=5).collect()
    assert len(out) == 5
    assert all(r["query_id"] == 7 for r in out)
    assert [r["rank"] for r in sorted(out, key=lambda r: r["rank"])] == [1, 2, 3, 4, 5]
    # scores non-increasing with rank
    by_rank = sorted(out, key=lambda r: r["rank"])
    for a, b2 in zip(by_rank, by_rank[1:]):
        assert a["score"] >= b2["score"]


def test_bm25_absent_term_contributes_nothing(spark):
    docs = _docs(spark, [(1, "only these words")])
    out = RT.bm25_topk(docs, [(0, "only zzznope")], k=10).collect()
    assert len(out) == 1 and out[0]["doc_id"] == 1
    # score equals the single-term score (absent term adds 0)
    solo = RT.bm25_topk(docs, [(0, "only")], k=10).collect()
    assert out[0]["score"] == solo[0]["score"]


def test_pii_scrub_patterns(spark):
    df = spark.createDataFrame(
        [
            (1, "mail a.user+tag@sub.example.org now"),
            (2, "call 555-123-4567 or visit 192.168.0.1 today"),
            (3, "no pii here"),
            (4, "edge 999.999.999.999 and x@y.io"),
        ],
        "id long, t string",
    )
    out = {
        r["id"]: r["sc"]
        for r in df.select("id", TX.pii_scrub(F.col("t")).alias("sc")).collect()
    }
    assert out[1] == "mail <EMAIL> now"
    assert out[2] == "call <PHONE> or visit <IP> today"
    assert out[3] == "no pii here"
    # dotted-quad shape is scrubbed even when out of range (screen, not
    # validator), and short emails match
    assert out[4] == "edge <IP> and <EMAIL>"


def test_pii_tag_count(spark):
    df = spark.createDataFrame([(1, "<IP> x <IP> y <EMAIL>")], "id long, sc string")
    row = df.select(
        TX.tag_count(F.col("sc"), "<IP>").alias("ips"),
        TX.tag_count(F.col("sc"), "<EMAIL>").alias("emails"),
        TX.tag_count(F.col("sc"), "<PHONE>").alias("phones"),
    ).collect()[0]
    assert (row["ips"], row["emails"], row["phones"]) == (2, 1, 0)


def test_pmi_bigrams_known_values(spark):
    import math

    # "new york" always adjacent (5x); "the the" from independent
    # repetition. Corpus: 5 docs "new york", 1 doc "the the the the".
    rows = [(i, "new york") for i in range(5)] + [(10, "the the the the")]
    docs = _docs(spark, rows)
    out = {
        (r["w1"], r["w2"]): r for r in RT.pmi_bigrams(docs, min_count=3).collect()
    }
    n_tokens = 14
    # c(new)=5, c(york)=5, c(new york)=5
    assert out[("new", "york")]["c_ab"] == 5
    assert out[("new", "york")]["pmi"] == round(
        math.log(5 * n_tokens / (5 * 5)), 6
    )
    # c(the)=4, c(the the)=3
    assert out[("the", "the")]["c_ab"] == 3
    assert out[("the", "the")]["pmi"] == round(
        math.log(3 * n_tokens / (4 * 4)), 6
    )
    # below min_count is filtered
    assert len(out) == 2


def test_bm25_indexed_roundtrip_and_pruning(spark, tmp_path):
    """The materialized-index search returns EXACTLY the scores of
    the direct corpus search, and its postings scan carries a
    partition filter on the probed term buckets (reads q buckets,
    not the whole index)."""
    from reader_spark.operators import retrieval as RT

    docs = spark.createDataFrame(
        [
            (i, " ".join(
                ["spark", "join"][: 1 + i % 2]
                + [f"w{j}" for j in range(i % 7)]
                + (["shuffle"] if i % 3 == 0 else [])
            ))
            for i in range(60)
        ],
        "doc_id long, text string",
    )
    queries = [(0, "spark shuffle"), (1, "join w1")]
    path = str(tmp_path / "bm25idx")
    RT.bm25_index_write(docs, path, n_buckets=8)
    direct = RT.bm25_topk(docs, queries, k=5)
    indexed = RT.bm25_topk_indexed(spark, path, queries, k=5, n_buckets=8)
    assert sorted(map(tuple, direct.collect())) == sorted(
        map(tuple, indexed.collect())
    )
    plan = indexed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [bucket" in plan.replace("#", " #").replace(
        "bucket#", "bucket"
    ) or "bucket" in plan.split("PartitionFilters")[1].split("]")[0]
    # bucket directories on disk: searches must not list all of them
    import os

    n_dirs = len(
        [d for d in os.listdir(f"{path}/postings") if d.startswith("bucket=")]
    )
    assert n_dirs > 3  # the filter has something to prune
    # the index is its postings and its corpus scalars, nothing else
    assert sorted(os.listdir(path)) == ["postings", "scalars"]


def test_indexed_builder_work_dir_removed_at_exit(spark, sf_dir):
    """Index-backed catalog builders make their work dir under one
    per-process root (their lazy frames read it, so no builder can
    remove its own), and that root is removed at interpreter exit."""
    import os
    import subprocess
    import sys

    from reader_spark import queries as Q

    Q.text_bm25_indexed(spark, sf_dir)
    root = Q._work_root()
    built = [d for d in os.listdir(root) if d.startswith("bm25_idx_")]
    assert built and os.listdir(os.path.join(root, built[0]))

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    probe = subprocess.run(
        [sys.executable, "-c",
         "from reader_spark import queries as Q; print(Q._work_dir('probe_'))"],
        cwd=repo, capture_output=True, text=True, check=True,
    )
    work = probe.stdout.strip().splitlines()[-1]
    assert os.path.basename(work).startswith("probe_")
    assert not os.path.exists(os.path.dirname(work))


def test_trigram_search_pruning_and_exactness(spark):
    """The trigram prefilter is LOSSLESS (results == plain contains)
    and actually prunes: a rare pattern's candidate set is a small
    fraction of the corpus; short patterns are rejected."""
    import pytest

    from pyspark.sql import functions as F

    from reader_spark.operators import retrieval as RT

    docs = spark.createDataFrame(
        [(i, f"common filler text block {i % 7} "
             + ("needle in haystack " if i % 50 == 0 else "straw "))
         for i in range(500)],
        "doc_id long, text string",
    )
    pats = [(0, "needle in"), (1, "filler text"), (2, "absent-gram")]
    got = {
        (r["pattern_id"], r["doc_id"])
        for r in RT.trigram_search(docs, pats).collect()
    }
    want = set()
    for pid, p in pats:
        for r in docs.filter(F.col("text").contains(p)).collect():
            want.add((pid, r["doc_id"]))
    assert got == want
    assert len([1 for p, _ in got if p == 0]) == 10  # rare pattern
    assert not any(p == 2 for p, _ in got)
    # candidate restriction: rare pattern candidates << corpus
    cands = (
        RT.doc_trigrams(docs)
        .filter(F.col("trigram") == "dle")  # only in 'needle'
        .select("doc_id").distinct().count()
    )
    assert cands == 10
    with pytest.raises(AssertionError):
        RT.trigram_search(docs, [(9, "ab")])


def test_bm25_index_incremental_update(spark, tmp_path):
    """Append-only index update == full rebuild: identical search
    results, untouched bucket directories byte-identical."""
    import os

    from reader_spark.operators import retrieval as RT

    def mkdocs(lo, hi):
        return spark.createDataFrame(
            [(i, " ".join(
                ["spark", "join", "scan"][: 1 + i % 3]
                + [f"w{i % 11}", f"x{i % 5}"]
            )) for i in range(lo, hi)],
            "doc_id long, text string",
        )

    path = str(tmp_path / "bm25inc")
    RT.bm25_index_write(mkdocs(0, 300), path, n_buckets=16)

    def bucket_state():
        out = {}
        root = f"{path}/postings"
        for d in os.listdir(root):
            if d.startswith("bucket="):
                full = os.path.join(root, d)
                out[d] = sorted(
                    (f, os.path.getmtime(os.path.join(full, f)))
                    for f in os.listdir(full) if f.endswith(".parquet")
                )
        return out

    before = bucket_state()
    touched = RT.bm25_index_update(spark, path, mkdocs(300, 400), n_buckets=16)
    after = bucket_state()
    tset = {f"bucket={b}" for b in touched}
    for d, files in before.items():
        if d not in tset:
            assert after[d] == files, f"{d} rewritten needlessly"

    path2 = str(tmp_path / "bm25full")
    RT.bm25_index_write(mkdocs(0, 400), path2, n_buckets=16)
    queries = [(0, "spark scan"), (1, "join w3")]
    got = RT.bm25_topk_indexed(spark, path, queries, k=5, n_buckets=16)
    want = RT.bm25_topk_indexed(spark, path2, queries, k=5, n_buckets=16)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_bm25_index_maintain_compacts_and_preserves_results(spark, tmp_path):
    """N update rounds accrete files per touched bucket; maintain()
    rewrites fat buckets to a bounded file count with IDENTICAL
    search results (r4 verdict stretch #8)."""
    import os

    from reader_spark.operators import retrieval as RT

    def mkdocs(lo, hi):
        return spark.createDataFrame(
            [(i, f"spark scan join w{i % 7}") for i in range(lo, hi)],
            "doc_id long, text string",
        )

    path = str(tmp_path / "bm25maint")
    RT.bm25_index_write(mkdocs(0, 100), path, n_buckets=4)
    for lo in range(100, 400, 100):  # 3 update waves
        RT.bm25_index_update(spark, path, mkdocs(lo, lo + 100), n_buckets=4)
    queries = [(0, "spark w3"), (1, "join scan")]
    before = sorted(
        map(tuple, RT.bm25_topk_indexed(
            spark, path, queries, k=5, n_buckets=4).collect())
    )

    def max_bucket_files():
        root = f"{path}/postings"
        return max(
            len([f for f in os.listdir(os.path.join(root, d))
                 if f.endswith(".parquet")])
            for d in os.listdir(root) if d.startswith("bucket=")
        )

    # The overwrite-based update leaves ~1 file/bucket; simulate an
    # append-mode ingest's accretion by scattering the same rows
    # across a round-robin repartition (every bucket dir then holds a
    # file per shuffle partition).
    scattered = spark.read.parquet(f"{path}/postings").repartition(10)
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        scattered.write.mode("overwrite").partitionBy("bucket").parquet(
            f"{path}/postings"
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    assert max_bucket_files() > 2  # accretion really present
    done = RT.bm25_index_maintain(spark, path, max_files_per_bucket=2)
    assert done  # something was compacted
    assert max_bucket_files() <= 2
    after = sorted(
        map(tuple, RT.bm25_topk_indexed(
            spark, path, queries, k=5, n_buckets=4).collect())
    )
    assert before == after
    # idempotent: a second maintain finds nothing to do
    assert RT.bm25_index_maintain(spark, path, max_files_per_bucket=2) == {}


def test_bm25_index_update_empty_delta_is_noop(spark, tmp_path):
    """An EMPTY delta frame must not raise (the r4 advice finding:
    touched=[] drove repartition(0) and skipped the scalars write)
    and must leave the index fully untouched."""
    from reader_spark.operators import retrieval as RT

    docs = spark.createDataFrame(
        [(i, f"spark scan w{i % 3}") for i in range(50)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "bm25empty")
    RT.bm25_index_write(docs, path, n_buckets=8)
    before_scalars = spark.read.parquet(f"{path}/scalars").collect()
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert RT.bm25_index_update(spark, path, empty, n_buckets=8) == []
    assert spark.read.parquet(f"{path}/scalars").collect() == before_scalars
    # non-empty delta still updates scalars (split("") yields one
    # empty-string token, same as a rebuild would index)
    blank = spark.createDataFrame([(999, "")], "doc_id long, text string")
    RT.bm25_index_update(spark, path, blank, n_buckets=8)
    from reader_spark.operators import atomic_dir

    # scalars publish via the pointer flip: read the live version
    after = spark.read.parquet(
        atomic_dir.resolve(f"{path}/scalars")
    ).collect()[0]
    assert after["n_docs"] == before_scalars[0]["n_docs"] + 1


def test_bm25_index_stream_maintenance(spark, tmp_path):
    """Document stream -> foreachBatch(bm25_index_update): after the
    stream drains, searches equal a full rebuild over seed+delta."""
    import json

    from reader_spark.operators import retrieval as RT

    def mk(lo, hi):
        return spark.createDataFrame(
            [(i, f"spark scan join w{i % 5}") for i in range(lo, hi)],
            "doc_id long, text string",
        )

    path = str(tmp_path / "bm25s")
    RT.bm25_index_write(mk(0, 80), path, n_buckets=8)
    src = tmp_path / "docs_stream"
    src.mkdir()
    with open(src / "d.jsonl", "w") as f:
        for i in range(80, 120):
            f.write(json.dumps(
                {"doc_id": i, "text": f"spark scan join w{i % 5}"}) + "\n")
    stream = spark.readStream.schema("doc_id long, text string").json(str(src))
    q = (
        stream.writeStream.foreachBatch(
            RT.bm25_index_maintainer(path, n_buckets=8)
        )
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_bm25s"))
        .start()
    )
    q.awaitTermination(90)
    path2 = str(tmp_path / "bm25s_full")
    RT.bm25_index_write(mk(0, 120), path2, n_buckets=8)
    qs = [(0, "spark w3"), (1, "join scan")]
    got = RT.bm25_topk_indexed(spark, path, qs, k=5, n_buckets=8)
    want = RT.bm25_topk_indexed(spark, path2, qs, k=5, n_buckets=8)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_bm25_index_update_crash_replay_exactly_once(spark, tmp_path, monkeypatch):
    """foreachBatch at-least-once: a replayed micro-batch must not
    double-merge postings or double-count scalars. Covers both replay
    shapes: after full completion (epoch skip) and after a crash
    between the postings merge and the scalars publish (idempotent
    re-merge + single scalars apply)."""
    from reader_spark.operators import atomic_dir
    from reader_spark.operators import retrieval as RT

    def mkdocs(lo, hi):
        return spark.createDataFrame(
            [(i, f"spark scan w{i % 7}") for i in range(lo, hi)],
            "doc_id long, text string",
        )

    queries = [(0, "spark scan"), (1, "w3")]

    def snap(path):
        res = sorted(map(tuple, RT.bm25_topk_indexed(
            spark, path, queries, k=5, n_buckets=8).collect()))
        s = spark.read.parquet(
            atomic_dir.resolve(f"{path}/scalars")).collect()[0]
        return res, (s["n_docs"], s["sum_dl"], s["avgdl"])

    # clean once-applied reference
    ref = str(tmp_path / "ref")
    RT.bm25_index_write(mkdocs(0, 50), ref, n_buckets=8)
    RT.bm25_index_update(spark, ref, mkdocs(50, 80), n_buckets=8, epoch=3)
    want = snap(ref)

    # replay after full completion: same epoch is a skip
    RT.bm25_index_update(spark, ref, mkdocs(50, 80), n_buckets=8, epoch=3)
    assert snap(ref) == want

    # crash between postings merge and scalars publish, then replay
    torn = str(tmp_path / "torn")
    RT.bm25_index_write(mkdocs(0, 50), torn, n_buckets=8)
    real_publish = atomic_dir.publish

    def boom(path, write_fn):
        raise RuntimeError("crash before scalars commit")

    monkeypatch.setattr(atomic_dir, "publish", boom)
    with pytest.raises(RuntimeError):
        RT.bm25_index_update(spark, torn, mkdocs(50, 80), n_buckets=8, epoch=3)
    monkeypatch.setattr(atomic_dir, "publish", real_publish)
    # replay of the same batch: postings re-merge dedupes, scalars
    # apply exactly once
    RT.bm25_index_update(spark, torn, mkdocs(50, 80), n_buckets=8, epoch=3)
    assert snap(torn) == want


def _trgm_docs(spark):
    return _docs(
        spark,
        [(i, f"common filler text block {i % 7} "
             + ("needle in haystack " if i % 50 == 0 else "straw "))
         for i in range(300)],
    )


def test_trigram_indexed_equals_direct_and_prunes(spark, tmp_path):
    """The materialized trigram index returns EXACTLY the direct
    search's results and its postings scan carries a PartitionFilter
    on the probed trigram buckets."""
    docs = _trgm_docs(spark)
    pats = [(0, "needle in"), (1, "filler text"), (2, "absent-gram")]
    path = str(tmp_path / "trgm")
    RT.trigram_index_write(docs, path, n_buckets=16)
    indexed = RT.trigram_search_indexed(spark, path, docs, pats, n_buckets=16)
    got = sorted(map(tuple, indexed.collect()))
    want = sorted(map(tuple, RT.trigram_search(docs, pats).collect()))
    assert got == want
    plan = indexed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan.split(
        "PartitionFilters")[1].split("]")[0]
