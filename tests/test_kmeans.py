"""Deterministic Lloyd k-means + cluster-balanced sampling.

Beyond-reference LLM-pipeline surface: `kmeans_clusters` /
`kmeans_assign` (operators/similarity.py) and
`cluster_balanced_sample` (operators/curation.py). Properties, not
golden values: Lloyd monotonicity, assignment consistency, exact
per-cluster caps, and partitioning-independence of the draw.
"""

import pytest
from pyspark.sql import functions as F

from reader_spark.operators import curation as CU
from reader_spark.operators import similarity as SIM


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _sse(assigned, cents):
    """Total within-cluster squared L2 (the Lloyd objective)."""
    scored = assigned.join(F.broadcast(cents), "cl").withColumn(
        "__d",
        F.col("nv")
        - F.lit(2.0) * SIM.dot(F.col("vec"), F.col("c"))
        + F.col("nc"),
    )
    return scored.agg(F.sum("__d")).collect()[0][0]


def test_lloyd_objective_monotone_nonincreasing(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    vecs = emb.select(
        "vec_id",
        F.col("label").alias("cluster"),
        F.col("embedding").cast("array<double>").alias("vec"),
    ).withColumn("nv", SIM.dot(F.col("vec"), F.col("vec")))
    sses = []
    for it in (1, 2, 3):
        cents = SIM.kmeans_lloyd(vecs, n_iters=it)
        assigned = SIM.nearest_clusters(vecs.drop("cluster"), cents, 1, "vec_id")
        sses.append(_sse(assigned, cents))
    assert sses[1] <= sses[0] + 1e-9
    assert sses[2] <= sses[1] + 1e-9


def test_census_counts_and_reps_consistent(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    census = SIM.kmeans_clusters(emb, n_iters=2).collect()
    assigned = SIM.kmeans_assign(emb, n_iters=2)
    total = emb.count()
    assert sum(r.n_members for r in census) == total
    sizes = {r.cl: r.cnt for r in assigned.groupBy("cl").agg(
        F.count("*").alias("cnt")).collect()}
    assert {r.cluster_id: r.n_members for r in census} == sizes
    # every representative belongs to the cluster it represents
    member_cl = {r.vec_id: r.cl for r in assigned.select("vec_id", "cl").collect()}
    for r in census:
        assert member_cl[r.rep_id] == r.cluster_id


def test_cluster_sample_exact_caps_and_determinism(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    assigned = SIM.kmeans_assign(emb, n_iters=2)
    cap = 7
    kept = CU.cluster_balanced_sample(assigned, cap=cap)
    sizes = {r.cl: r.cnt for r in assigned.groupBy("cl").agg(
        F.count("*").alias("cnt")).collect()}
    got = {r.cluster_id: r.cnt for r in kept.groupBy("cluster_id").agg(
        F.count("*").alias("cnt")).collect()}
    assert got == {cl: min(cap, n) for cl, n in sizes.items() if min(cap, n) > 0}
    # the kept ID SET is partitioning-independent (md5 draw, not RNG)
    kept_ids = {r.vec_id for r in kept.collect()}
    re_kept = CU.cluster_balanced_sample(
        assigned.repartition(13), cap=cap
    )
    assert {r.vec_id for r in re_kept.collect()} == kept_ids


def test_trained_assignment_matches_broadcast_argmin(spark, sf_dir):
    """The production path (JVM model.transform) and the broadcast
    argmin over the SAME trained centroids assign every vector to the
    same cluster — the two paths are interchangeable downstream."""
    from kernel_oracles import kmeans_assign_trained

    emb = _emb(spark, sf_dir)
    model = SIM.ivf_fit(emb, 8, seed=7)
    fast = {
        (r.vec_id, r.cl)
        for r in kmeans_assign_trained(emb, model).collect()
    }
    cents = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "cl int, c array<double>",
    ).withColumn("nc", SIM.dot(F.col("c"), F.col("c")))
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    ).withColumn("nv", SIM.dot(F.col("vec"), F.col("vec")))
    slow = {
        (r.vec_id, r.cl)
        for r in SIM.nearest_clusters(vecs, cents, 1, "vec_id")
        .select("vec_id", "cl")
        .collect()
    }
    assert fast == slow


def test_kmeans_census_no_cartesian_no_python_udf(spark, sf_dir):
    """Plan hygiene: centroid scoring is a broadcast nested loop over
    K rows (bounded), never an unbounded cartesian over the corpus,
    and nothing drops to Python row UDFs."""
    plan = SIM.kmeans_clusters(_emb(spark, sf_dir), n_iters=2)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "PythonUDF" not in plan
    assert "CartesianProduct" not in plan


def test_semdedup_prune_keep_policy(spark, sf_dir):
    """The farthest-from-centroid member of every cluster is never
    dominated (always kept), every cluster retains at least one
    member, and with max_cluster=0 every vector passes through kept
    (the skew guard disables all pair lists)."""
    emb = _emb(spark, sf_dir)
    pruned = CU.semdedup_prune(emb, n_iters=2, threshold=0.2)
    scored = SIM.kmeans_assign_scored(emb, n_iters=2)
    far = {
        (r.cl, r.vec_id)
        for r in scored.groupBy("cl")
        .agg(
            F.max(F.struct(F.col("dist"), (-F.col("vec_id")).alias("nid"))).alias("m")
        )
        .select("cl", (-F.col("m.nid")).alias("vec_id"))
        .collect()
    }
    kept = {(r.cluster_id, r.vec_id) for r in pruned.filter("is_kept = 1").collect()}
    assert far <= kept
    kept_clusters = {cl for cl, _ in kept}
    all_clusters = {r.cluster_id for r in pruned.collect()}
    assert kept_clusters == all_clusters
    guarded = CU.semdedup_prune(emb, n_iters=2, threshold=0.2, max_cluster=0)
    assert guarded.filter("is_kept = 0").count() == 0


def test_cluster_health_invariants(spark, sf_dir):
    """Occupancy sums to the corpus, worst members belong to their
    clusters, and the error fields are internally consistent
    (worst >= mean, sum >= n * mean via the floor)."""
    emb = _emb(spark, sf_dir)
    health = SIM.cluster_health(emb, n_iters=2).collect()
    assigned = SIM.kmeans_assign(emb, n_iters=2)
    assert sum(r.n_members for r in health) == emb.count()
    member_cl = {r.vec_id: r.cl for r in assigned.select("vec_id", "cl").collect()}
    for r in health:
        assert member_cl[r.worst_id] == r.cluster_id
        assert r.worst_err_ppm >= r.mean_err_ppm
        assert 0 <= r.sum_err_ppm - r.mean_err_ppm * r.n_members < r.n_members


def test_ivf_health_update_equals_rescan(spark, sf_dir, tmp_path):
    """Incremental health maintenance over two appended batches lands
    on EXACTLY the full-rescan stats (integer monoids), a replayed
    epoch is a no-op, and reads resolve the pointer-published
    layout."""
    emb = _emb(spark, sf_dir)
    base = emb.filter("vec_id % 3 = 0")
    batches = [emb.filter(f"vec_id % 3 = {i}") for i in (1, 2)]
    idx = str(tmp_path / "idx")
    hp = str(tmp_path / "health")
    model = SIM.ivf_fit(base, 8, seed=7)
    SIM.ivf_index_write(base, idx, model)
    SIM.ivf_health_write(spark, idx, hp)
    for i, b in enumerate(batches):
        SIM.ivf_index_update(spark, idx, b)
        SIM.ivf_health_update(spark, idx, hp, b, epoch=i)
    got = {tuple(r) for r in SIM.ivf_health_read(spark, hp).collect()}
    hp2 = str(tmp_path / "health_rescan")
    SIM.ivf_health_write(spark, idx, hp2)
    want = {tuple(r) for r in SIM.ivf_health_read(spark, hp2).collect()}
    assert got == want
    assert sum(r[1] for r in got) == emb.count()
    # crash-replay: an already-applied epoch must not double-count
    SIM.ivf_health_update(spark, idx, hp, batches[1], epoch=1)
    again = {tuple(r) for r in SIM.ivf_health_read(spark, hp).collect()}
    assert again == got


@pytest.mark.slow  # r13 tier: see pytest.ini
def test_autorefit_triggers_on_drift_and_rebaselines(spark, sf_dir, tmp_path):
    """The composed maintainer loop: a same-distribution batch leaves
    the index version alone; a drifted batch trips ivf_refit_check,
    publishes a NEW index version (pointer flip — the old one stays
    readable until then), and re-baselines so the next stable batch
    does not re-trip."""
    from reader_spark.operators import atomic_dir

    emb = _emb(spark, sf_dir)
    seed = emb.filter("vec_id < 300")
    idx = str(tmp_path / "idx")
    hp = str(tmp_path / "health")
    bp = str(tmp_path / "baseline")
    model = SIM.ivf_fit(seed, 8, seed=7)
    SIM.ivf_index_write(seed, idx, model)
    SIM.ivf_health_write(spark, idx, hp)
    SIM.ivf_health_write(spark, idx, bp)
    body = SIM.ivf_autorefit_maintainer(
        idx, hp, bp, n_clusters=8, max_err_growth_ppm=300_000
    )

    v0 = atomic_dir.versions(idx)[-1]
    stable = emb.filter("vec_id >= 300 and vec_id < 350").select(
        "vec_id", "embedding"
    )
    body(stable, 0)
    assert atomic_dir.versions(idx)[-1] == v0  # no refit on stable data
    check = SIM.ivf_refit_check(spark, hp, bp)
    assert not check["refit"]

    drifted = emb.filter("vec_id >= 350 and vec_id < 450").select(
        (F.col("vec_id") + 100_000).alias("vec_id"),
        F.transform(
            F.col("embedding").cast("array<double>"), lambda x: x + 40.0
        ).alias("embedding"),
    )
    body(drifted, 1)
    assert atomic_dir.versions(idx)[-1] > v0  # refit published a new version
    after = SIM.ivf_refit_check(spark, hp, bp)
    assert not after["refit"]  # re-baselined: no immediate re-trip
    # the refit index holds every row exactly once
    n = spark.read.parquet(f"{atomic_dir.resolve(idx)}/corpus").count()
    assert n == 300 + 50 + 100
    # crash-replay ACROSS the refit: if the stream dies after the
    # refit but before the checkpoint commits, batch 1 replays in
    # full. The index upserts (idempotent); the health update must
    # hit the epoch skip — the refit rescan already counted this
    # batch's rows, so a monoid re-merge would double-count them.
    # ivf_health_write stamping the batch's epoch makes this hold.
    v_refit = atomic_dir.versions(idx)[-1]
    stats_refit = {tuple(r) for r in SIM.ivf_health_read(spark, hp).collect()}
    body(drifted, 1)
    assert {tuple(r) for r in SIM.ivf_health_read(spark, hp).collect()} == (
        stats_refit
    )
    assert atomic_dir.versions(idx)[-1] == v_refit  # no spurious re-refit
    assert spark.read.parquet(
        f"{atomic_dir.resolve(idx)}/corpus"
    ).count() == n


@pytest.mark.parametrize(
    "name",
    ["embedding_clusters", "cluster_sample", "semdedup_prune", "cluster_health"],
)
def test_catalog_oracle_exact(spark, sf_dir, name):
    """Exact-value parity vs the DuckDB oracle at the test SF — the
    same comparison the driver's correctness gate runs."""
    import duckdb

    from reader_spark import queries as Q

    fn, sql = Q.CATALOG[name]
    got = fn(spark, sf_dir).toPandas().sort_values(
        by=None or sorted(fn(spark, sf_dir).columns)
    ).reset_index(drop=True)
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{sf_dir}/embeddings.parquet')"
    )
    want = con.sql(sql).fetchdf().sort_values(
        by=sorted(got.columns)
    ).reset_index(drop=True)
    assert sorted(got.columns) == sorted(want.columns)
    got = got[sorted(got.columns)]
    want = want[sorted(want.columns)]
    assert got.shape == want.shape
    for c in got.columns:
        assert str(got[c].dtype) == str(want[c].dtype), (
            c, got[c].dtype, want[c].dtype)
        assert (got[c] == want[c]).all(), c


def test_health_machinery_serves_pq_layout(spark, sf_dir, tmp_path):
    """The health/refit loop reads {index}/corpus — which the
    PQ-resident layout shares — so quantizer health works on an
    ivf_pq index unchanged: health over the PQ index == health over
    a plain IVF index of the same corpus under the same model."""
    emb = _emb(spark, sf_dir)
    model = SIM.ivf_fit(emb, 8, seed=7)
    pq_idx, plain_idx = str(tmp_path / "pq"), str(tmp_path / "plain")
    SIM.ivf_pq_index_write(emb, pq_idx, model, m=8, dim=64)
    SIM.ivf_index_write(emb, plain_idx, model)
    hp_pq, hp_plain = str(tmp_path / "hpq"), str(tmp_path / "hplain")
    SIM.ivf_health_write(spark, pq_idx, hp_pq)
    SIM.ivf_health_write(spark, plain_idx, hp_plain)
    got = {tuple(r) for r in SIM.ivf_health_read(spark, hp_pq).collect()}
    want = {tuple(r) for r in SIM.ivf_health_read(spark, hp_plain).collect()}
    assert got == want


def test_embedding_drift_family(spark, sf_dir, tmp_path):
    """The vector member of the drift family: an identical wave reads
    no drift; a mean-shifted wave trips the per-dim delta; the
    published reference (embedding_drift_ref_write) gives the same
    verdict as the direct summary; an empty wave logs a defined
    n_cur=0 / drifted verdict; the watch body is exactly-once per
    batch id."""
    emb = _emb(spark, sf_dir)
    ref = emb.filter("vec_id < 300").select("vec_id", "embedding")
    same = emb.filter("vec_id >= 300").select("vec_id", "embedding")

    # identical distribution: tiny deltas, no drift at 0.05
    s = SIM.embedding_drift_summary(ref, same, "embedding").collect()[0]
    assert not s["drifted"] and s["n_dims"] == 64
    assert s["n_ref"] == 300 and s["n_cur"] == ref.count() + same.count() - 300

    # shifted wave: +0.2 on every dim -> every dim clears the cut
    shifted = same.select(
        "vec_id",
        F.transform(
            F.col("embedding").cast("array<double>"), lambda x: x + 0.2
        ).alias("embedding"),
    )
    rep = SIM.embedding_drift_report(ref, shifted, "embedding")
    assert rep.filter(F.col("delta") > 0.05).count() == 64
    s2 = SIM.embedding_drift_summary(ref, shifted, "embedding").collect()[0]
    assert s2["drifted"] and s2["max_delta"] > 0.15

    # published reference == direct summary verdict
    rp = str(tmp_path / "edriftref")
    SIM.embedding_drift_ref_write(ref, rp, "embedding")
    chk = SIM.embedding_drift_check(spark, rp, shifted, "embedding")
    c = chk.collect()[0]
    assert c["drifted"] and c["n_dims"] == 64 and c["n_ref"] == 300
    assert abs(c["max_delta"] - s2["max_delta"]) < 2e-6
    ok = SIM.embedding_drift_check(spark, rp, same, "embedding").collect()[0]
    assert not ok["drifted"]

    # empty wave: a verdict, not a skip
    empty = same.limit(0)
    e = SIM.embedding_drift_check(spark, rp, empty, "embedding").collect()[0]
    assert e["n_cur"] == 0 and e["drifted"] and e["max_delta"] is None

    # watch body: per-batch rows, replay REPLACES (exactly-once)
    log = str(tmp_path / "edriftlog")
    body = SIM.embedding_drift_watch(rp, log, "embedding")
    body(same, 0)
    body(shifted, 1)
    body(shifted, 1)  # crash replay
    body(empty, 2)    # empty wave still logs
    rows = {r["batch"]: r for r in spark.read.parquet(log).collect()}
    assert set(rows) == {0, 1, 2}
    assert not rows[0]["drifted"] and rows[1]["drifted"]
    assert rows[2]["n_cur"] == 0 and rows[2]["drifted"]


def test_pinned_broadcast_decision_impl_invariant(spark, sf_dir):
    """r12 regression guard (r11 verdict #2): the pre-execution
    Catalyst estimate for kmeans_assign_scored swung ~17 orders of
    magnitude between the arrow kernel and the expression form, so
    any estimate-gated broadcast hint flipped with the plan shape.
    should_broadcast_pinned decides from the MATERIALIZED cache
    size; at test scale that frame is KB, so the answer is yes."""
    from reader_spark import cache
    from reader_spark.operators import dedup as DD

    emb = _emb(spark, sf_dir)
    p = SIM.kmeans_assign_scored(emb, n_iters=2).persist()
    try:
        assert DD.should_broadcast_pinned(p) is True
    finally:
        p.unpersist()
        cache.release_pins()


def test_semdedup_probe_side_parallel(spark, sf_dir):
    """r12 regression guard (r11 verdict #1): on a ONE-file input the
    quadratic per-cluster pair generation must not inherit the single
    scan partition (the r11 semdedup regression, where a broadcast
    b-side pinned pair-gen onto one core). The r12 shape keys the
    dominance join on `cl` through an EXPLICIT
    repartition(defaultParallelism, "cl") — explicit so AQE cannot
    coalesce the tiny exchange back to one task (measured: a bare
    merge hint re-serialized the whole pair-gen). Assert the plan
    carries that user-specified exchange on the probe side."""
    import re

    from reader_spark import cache

    cache.release_pins()
    emb = _emb(spark, sf_dir)
    assert emb.rdd.getNumPartitions() == 1  # fixture precondition
    out = CU.semdedup_prune(emb, n_iters=2, threshold=0.2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    dp = spark.sparkContext.defaultParallelism
    assert re.search(
        rf"hashpartitioning\(cl#\d+L?, {dp}\), REPARTITION_BY_NUM", plan
    ), plan
    cache.release_pins()


def test_nearest_clusters_impl_parity_columns_and_rows(spark, sf_dir):
    """The Arrow nprobe=1 assignment and its expression oracle agree
    on column ORDER (id first, passthrough, cl) even when the side
    frame's id column is not first, and on row multiplicity (1:1 for
    unique ids)."""
    from kernel_oracles import nearest_cluster_expr

    emb = _emb(spark, sf_dir)
    vecs = emb.select(
        F.col("embedding").cast("array<double>").alias("vec"),
        "vec_id",
        F.col("label").alias("cluster"),
    ).withColumn("nv", SIM.dot(F.col("vec"), F.col("vec")))
    cents = SIM.kmeans_lloyd(
        vecs.select("vec_id", "cluster", "vec", "nv"), n_iters=1
    )
    side = vecs.drop("cluster")
    outs = {
        "arrow": SIM.nearest_clusters(side, cents, 1, "vec_id"),
        "expr": nearest_cluster_expr(side, cents, "vec_id"),
    }
    assert outs["arrow"].columns == outs["expr"].columns
    assert outs["arrow"].columns[0] == "vec_id"
    assert outs["arrow"].columns[-1] == "cl"
    n = side.count()
    assert outs["arrow"].count() == n
    assert outs["expr"].count() == n
