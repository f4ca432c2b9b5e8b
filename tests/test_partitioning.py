"""Z-order clustered writes (file pruning on two dimensions) and
the runtime bloom-filter join recipe — plan and result contracts."""

import pyspark.sql.functions as F


def test_zorder_write_empty_and_allnull_inputs(spark, tmp_path):
    """Empty input / all-null cluster column: no bounds to bucket
    against -> write unclustered instead of crashing on float(None)
    (r4 advice finding)."""
    from reader_spark.operators import partitioning as P

    empty = spark.createDataFrame([], "x long, y long")
    p1 = str(tmp_path / "z_empty")
    P.zorder_write(empty, p1, ["x", "y"], n_files=4)
    assert spark.read.parquet(p1).count() == 0

    nulls = spark.createDataFrame(
        [(None, 1), (None, 2)], "x long, y long"
    )
    p2 = str(tmp_path / "z_nulls")
    P.zorder_write(nulls, p2, ["x", "y"], n_files=4)
    got = spark.read.parquet(p2)
    assert got.count() == 2 and set(got.columns) == {"x", "y"}


def test_zorder_write_locality(spark, tmp_path):
    """Z-order clustering bounds per-file ranges on BOTH dimensions:
    a selective filter on either column intersects only a minority
    of files, while a single-column sort leaves the other dimension
    unpruned (every file intersects)."""
    from reader_spark.operators import partitioning as P

    n = 20_000
    df = spark.range(n).select(
        (F.col("id") % 141).alias("x"),
        ((F.col("id") * 7919) % 139).alias("y"),
    )
    zpath = str(tmp_path / "zorder")
    P.zorder_write(df, zpath, ["x", "y"], n_files=16)

    # naive baseline: range-sorted by x only
    npath = str(tmp_path / "naive")
    (df.repartitionByRange(16, "x").sortWithinPartitions("x")
       .write.mode("overwrite").parquet(npath))

    def files_intersecting(path, col, lo, hi):
        stats = (
            spark.read.parquet(path)
            .groupBy(F.input_file_name().alias("f"))
            .agg(F.min(col).alias("mn"), F.max(col).alias("mx"))
            .collect()
        )
        hit = sum(1 for r in stats if r["mx"] >= lo and r["mn"] <= hi)
        return hit, len(stats)

    # ~10% slice of each dimension
    zx, ztot = files_intersecting(zpath, "x", 0, 13)
    zy, _ = files_intersecting(zpath, "y", 0, 13)
    nx, ntot = files_intersecting(npath, "x", 0, 13)
    ny, _ = files_intersecting(npath, "y", 0, 13)
    assert ztot == 16 and ntot == 16
    # naive prunes its own sort column hard but reads EVERY file for y
    assert nx <= 3 and ny == 16
    # z-order prunes BOTH dimensions to a minority of files
    assert zx <= 8 and zy <= 8
    # and the clustered write loses no rows
    assert spark.read.parquet(zpath).count() == n


def test_runtime_bloom_filter_join_prunes(spark, tmp_path):
    """Spark's runtime bloom-filter join insertion — the shuffle-side
    row-pruning lever for selective dim filters when the dim is too
    big to broadcast: the optimizer plants a bloom filter built from
    the filtered creation side into the fact scan. Off by default at
    local scale only because of the 10GB application-side threshold —
    at the 100 TB tier the defaults fire on their own; this pins the
    config recipe and asserts the plan shape."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {}
    for k, v in confs.items():
        saved[k] = spark.conf.get(k, None)
        spark.conf.set(k, v)
    try:
        d = str(tmp_path)
        spark.range(500_000).selectExpr(
            "id", "id % 1000 AS k", "concat('v', id) AS pad"
        ).write.mode("overwrite").parquet(f"{d}/fact")
        spark.range(50_000).selectExpr(
            "id AS k2", "id % 97 AS attr"
        ).write.mode("overwrite").parquet(f"{d}/dim")
        fact = spark.read.parquet(f"{d}/fact")
        dim = spark.read.parquet(f"{d}/dim").filter("attr = 3")
        j = fact.join(dim, fact.k == dim.k2)
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom" in plan.lower()
        # and the join still computes the right thing
        assert j.count() == fact.filter("k % 97 = 3").count()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
