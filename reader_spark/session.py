"""SparkSession factory with scale-appropriate defaults.

Local testing runs on local[N]; the same config block is what we would
ship to a 1000-executor cluster (AQE, skew-join handling, Arrow) —
only master/memory/shuffle-partition count are environment-specific.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# The default driver heap is a share of physical memory, capped at
# 48g: a local[N] JVM (driver and executors in one process, with the
# Python workers beside it) must never be sized past the machine, or
# the OS kills it instead of Spark spilling.
DRIVER_MEM_CAP_GB = 48
DRIVER_MEM_FRACTION = 0.4


def default_driver_mem(total_bytes: int | None = None) -> str:
    """Default `spark.driver.memory`: DRIVER_MEM_FRACTION of physical
    memory in whole GiB, at least 1g and at most DRIVER_MEM_CAP_GB
    (e.g. 6g on a 15 GiB host, 48g from 120 GiB up). `total_bytes`
    defaults to this host's physical memory.
    SPARK_GRAFT_DRIVER_MEM overrides the result in `get_spark`."""
    if total_bytes is None:
        total_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    gb = int(total_bytes * DRIVER_MEM_FRACTION) >> 30
    return f"{min(DRIVER_MEM_CAP_GB, max(1, gb))}g"


def get_spark(
    app_name: str = "reader_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    At 100 TB, `spark.sql.shuffle.partitions` is sized so a shuffle
    partition is ~128-200 MB (AQE coalescing trims the rest); locally
    we pin it to the core count so tiny SF data isn't over-split.
    """
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Driver fixtures store events.ts as TIMESTAMP(NANOS); Spark
        # has no nanos type — read as long and convert in the loader.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_mem(),
        )
        # Throughput GC for batch analytics: the default G1 collector
        # spends minutes growing/ compacting regions under the
        # allocation burst of wide decimal/row aggregations (measured:
        # TPC-H Q1 over 60M rows first-run 167 s on G1 vs 12 s on
        # ParallelGC, steady-state 9.4 s vs 3.7-6 s). Real clusters
        # make the same call: latency-oriented G1 is for services,
        # ParallelGC for throughput-bound executors.
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS", "-XX:+UseParallelGC"),
        )
        .config("spark.ui.enabled", "false")
        # A curate run needs more generated classes than the default
        # 100-entry codegen cache holds, so each run evicted and
        # recompiled them: a second identical minhash + component-split
        # curate run (pytest session, local[4], sf0.001) compiled 121
        # classes with Janino at the default size, 16 with room for
        # 1000. Static conf: it must be set at build time.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# Columns stored as TIMESTAMP(NANOS) in the fixtures: surfaced as
# nanos-since-epoch longs (nanosAsLong) and converted here. Integer
# `DIV 1000` truncates to micros exactly like DuckDB's nanos->micros
# truncation, so oracles agree.
NANO_TS_COLS: dict[str, list[str]] = {"events": ["ts"]}


def read_table(spark: SparkSession, sf_dir: str, name: str):
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    # Runtime-settable safety pins for vanilla caller sessions (the
    # driver builds its own SparkSession without our factory configs):
    # UTC keeps date_format/zoned-timestamp output independent of the
    # host timezone, matching the DuckDB oracle.
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:
        pass
    if name in NANO_TS_COLS:
        # Ensures nanos columns load even when the caller's session
        # didn't set the conf at build time.
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for c in NANO_TS_COLS.get(name, []):
        if isinstance(df.schema[c].dataType, T.LongType):
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"{c} DIV 1000")))
    # Micros-precision fixture timestamps carry no UTC-adjustment flag,
    # so Spark 4 infers TIMESTAMP_NTZ. The catalog computes in zoned
    # TIMESTAMP (unix_micros, date_format); with the session pinned to
    # UTC this cast preserves the wall clock exactly — the same naive
    # values DuckDB reads.
    ntz = [
        f.name for f in df.schema.fields
        if isinstance(f.dataType, T.TimestampNTZType)
    ]
    if ntz:
        df = df.withColumns({c: F.col(c).cast("timestamp") for c in ntz})
    return df


def load_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None):
    """Load the driver's parquet fixtures and register temp views.

    Returns a dict name -> DataFrame. Parquet scans get column pruning
    + predicate pushdown from Catalyst for free.
    """
    names = names or [
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    ]
    out = {}
    for n in names:
        df = read_table(spark, sf_dir, n)
        df.createOrReplaceTempView(n)
        out[n] = df
    return out
