"""Query catalog: every operator exposed to the driver's correctness
gate, with its DuckDB oracle SQL colocated.

Each entry is (spark_fn, oracle_sql_or_None). Column names are aliased
identically on both sides (the driver sorts columns by name before
value-hashing). Cross-engine determinism rules used throughout:

  * money math in exact DECIMAL (order-independent), cast to DOUBLE at
    the very end — bit-identical in Spark and DuckDB;
  * timestamps rendered via date_format/strftime to strings;
  * hashes derived from md5 (both engines agree);
  * float folds (dot products) evaluated left-to-right sequentially on
    both sides;
  * integer division written to truncate identically.
"""

from __future__ import annotations

import atexit
import functools
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from reader_spark.cache import pin, release_pins
from reader_spark.functions import text as TX
from reader_spark.operators import curation as CU
from reader_spark.operators import dedup as DD
from reader_spark.operators import joins as JO
from reader_spark.operators import retrieval as RT
from reader_spark.operators import similarity as SIM
from reader_spark.plans import snapshot as SNAP

# ---------------------------------------------------------------------------
# helpers

DEC_PRICE = "decimal(12,2)"
DEC_RATE = "decimal(9,4)"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from reader_spark.session import read_table

    return read_table(spark, sf_dir, name)


@functools.cache
def _work_root() -> str:
    """The one per-process parent of the index-backed builders' work
    dirs. The frames those builders return read their dirs lazily, so
    no builder can remove its own; the root goes at interpreter exit."""
    root = tempfile.mkdtemp(prefix="reader_spark_work_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    return root


def _work_dir(prefix: str) -> str:
    return tempfile.mkdtemp(prefix=prefix, dir=_work_root())


def _fmt_ts(c, alias: str):
    return F.date_format(c, "yyyy-MM-dd HH:mm:ss").alias(alias)


# Edge-canonicalization convention (applies to EVERY catalog query):
# exact-decimal aggregation stays internal (order-independent,
# engine-identical); the outermost select renders decimals as their
# full-scale string form ("123.400000"), which Spark and DuckDB format
# identically. This sidesteps driver-side hash canonicalization
# differences between DECIMAL/HUGEINT and the plain {BIGINT, DOUBLE,
# VARCHAR} types (every r1 hash-red query had a DECIMAL or HUGEINT edge
# column; values were verified equal). Oracle SQL mirrors this with
# ``::VARCHAR`` / ``::BIGINT`` at its outermost select. The casts are
# written inline in each function — never via a runtime wrapper.


# ---------------------------------------------------------------------------
# Reference surface: scans / projections / envelope / sink semantics


def s1_snapshot_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1: snapshot of a table == partitioned parallel read. Full
    column set; parquet scan is pruned/pushed by Catalyst."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_partkey",
        "l_suppkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
        "l_returnflag",
        "l_linestatus",
        _fmt_ts(F.col("l_shipdate"), "l_shipdate"),
    )


S1_SQL = """
SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
       l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus,
       strftime(l_shipdate, '%Y-%m-%d %H:%M:%S') AS l_shipdate
FROM lineitem
"""


def s2_pk_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2: min/max PK probe (schema.go:249-315)."""
    return SNAP.pk_bounds(_t(spark, sf_dir, "orders"), "o_orderkey")


S2_SQL = "SELECT min(o_orderkey) AS min_pk, max(o_orderkey) AS max_pk FROM orders"


def b1_chunked_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/B1: union of PK-range chunks == full table (partition-
    boundary correctness, SURVEY §5.3)."""
    orders = _t(spark, sf_dir, "orders")
    chunked = SNAP.chunked_scan(orders, "o_orderkey", 8)
    return chunked.select("o_orderkey", "o_custkey", "o_orderstatus")


B1_SQL = "SELECT o_orderkey, o_custkey, o_orderstatus FROM orders"


def p1_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1: exclude-columns projection with PK guard
    (lib/rdbms/column/column.go:36-77)."""
    orders = _t(spark, sf_dir, "orders")
    proj = SNAP.project_columns(
        orders, pk_cols=["o_orderkey"], exclude=["o_orderpriority", "o_totalprice"]
    )
    return proj.select(
        "o_orderkey", "o_custkey", "o_orderstatus", _fmt_ts(F.col("o_orderdate"), "o_orderdate")
    )


P1_SQL = """
SELECT o_orderkey, o_custkey, o_orderstatus,
       strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate
FROM orders
"""


def p4_invalid_nulling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4: invalid-value nulling (NaN -> NULL, out-of-range year ->
    NULL) — lib/mysql/schema/convert.go:264-286, time.go:96-110."""
    from reader_spark.functions.converters import null_nan

    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        null_nan(F.col("value")).alias("value_clean"),
        F.when(F.year("ts") > 9999, None)
        .otherwise(F.date_format("ts", "yyyy-MM-dd HH:mm:ss"))
        .alias("ts_clean"),
    )


P4_SQL = """
SELECT event_id,
       CASE WHEN isnan(value) THEN NULL ELSE value END AS value_clean,
       CASE WHEN year(ts) > 9999 THEN NULL
            ELSE strftime(ts, '%Y-%m-%d %H:%M:%S') END AS ts_clean
FROM events
"""


def p5_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5/P6/K2 contract: Debezium snapshot envelope (topic, key,
    value) with op='r' (transformer.go:108-127). ts pinned for
    determinism."""
    from reader_spark.envelope import snapshot_envelope

    nation = _t(spark, sf_dir, "nation")
    return snapshot_envelope(
        nation,
        pk_cols=["n_nationkey"],
        db="tpch",
        schema="public",
        table="nation",
        topic_prefix="cdc",
        ts_col=F.lit(0),
    )


P5_SQL = """
SELECT 'cdc.tpch.nation' AS topic,
       concat('{"schema":{"type":"struct","fields":[{"type":"int32","optional":true,"field":"n_nationkey"}]},"payload":',
              to_json(struct_pack(n_nationkey := n_nationkey)), '}') AS key,
       concat('{"schema":{"type":"struct","fields":[{"type":"struct","fields":['
              || '{"type":"int32","optional":true,"field":"n_nationkey"},'
              || '{"type":"string","optional":true,"field":"n_name"},'
              || '{"type":"int32","optional":true,"field":"n_regionkey"}'
              || '],"optional":false,"field":"after"}],"optional":false},"payload":',
              to_json(struct_pack(
                before := NULL,
                after := struct_pack(n_nationkey := n_nationkey, n_name := n_name,
                                     n_regionkey := n_regionkey),
                source := struct_pack(db := 'tpch', "schema" := 'public',
                                      "table" := 'nation', ts_ms := 0::BIGINT),
                op := 'r')), '}') AS value
FROM nation
"""


def p7_ddl_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7/P8: Debezium-style regex skip-list filter
    (sources/mysql/streaming/converter.go:17-40) applied to the event
    stream: drop bookkeeping/error events."""
    ev = _t(spark, sf_dir, "events")
    return ev.filter(~F.col("event_type").rlike("^(error|heartbeat|BEGIN|COMMIT)$")).select(
        "event_id", "user_id", "event_type"
    )


P7_SQL = """
SELECT event_id, user_id, event_type FROM events
WHERE NOT regexp_matches(event_type, '^(error|heartbeat|BEGIN|COMMIT)$')
"""


def c10_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C10/S10 analogue: typed extraction from a JSON attribute map
    (DynamoDB/Mongo documents carry JSON payloads)."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id", F.get_json_object("props", "$.k").cast("long").alias("k")
    )


C10_SQL = "SELECT event_id, (props->>'$.k')::BIGINT AS k FROM events"


def k3_transfer_dedupe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3: Transfer-writer PK dedupe — latest row per key
    (writers/transfer/writer.go:329-366)."""
    ev = _t(spark, sf_dir, "events")
    latest = SNAP.transfer_dedupe(
        ev, pk_cols=["user_id", "event_type"], order_col="ts", tiebreak_cols=["event_id"]
    )
    return latest.select(
        "user_id", "event_type", "event_id", "value", _fmt_ts(F.col("ts"), "ts")
    )


K3_SQL = """
SELECT user_id, event_type, event_id, value,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts
FROM events
QUALIFY row_number() OVER (PARTITION BY user_id, event_type
                           ORDER BY ts DESC, event_id DESC) = 1
"""


# ---------------------------------------------------------------------------
# Analytics (engine capability at scale; TPC-H-shaped)


def p3_wire_converters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3/P2 wire-format battery over the reference's golden vectors:
    MySQL POINT 25-byte internal format (convert.go:193-216), MySQL
    GEOMETRY srid+wkb split (convert.go:217-241), Postgres EWKB
    geography (geom.go:51-62), TIME WITH TIME ZONE normalization
    (adapter/converters.go:13-44), and the Debezium VariableScaleDecimal
    struct (decimal.go:73-103). Spark runs the REAL decoders
    (IEEE-754 bit decode stays JVM-side via conv + reflect; the
    variable numeric is the one Arrow-batched edge UDF); the oracle
    states the reference's documented expected wire values."""
    from reader_spark.functions import converters as C

    raw = spark.sql(
        """
        SELECT * FROM VALUES
          (1, 'AAAAAAEBAAAAAAAAAAAAAAAAAAAAAAAAAA==', NULL, NULL, NULL),
          (2, 'AAAAAAEBAAAArkfhehSuKECkcD0K12NMQA==', NULL, NULL, NULL),
          (3, 'AAAAAAEBAAAASOF6FK5IocDD9ShcjzmqwA==', NULL, NULL, NULL),
          (4, NULL, '010100000000000000000000000000000000000000', NULL, NULL),
          (5, NULL, NULL, '11:02:06.222-07', NULL),
          (6, NULL, NULL, '23:30:00+05', NULL),
          (7, NULL, NULL, '12:00:00+05:30', NULL),
          (8, NULL, NULL, '23:00:00-05', NULL),
          (9, NULL, NULL, NULL, '12.34'),
          (10, NULL, NULL, NULL, '-12.34'),
          (11, NULL, NULL, NULL, '0')
        AS t(case_id, mp, geo, tz, vn)
        """
    )
    # srid=4326 little-endian variant of case 2's geometry bytes
    geom = C.mysql_geometry_struct(
        F.unhex(F.concat(F.lit("E6100000"), F.substring(F.hex(F.unbase64("mp")), 9, 42)))
    )
    pt = C.mysql_point_struct(F.unbase64("mp"))
    vnst = C.variable_numeric(F.col("vn"))
    return raw.select(
        F.col("case_id").cast("long").alias("case_id"),
        pt.getField("x").alias("x"),
        pt.getField("y").alias("y"),
        C.pg_geography_struct(F.col("geo")).getField("wkb").alias("wkb"),
        F.when(F.col("mp").isNotNull(), geom.getField("srid").cast("long")).alias("srid"),
        C.timetz_utc_string(F.col("tz")).alias("timetz"),
        vnst.getField("scale").cast("long").alias("vn_scale"),
        F.hex(vnst.getField("value")).alias("vn_value"),
    )


P3_SQL = """
SELECT case_id::BIGINT AS case_id, x::DOUBLE AS x, y::DOUBLE AS y,
       wkb::VARCHAR AS wkb, srid::BIGINT AS srid,
       timetz::VARCHAR AS timetz, vn_scale::BIGINT AS vn_scale,
       vn_value::VARCHAR AS vn_value
FROM (VALUES
  (1, 0.0, 0.0, NULL, 4326, NULL, NULL, NULL),
  (2, 12.34, 56.78, NULL, 4326, NULL, NULL, NULL),
  (3, -2212.34, -3356.78, NULL, 4326, NULL, NULL, NULL),
  (4, NULL, NULL, 'AQEAAAAAAAAAAAAAAAAAAAAAAAAA', NULL, NULL, NULL, NULL),
  (5, NULL, NULL, NULL, NULL, '18:02:06.222000Z', NULL, NULL),
  (6, NULL, NULL, NULL, NULL, '18:30:00.000000Z', NULL, NULL),
  (7, NULL, NULL, NULL, NULL, '06:30:00.000000Z', NULL, NULL),
  (8, NULL, NULL, NULL, NULL, '04:00:00.000000Z', NULL, NULL),
  (9, NULL, NULL, NULL, NULL, NULL, 2, '04D2'),
  (10, NULL, NULL, NULL, NULL, NULL, 2, 'FB2E'),
  (11, NULL, NULL, NULL, NULL, NULL, 0, '00')
) t(case_id, x, y, wkb, srid, timetz, vn_scale, vn_value)
"""


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1. Exact decimal aggregation (order-independent), double
    at the edge. One shuffle; partial agg map-side."""
    li = _t(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast(DEC_PRICE)
    price = F.col("l_extendedprice").cast(DEC_PRICE)
    disc = F.col("l_discount").cast(DEC_RATE)
    tax = F.col("l_tax").cast(DEC_RATE)
    one = F.lit(1.0).cast(DEC_RATE)
    return (
        li.filter(F.col("l_shipdate") <= "2000-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            # High-scale money sums stay DECIMAL end-to-end: the
            # decimal value is exact and engine-identical, while a
            # final decimal->double cast can differ by 1 ulp between
            # engines (observed at sf0.001 on sum_disc_price).
            F.sum(qty).cast("decimal(38,2)").cast("string").alias("sum_qty"),
            F.sum(price).cast("decimal(38,2)").cast("string").alias("sum_base_price"),
            F.sum(price * (one - disc)).cast("decimal(38,6)").cast("string").alias("sum_disc_price"),
            F.sum(price * (one - disc) * (one + tax)).cast("decimal(38,10)").cast("string").alias("sum_charge"),
            (F.sum(qty).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       sum(l_quantity::DECIMAL(12,2))::DECIMAL(38,2)::VARCHAR AS sum_qty,
       sum(l_extendedprice::DECIMAL(12,2))::DECIMAL(38,2)::VARCHAR AS sum_base_price,
       sum(l_extendedprice::DECIMAL(12,2) * (1.0::DECIMAL(9,4) - l_discount::DECIMAL(9,4)))::DECIMAL(38,6)::VARCHAR AS sum_disc_price,
       sum(l_extendedprice::DECIMAL(12,2) * (1.0::DECIMAL(9,4) - l_discount::DECIMAL(9,4)) * (1.0::DECIMAL(9,4) + l_tax::DECIMAL(9,4)))::DECIMAL(38,10)::VARCHAR AS sum_charge,
       sum(l_quantity::DECIMAL(12,2))::DOUBLE / count(*) AS avg_qty,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join, filter pushdown on both sides,
    broadcast the dimension, top-10 by exact-decimal revenue."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1998-03-15")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1998-03-15")
    rev = (F.col("l_extendedprice").cast(DEC_PRICE) * (
        F.lit(1.0).cast(DEC_RATE) - F.col("l_discount").cast(DEC_RATE)
    ))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev).cast("decimal(38,6)").alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            _fmt_ts(F.col("o_orderdate"), "o_orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
        # edge canonicalization AFTER the numeric order-by (a string
        # sort would reorder the top-10) — see _dec_edge note
        .withColumn("revenue", F.col("revenue").cast("string"))
    )


Q3_SQL = """
SELECT l_orderkey, revenue::VARCHAR AS revenue, o_orderdate, o_orderpriority
FROM (
  SELECT l_orderkey,
         sum(l_extendedprice::DECIMAL(12,2) * (1.0::DECIMAL(9,4) - l_discount::DECIMAL(9,4)))::DECIMAL(38,6) AS revenue,
         strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate,
         o_orderpriority
  FROM customer, orders, lineitem
  WHERE c_mktsegment = 'BUILDING'
    AND c_custkey = o_custkey AND l_orderkey = o_orderkey
    AND o_orderdate < TIMESTAMP '1998-03-15' AND l_shipdate > TIMESTAMP '1998-03-15'
  GROUP BY l_orderkey, o_orderdate, o_orderpriority
  ORDER BY revenue DESC, l_orderkey
  LIMIT 10
) t
"""


def q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join; dims broadcast, facts shuffle on
    join keys once."""
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1999-01-01")
    )
    li = _t(spark, sf_dir, "lineitem")
    rev = (F.col("l_extendedprice").cast(DEC_PRICE) * (
        F.lit(1.0).cast(DEC_RATE) - F.col("l_discount").cast(DEC_RATE)
    ))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey))
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(rev).cast("decimal(38,6)").cast("string").alias("revenue"))
    )


Q5_SQL = """
SELECT n_name,
       sum(l_extendedprice::DECIMAL(12,2) * (1.0::DECIMAL(9,4) - l_discount::DECIMAL(9,4)))::DECIMAL(38,6)::VARCHAR AS revenue
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1999-01-01'
GROUP BY n_name
"""


def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 parts per brand by retail price (window top-k; at scale,
    pre-reduce per partition before the window shuffle)."""
    from pyspark.sql import Window as W

    part = _t(spark, sf_dir, "part")
    w = W.partitionBy("p_brand").orderBy(F.col("p_retailprice").desc(), F.col("p_partkey"))
    return (
        part.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("p_brand", "p_partkey", "p_retailprice", "rank")
    )


TOPK_SQL = """
SELECT p_brand, p_partkey, p_retailprice,
       row_number() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS rank
FROM part
QUALIFY rank <= 3
"""


def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation (batch form of the streaming
    windowed agg): events per hour per type."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format("ts", "yyyy-MM-dd HH:00:00").alias("hour"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(DEC_PRICE)).cast("double").alias("sum_value"),
        )
    )


HOURLY_SQL = """
SELECT strftime(ts, '%Y-%m-%d %H:00:00') AS hour, event_type,
       count(*) AS n_events,
       sum(value::DECIMAL(12,2))::DOUBLE AS sum_value
FROM events GROUP BY 1, 2
"""


def sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30 min): lag + cumulative sum over a
    per-user window — the canonical batch sessionizer."""
    from pyspark.sql import Window as W

    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    tus = F.unix_micros(F.col("ts"))
    gap = tus - F.lag(tus).over(w)
    is_new = F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0)
    sess = ev.withColumn(
        "session_id", F.sum(is_new).over(w.rowsBetween(W.unboundedPreceding, 0))
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
    )


def session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE `session_window` aggregation — the state-store
    sessionizer the streaming path uses (same expression runs under
    a watermark in test_streaming.py). Semantics probed and matched
    in the oracle: events exactly `gap` apart MERGE (new session only
    when the gap is strictly greater), session end = last event +
    gap. At scale this replaces the lag+cumsum window pair with one
    session-merging aggregate — map-side partial merging included,
    which the window formulation cannot do."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("sw")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format("sw.start", "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            F.date_format("sw.end", "yyyy-MM-dd HH:mm:ss").alias(
                "session_end"
            ),
            "n_events",
        )
    )


SESSION_NATIVE_SQL = """
WITH m AS (
  SELECT user_id, ts,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), s AS (
  SELECT user_id, ts,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS sid
  FROM m
)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S')
         AS session_end,
       count(*)::BIGINT AS n_events
FROM s GROUP BY user_id, sid
"""


SESSION_SQL = """
WITH m AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, ts,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS session_id
  FROM m
)
SELECT user_id, session_id::BIGINT AS session_id, count(*) AS n_events,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start
FROM s GROUP BY user_id, session_id
"""


def rollup_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregation over region/nation (grouping-sets support)."""
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    j = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return j.rollup("r_name", "n_name").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast(DEC_PRICE)).cast("double").alias("total_sales"),
    )


ROLLUP_SQL = """
SELECT r_name, n_name, count(*) AS n_orders,
       sum(o_totalprice::DECIMAL(12,2))::DOUBLE AS total_sales
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


def anti_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no early orders (left-anti join == NOT EXISTS;
    the filter is pushed below the join)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1995-06-01"
    )
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


ANTI_SQL = """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate < TIMESTAMP '1995-06-01')
"""


def semi_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers having at least one urgent order (left-semi ==
    EXISTS)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_mktsegment")


SEMI_SQL = """
SELECT c_custkey, c_mktsegment FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
              AND o_orderpriority = '1-URGENT')
"""


def set_ops_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT/EXCEPT: buyers in BUILDING segment who also placed
    urgent orders, minus those with any F-status order."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    building = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("c_custkey")
    )
    f_status = orders.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return building.intersect(urgent).exceptAll(f_status.distinct())


SETOPS_SQL = """
SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
INTERSECT
SELECT o_custkey AS c_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
EXCEPT
SELECT DISTINCT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'F'
"""


def percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (the approximate
    variant — percentile_approx/t-digest — is the 100 TB path; exact
    is the oracle-checkable baseline)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.5)"), 6).alias("p50_qty"),
        F.round(F.expr("percentile(l_extendedprice, 0.25)"), 6).alias("p25_price"),
        F.round(F.expr("percentile(l_extendedprice, 0.75)"), 6).alias("p75_price"),
    )


PERCENTILES_SQL = """
SELECT l_returnflag,
       round(quantile_cont(l_quantity, 0.5), 6) AS p50_qty,
       round(quantile_cont(l_extendedprice, 0.25), 6) AS p25_price,
       round(quantile_cont(l_extendedprice, 0.75), 6) AS p75_price
FROM lineitem GROUP BY l_returnflag
"""


def pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot order counts by status per priority (emitted as
    conditional aggregation so the oracle is plain SQL)."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .count()
        .select(
            "o_orderpriority",
            F.coalesce("O", F.lit(0)).alias("n_open"),
            F.coalesce("F", F.lit(0)).alias("n_finished"),
            F.coalesce("P", F.lit(0)).alias("n_partial"),
        )
    )


PIVOT_SQL = """
SELECT o_orderpriority,
       count(*) FILTER (o_orderstatus = 'O') AS n_open,
       count(*) FILTER (o_orderstatus = 'F') AS n_finished,
       count(*) FILTER (o_orderstatus = 'P') AS n_partial
FROM orders GROUP BY o_orderpriority
"""


def small_quantity_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated scalar subquery — lineitems below
    half their part's average quantity. Spark plans the inner agg as
    a broadcast-joined aggregate, not a per-row subquery."""
    li = _t(spark, sf_dir, "lineitem")
    avg_per_part = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (
            F.sum(F.col("l_quantity").cast(DEC_PRICE)).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_qty")
    )
    return (
        li.join(F.broadcast(avg_per_part), li.l_partkey == avg_per_part.pk)
        .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).alias("n_small"),
            F.sum(F.col("l_extendedprice").cast(DEC_PRICE)).cast("double").alias("small_revenue"),
        )
    )


SMALLQTY_SQL = """
WITH avg_per_part AS (
  SELECT l_partkey AS pk,
         sum(l_quantity::DECIMAL(12,2))::DOUBLE / count(*) AS avg_qty
  FROM lineitem GROUP BY l_partkey
)
SELECT l_partkey, count(*) AS n_small,
       sum(l_extendedprice::DECIMAL(12,2))::DOUBLE AS small_revenue
FROM lineitem JOIN avg_per_part ON l_partkey = pk
WHERE l_quantity < 0.5 * avg_qty
GROUP BY l_partkey
"""


def string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar string-function surface: case, substring, concat,
    length, edit distance, regex extraction."""
    part = _t(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.substring("p_name", 1, 5).alias("name_prefix"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.length("p_name").alias("name_len"),
        F.levenshtein("p_brand", F.lit("Brand#1")).alias("brand_dist"),
        F.regexp_extract("p_brand", r"#(\d+)", 1).cast("int").alias("brand_num"),
    )


STRINGS_SQL = """
SELECT p_partkey,
       upper(p_name) AS name_upper,
       substr(p_name, 1, 5) AS name_prefix,
       concat_ws('|', p_brand, p_type) AS brand_type,
       length(p_name) AS name_len,
       levenshtein(p_brand, 'Brand#1') AS brand_dist,
       regexp_extract(p_brand, '#(\\d+)', 1)::INT AS brand_num
FROM part
"""


def max_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (each customer's maximal orders) —
    Catalyst decorrelates it into an aggregate + join; exact `max`
    keeps the predicate float-unambiguous across engines."""
    orders = _t(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("__orders_corr")
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM __orders_corr o
        WHERE o_totalprice = (SELECT max(i.o_totalprice)
                              FROM __orders_corr i
                              WHERE i.o_custkey = o.o_custkey)
        """
    )


MAX_ORDER_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders o
WHERE o_totalprice = (SELECT max(i.o_totalprice)
                      FROM orders i
                      WHERE i.o_custkey = o.o_custkey)
"""


def date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar date/time surface: extract, truncate, diff, add."""
    orders = _t(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.dayofweek("o_orderdate").alias("order_dow"),
        F.date_format(F.date_trunc("quarter", "o_orderdate"), "yyyy-MM-dd").alias("order_quarter"),
        F.datediff(F.lit("2002-01-01").cast("date"), F.col("o_orderdate").cast("date")).alias("days_to_2002"),
        F.date_format(F.date_add(F.col("o_orderdate").cast("date"), 30), "yyyy-MM-dd").alias("due_date"),
    )


DATES_SQL = """
SELECT o_orderkey,
       year(o_orderdate)::INT AS order_year,
       month(o_orderdate)::INT AS order_month,
       (dayofweek(o_orderdate) + 1)::INT AS order_dow,
       strftime(date_trunc('quarter', o_orderdate), '%Y-%m-%d') AS order_quarter,
       date_diff('day', o_orderdate::DATE, DATE '2002-01-01')::INT AS days_to_2002,
       strftime(o_orderdate::DATE + INTERVAL 30 DAY, '%Y-%m-%d') AS due_date
FROM orders
"""


def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, IVF-bucketed by label
    (the 100 TB path: equi-join on the cluster key bounds the
    candidate set; no cross join)."""
    emb = _t(spark, sf_dir, "embeddings")
    # Norms are per-VECTOR, not per-pair: precompute once (the fold is
    # an interpreted higher-order expr — the expensive bit) and spread
    # the one-file table so the pair stage isn't single-task.
    vecs = pin(
        DD.ensure_parallelism(
            emb.select(
                "vec_id", "label",
                F.col("embedding").cast("array<double>").alias("vec"),
            )
        ).withColumn("nrm", F.sqrt(SIM.dot(F.col("vec"), F.col("vec"))))
    )
    a = vecs.alias("a")
    # pinned self-join: decide the hint from the materialized cache
    # size (plan-independent), not the interpreted-fold-inflated plan
    # estimate — the r12 should_broadcast_pinned pattern. The probe
    # side is spread above, so a broadcast build never serializes
    # the pair stage.
    b = DD.maybe_broadcast_pinned(vecs.alias("b"), pinned=vecs)
    sim = SIM.dot(F.col("a.vec"), F.col("b.vec")) / (F.col("a.nrm") * F.col("b.nrm"))
    pairs = (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(sim, 6).alias("cos_sim"),
        )
    )
    # Cache barrier (pinned): without it the threshold predicate is
    # pushed into the join condition with the dot-product fold inlined
    # (evaluated 2x per candidate on the slow condition path).
    return pin(pairs).filter(F.col("cos_sim") >= 0.2)


EMB_NEAR_DUP_SQL = """
WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings)
SELECT vec_a, vec_b, cos_sim FROM (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         round(
           list_reduce(list_transform(generate_series(1, len(a.e)), i -> a.e[i] * b.e[i]), (x, y) -> x + y)
           / (sqrt(list_reduce(list_transform(generate_series(1, len(a.e)), i -> a.e[i] * a.e[i]), (x, y) -> x + y))
              * sqrt(list_reduce(list_transform(generate_series(1, len(b.e)), i -> b.e[i] * b.e[i]), (x, y) -> x + y))), 6) AS cos_sim
  FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
) WHERE cos_sim >= 0.2
"""


# ---------------------------------------------------------------------------
# LLM-data-pipeline operators: dedup


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.exact_dedup(_t(spark, sf_dir, "documents"))


DEDUP_EXACT_SQL = """
SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_copies
FROM documents GROUP BY 1
"""


def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-hash exact dedup (the CCNet-style first pass):
    lowercase, strip non-alphanumerics to spaces, collapse runs,
    trim — THEN hash-group. Catches trivially-reformatted copies
    (case/punctuation/whitespace variants) that raw-byte md5 dedup
    misses, at the identical uniform-groupBy cost. RE2-compatible
    regex shared verbatim with the oracle."""
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "),
            " +",
            " ",
        )
    )
    return (
        DD.ensure_parallelism(_t(spark, sf_dir, "documents"))
        .groupBy(F.md5(norm).alias("norm_hash"))
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


DEDUP_EXACT_NORM_SQL = """
SELECT md5(trim(regexp_replace(regexp_replace(lower(text),
         '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS norm_hash,
       min(doc_id) AS keep_id, count(*) AS n_copies
FROM documents GROUP BY 1
"""

# Production banding default: k=128 hashes, r=8 rows/band, b=16
# bands — the recall-tuned point on the LSH S-curve, P(candidate |
# j=0.8) = 1-(1-0.8^8)^16 ~= 0.95 (measured 99%+ on the audit
# fixture, `lsh_recall_audit`). The previous (16, 8) default's
# b=2 curve promised only ~0.31 at the same threshold. The oracle
# CTEs are GENERATED from these constants, so Spark and DuckDB stay
# in lockstep at any width.
_MH_K = 128
_MH_BAND = 8


def _mh_sig_duck(k: int) -> str:
    """The k per-seed affine-mix signature columns, DuckDB form."""
    return ",\n".join(
        "    list_min(list_transform(hs, h -> ({a} * h + {b}) % {p})) AS h{i}".format(
            a=DD.minhash_mix_params(i)[0],
            b=DD.minhash_mix_params(i)[1],
            p=DD.MINHASH_P,
            i=i,
        )
        for i in range(k)
    )


def _mh_bands_duck(k: int, band: int) -> str:
    """The melted (doc_id, band_id, band_key) rows, DuckDB form —
    md5-of-'_'-joined band keys, identical to `md5_band_rows`."""
    return "\n  UNION ALL\n".join(
        "  SELECT doc_id, {b} AS band_id, md5({parts}) AS band_key FROM sigs".format(
            b=b,
            parts=" || '_' || ".join(
                f"h{band*b+j}::VARCHAR" for j in range(band)
            ),
        )
        for b in range(k // band)
    )


def _mh_cte(k: int, band: int) -> str:
    """tokenize -> hash -> sign -> band -> candidate CTE chain for
    an arbitrary (num_hashes, band_size) — the oracle mirror of
    minhash_signature + lsh_candidate_pairs."""
    return f"""
WITH toks AS (
  SELECT doc_id, list_sort(list_distinct(string_split(text, ' '))) AS ws FROM documents
), hm AS (
  SELECT doc_id, ws,
         list_transform(ws, w -> ('0x'||substr(md5(w),1,15))::BIGINT % {DD.MINHASH_P}) AS hs
  FROM toks
), sigs AS (
  SELECT doc_id,
{_mh_sig_duck(k)}
  FROM hm
), bands AS (
{_mh_bands_duck(k, band)}
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
)
"""


_MH_CTE = _mh_cte(_MH_K, _MH_BAND)


def _oph_sig_duck(k: int) -> str:
    """One-permutation signature columns, DuckDB form — bucket
    minima (fb/fm lists from the bk/mp CTEs) densified by rotation:
    empty bucket i borrows the nearest filled bucket to the right
    (circular), offset by distance * P. Mirrors
    operators/dedup.py::oph_signature exactly (integer arithmetic
    end-to-end, no floats)."""
    p = DD.MINHASH_P
    cols = []
    for i in range(k):
        delta = f"list_min(list_transform(fb, q -> (q - {i} + {k}) % {k}))"
        cols.append(
            f"    fm[list_position(fb, (({i} + {delta}) % {k})::INT)]\n"
            f"      + {delta}::BIGINT * {p} AS h{i}"
        )
    return ",\n".join(cols)


def _oph_cte(k: int, band: int) -> str:
    """The `_mh_cte` chain with the one-permutation signature CTE
    swapped in: tokenize/hash identical, bucket minima via one
    grouped pass (bk), per-doc filled lists (mp), densified sigs,
    then the SAME band/candidate CTEs."""
    return f"""
WITH toks AS (
  SELECT doc_id, list_sort(list_distinct(string_split(text, ' '))) AS ws FROM documents
), hm AS (
  SELECT doc_id, ws,
         list_transform(ws, w -> ('0x'||substr(md5(w),1,15))::BIGINT % {DD.MINHASH_P}) AS hs
  FROM toks
), ex AS (
  SELECT doc_id, unnest(hs) AS h FROM hm
), bk AS (
  SELECT doc_id, (h % {k})::INT AS b, min(h) AS m FROM ex GROUP BY 1, 2
), mp AS (
  SELECT doc_id, list(b ORDER BY b) AS fb, list(m ORDER BY b) AS fm
  FROM bk GROUP BY 1
), sigs AS (
  SELECT doc_id,
{_oph_sig_duck(k)}
  FROM mp
), bands AS (
{_mh_bands_duck(k, band)}
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
)
"""


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    # persist: the band union + self-join reference the signature
    # subtree 4x; without it every branch recomputes the signatures
    # (12 scans of documents in the physical plan).
    sigs = pin(DD.minhash_signature(docs, num_hashes=_MH_K))
    return DD.lsh_candidate_pairs(sigs, num_hashes=_MH_K, band_size=_MH_BAND)


def dedup_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidates verified with exact token-set Jaccard.

    One persisted md5 pass over the corpus (`token_hashes`) feeds
    BOTH the signature bands and the verify joins."""
    docs = _t(spark, sf_dir, "documents")
    base = pin(DD.token_hashes(docs))
    sigs = pin(DD.minhash_signature(base, num_hashes=_MH_K, hashes_col="toks"))
    pairs = DD.lsh_candidate_pairs(sigs, num_hashes=_MH_K, band_size=_MH_BAND)
    return DD.jaccard_verify(pairs, docs, threshold=0.8, toks=base)


MINHASH_SQL = _MH_CTE + "SELECT doc_a, doc_b FROM cand"


NEAR_DUP_SQL = _MH_CTE + """
SELECT doc_a, doc_b, jaccard FROM (
  SELECT doc_a, doc_b,
         round(len(list_intersect(ta.hs, tb.hs))::DOUBLE /
               (len(ta.hs) + len(tb.hs) - len(list_intersect(ta.hs, tb.hs))), 6) AS jaccard
  FROM cand
  JOIN hm ta ON ta.doc_id = doc_a
  JOIN hm tb ON tb.doc_id = doc_b
) WHERE jaccard >= 0.8
"""


def dedup_degenerate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate generation with degenerate (NULL-text) docs mixed
    in — the r11 hot-key guard's oracle witness. NULL text yields an
    all-NULL signature; `md5_band_rows` drops those rows before the
    melt (concat_ws would otherwise key md5('') in every band and E
    degenerate docs would emit E^2/2 candidate pairs), converging
    with the oracle's NULL-propagating `||` band keys which never
    equi-join. One summary row: total candidates must equal the
    clean corpus's and zero pairs may touch a degenerate id."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # numPartitions=1: range() otherwise contributes defaultParallelism
    # near-empty partitions to the union, which then LOOKS parallel
    # enough for ensure_parallelism to skip its rebalance while the
    # real rows still sit in the scan's few partitions — a straggler
    # per fat partition through the signature pass (measured 9.8 s vs
    # 6.1 s for the same work at sf0.1).
    degen = spark.range(50, numPartitions=1).select(
        (F.col("id") + F.lit(10_000_000)).alias("doc_id"),
        F.lit(None).cast("string").alias("text"),
    )
    sigs = pin(
        DD.minhash_signature(docs.unionByName(degen), num_hashes=_MH_K)
    )
    pairs = DD.lsh_candidate_pairs(
        sigs, num_hashes=_MH_K, band_size=_MH_BAND
    )
    return pairs.agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.count(
            F.when(
                (F.col("doc_a") >= 10_000_000)
                | (F.col("doc_b") >= 10_000_000),
                1,
            )
        ).alias("n_degenerate_pairs"),
    )


DEGENERATE_SQL = _MH_CTE.replace(
    "FROM documents",
    "FROM (SELECT doc_id, text FROM documents UNION ALL "
    "SELECT 10000000 + i AS doc_id, CAST(NULL AS VARCHAR) AS text "
    "FROM range(50) t(i))",
    1,
) + """
SELECT count(*) AS n_candidates,
       count(*) FILTER (WHERE doc_a >= 10000000 OR doc_b >= 10000000)
         AS n_degenerate_pairs
FROM cand
"""


def oph_density_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OPH short-doc observable as a standing report: mean
    filled residue buckets per signature at the production k=128
    (`oph_bucket_density`'s aggregate — the value
    `neardup_index_write` pins in `_params.json` and gates the
    classic fallback on). Exposes whether a corpus is in the
    borrow-dominated regime BEFORE anyone builds an index over it.
    One map-side-combinable aggregate; no shuffle beyond the final
    single-row reduce."""
    toks = DD.token_hashes(_t(spark, sf_dir, "documents"))
    return toks.agg(
        F.round(
            F.avg(
                F.size(
                    F.array_distinct(
                        F.transform(
                            F.col("toks"),
                            lambda h: F.pmod(h, F.lit(128)).cast("int"),
                        )
                    )
                )
            ),
            6,
        ).alias("mean_filled_buckets"),
        F.count(F.lit(1)).alias("n_docs"),
    )


OPH_DENSITY_SQL = f"""
WITH toks AS (
  SELECT doc_id, list_sort(list_distinct(string_split(text, ' '))) AS ws
  FROM documents
), hm AS (
  SELECT doc_id,
         list_transform(ws, w -> ('0x'||substr(md5(w),1,15))::BIGINT % {DD.MINHASH_P}) AS hs
  FROM toks
)
SELECT round(avg(len(list_distinct(list_transform(hs, h -> (h % 128)::INT)))), 6)
         AS mean_filled_buckets,
       count(*) AS n_docs
FROM hm
"""


def source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: verified near-dup pairs
    (same LSH + Jaccard >= 0.8 pipeline as dedup_near_dup) labeled
    with each end's source and counted per unordered source pair —
    the provenance forensics a corpus audit runs before mixing
    sources ("how much of src A is already in src B?"). The diagonal
    (source_a == source_b) is intra-source duplication.

    Scale: everything up to the pair list is the near-dup pipeline;
    the source labeling is two broadcast joins of a (doc_id, source)
    projection, and the final aggregate is source-pair-sized."""
    docs = _t(spark, sf_dir, "documents")
    base = pin(DD.token_hashes(docs))
    sigs = pin(DD.minhash_signature(base, num_hashes=_MH_K, hashes_col="toks"))
    pairs = DD.lsh_candidate_pairs(sigs, num_hashes=_MH_K, band_size=_MH_BAND)
    verified = DD.jaccard_verify(pairs, docs, threshold=0.8, toks=base)
    sa = docs.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("src_a"))
    sb = docs.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("src_b"))
    return (
        verified.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .select(
            F.least("src_a", "src_b").alias("source_a"),
            F.greatest("src_a", "src_b").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


SOURCE_OVERLAP_SQL = _MH_CTE + """
, vp AS (
  SELECT doc_a, doc_b FROM (
    SELECT doc_a, doc_b,
           len(list_intersect(ta.hs, tb.hs))::DOUBLE /
           (len(ta.hs) + len(tb.hs) - len(list_intersect(ta.hs, tb.hs))) AS jac
    FROM cand
    JOIN hm ta ON ta.doc_id = doc_a
    JOIN hm tb ON tb.doc_id = doc_b
  ) WHERE jac >= 0.8
)
SELECT least(da.source, db.source) AS source_a,
       greatest(da.source, db.source) AS source_b,
       count(*)::BIGINT AS n_pairs
FROM vp
JOIN documents da ON da.doc_id = vp.doc_a
JOIN documents db ON db.doc_id = vp.doc_b
GROUP BY 1, 2
"""


def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER assignment — the step between pair detection
    and the actual dedup decision: LSH+Jaccard pairs (>= 0.8) form an
    undirected graph; every document maps to its connected component's
    minimum doc_id (the canonical representative a keep-one policy
    retains; isolated docs map to themselves). Spark side is iterative
    min-label propagation (operators/dedup.py::connected_components);
    the oracle computes the same fixpoint independently via a
    recursive reachability CTE."""
    docs = _t(spark, sf_dir, "documents")
    base = pin(DD.token_hashes(docs))
    sigs = pin(DD.minhash_signature(base, num_hashes=_MH_K, hashes_col="toks"))
    pairs = DD.lsh_candidate_pairs(sigs, num_hashes=_MH_K, band_size=_MH_BAND)
    verified = DD.jaccard_verify(pairs, docs, threshold=0.8, toks=base)
    comp = DD.connected_components(verified)
    return (
        docs.select("doc_id")
        .join(comp, docs.doc_id == comp.node, "left")
        .select(
            "doc_id",
            F.coalesce(F.col("label"), F.col("doc_id")).alias("component_id"),
        )
    )


DEDUP_COMPONENTS_SQL = _MH_CTE.replace("WITH toks", "WITH RECURSIVE toks", 1) + """
, vp AS (
  SELECT doc_a, doc_b FROM (
    SELECT doc_a, doc_b,
           len(list_intersect(ta.hs, tb.hs))::DOUBLE /
           (len(ta.hs) + len(tb.hs) - len(list_intersect(ta.hs, tb.hs))) AS jac
    FROM cand
    JOIN hm ta ON ta.doc_id = doc_a
    JOIN hm tb ON tb.doc_id = doc_b
  ) WHERE round(jac, 6) >= 0.8
), e AS (
  SELECT doc_a AS s, doc_b AS d FROM vp
  UNION ALL
  SELECT doc_b, doc_a FROM vp
), reach(n, m) AS (
  SELECT s, s FROM (SELECT DISTINCT s FROM e)
  UNION
  SELECT r.n, e.d FROM reach r JOIN e ON e.s = r.m
)
SELECT docs.doc_id,
       coalesce(mr.comp, docs.doc_id) AS component_id
FROM documents docs
LEFT JOIN (SELECT n, min(m) AS comp FROM reach GROUP BY n) mr ON mr.n = docs.doc_id
"""


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.simhash(_t(spark, sf_dir, "documents"))


SIMHASH_SQL = """
WITH w AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS word FROM documents
), h AS (
  SELECT doc_id, ('0x'||substr(md5('sim:'||word),1,15))::BIGINT AS hv FROM w
), bits AS (
  SELECT doc_id, b, CASE WHEN ((hv >> b) & 1) = 1 THEN 1 ELSE -1 END AS sgn
  FROM h, (SELECT unnest(generate_series(0, 62)) AS b)
), agg AS (
  SELECT doc_id, b, sum(sgn) AS s FROM bits GROUP BY 1, 2
)
SELECT doc_id,
       sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0::BIGINT END)::BIGINT AS simhash
FROM agg GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# LLM-data-pipeline operators: similarity search

_KNN_QUERY_IDS = list(range(10))

_KNN_DOT = (
    "list_reduce(list_transform(generate_series(1, len({a})), i -> {a}[i] * {b}[i]),"
    " (x, y) -> x + y)"
)

_KNN_CTE = f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), q AS (
  SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 10
), pairs AS (
  SELECT query_id, v.vec_id AS neighbor_id,
         {_KNN_DOT.format(a="qe", b="e")} AS dp,
         {_KNN_DOT.format(a="qe", b="qe")} AS nq,
         {_KNN_DOT.format(a="e", b="e")} AS nv
  FROM q, v WHERE v.vec_id != q.query_id
)
"""


def knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return SIM.knn_bruteforce(emb, _KNN_QUERY_IDS, k=5)


KNN_SQL = _KNN_CTE + """
SELECT query_id, neighbor_id, rank, cos_sim FROM (
  SELECT query_id, neighbor_id,
         round(dp / (sqrt(nq) * sqrt(nv)), 6) AS cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY dp / (sqrt(nq) * sqrt(nv)) DESC, neighbor_id) AS rank
  FROM pairs
) WHERE rank <= 5
"""


def knn_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search (the vector-DB staple): top-k cosine
    neighbors restricted to a metadata predicate (label IN (1,2,3))
    — pre-filter semantics, so every emitted neighbor satisfies the
    predicate and k is exact within the filtered set. In Spark the
    filter PUSHES INTO the corpus scan (Catalyst predicate pushdown
    — the scan reads only matching row groups), which is precisely
    what most ANN libraries bolt on afterwards as post-filtering
    with recall loss; relational pre-filtering gets it for free.
    Queries themselves are unfiltered vectors."""
    emb = _t(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("label").isin(1, 2, 3))
    from pyspark.sql import Window as W

    from reader_spark.operators.similarity import dot

    vecs = DD.ensure_parallelism(
        corpus.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("vec")
        )
    ).withColumn("nv", dot(F.col("vec"), F.col("vec")))
    qv = (
        emb.filter(F.col("vec_id") < 5)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").cast("array<double>").alias("qvec"),
        )
        .withColumn("nq", dot(F.col("qvec"), F.col("qvec")))
    )
    pairs = vecs.join(
        F.broadcast(qv), F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        (
            dot(F.col("qvec"), F.col("vec"))
            / (F.sqrt(F.col("nq")) * F.sqrt(F.col("nv")))
        ).alias("cs_raw"),
    )
    # rank on the UNROUNDED similarity (matching the oracle), round
    # only at the edge
    w = W.partitionBy("query_id").orderBy(
        F.col("cs_raw").desc(), F.col("neighbor_id")
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select(
            "query_id",
            "neighbor_id",
            "rank",
            F.round(F.col("cs_raw"), 6).alias("cos_sim"),
        )
    )


KNN_FILTERED_SQL = f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e
  FROM embeddings WHERE label IN (1, 2, 3)
), q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
  FROM embeddings WHERE vec_id < 5
), pairs AS (
  SELECT query_id, v.vec_id AS neighbor_id,
         {_KNN_DOT.format(a="qe", b="e")} AS dp,
         {_KNN_DOT.format(a="qe", b="qe")} AS nq,
         {_KNN_DOT.format(a="e", b="e")} AS nv
  FROM q, v WHERE v.vec_id != q.query_id
)
SELECT query_id, neighbor_id, rank, cos_sim FROM (
  SELECT query_id, neighbor_id,
         round(dp / (sqrt(nq) * sqrt(nv)), 6) AS cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY dp / (sqrt(nq) * sqrt(nv)) DESC,
                                     neighbor_id) AS rank
  FROM pairs
) WHERE rank <= 5
"""


def knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return SIM.knn_ivf(emb, _KNN_QUERY_IDS, k=5)


# IVF candidate chain (through `pairs`): shared by KNN_IVF_SQL and
# ANN_RECALL_SQL — the recall report replays the exact same
# label-seeded quantizer, assignment, and 2-probe candidate set.
_IVF_PAIRS_CTE = """
WITH v0 AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings
), v AS (
  SELECT vec_id, label, e,
         list_reduce(list_transform(e, x -> x * x), (x, y) -> x + y) AS nv
  FROM v0
), cent0 AS (
  SELECT label AS cl, list(e ORDER BY vec_id) AS vs FROM v GROUP BY label
), cent AS (
  -- one label-seeded Lloyd iteration: sequential element-wise fold in
  -- vec_id order (bit-identical to the Spark side's sorted fold)
  SELECT cl,
         list_transform(
           list_reduce(vs, (a, b) -> list_transform(generate_series(1, len(a)), i -> a[i] + b[i])),
           x -> x / len(vs)) AS c
  FROM cent0
), centn AS (
  SELECT cl, c, list_reduce(list_transform(c, x -> x * x), (x, y) -> x + y) AS nc FROM cent
), assign AS (
  -- corpus indexed under its single nearest centroid (squared L2)
  SELECT vec_id, e, nv, cl FROM (
    SELECT v.vec_id, v.e, v.nv, c.cl,
           row_number() OVER (PARTITION BY v.vec_id ORDER BY
             (v.nv - 2 * list_reduce(list_transform(generate_series(1, len(v.e)), i -> v.e[i] * c.c[i]), (x, y) -> x + y) + c.nc) ASC,
             c.cl ASC) AS r
    FROM v, centn c
  ) WHERE r = 1
), probe AS (
  -- each query probes its 2 nearest centroids (multi-probe)
  SELECT vec_id AS query_id, e AS qe, nv AS nq, cl AS qcl FROM (
    SELECT v.vec_id, v.e, v.nv, c.cl,
           row_number() OVER (PARTITION BY v.vec_id ORDER BY
             (v.nv - 2 * list_reduce(list_transform(generate_series(1, len(v.e)), i -> v.e[i] * c.c[i]), (x, y) -> x + y) + c.nc) ASC,
             c.cl ASC) AS r
    FROM v, centn c WHERE v.vec_id < 10
  ) WHERE r <= 2
), pairs AS (
  SELECT query_id, a.vec_id AS neighbor_id,
         list_reduce(list_transform(generate_series(1, len(a.e)), i -> qe[i] * a.e[i]), (x, y) -> x + y) AS dp,
         nq, a.nv AS nv
  FROM probe p JOIN assign a ON a.cl = p.qcl AND a.vec_id != p.query_id
)
"""

KNN_IVF_SQL = _IVF_PAIRS_CTE + """
SELECT query_id, neighbor_id, rank, cos_sim FROM (
  SELECT query_id, neighbor_id,
         round(dp / (sqrt(nq) * sqrt(nv)), 6) AS cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY dp / (sqrt(nq) * sqrt(nv)) DESC, neighbor_id) AS rank
  FROM pairs
) WHERE rank <= 5
"""


def ann_recall_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k audit of the IVF approximate path against the exact
    brute-force ranking (operators/similarity.py::ann_recall_report)
    — THE acceptance metric for an ANN index before it serves
    retrieval. Integer outputs only (hit counts + ppm recall), per
    the float-parity rule."""
    emb = _t(spark, sf_dir, "embeddings")
    return SIM.ann_recall_report(emb, _KNN_QUERY_IDS, k=5, nprobe=2)


ANN_RECALL_SQL = _IVF_PAIRS_CTE + """
, approx_topk AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY dp / (sqrt(nq) * sqrt(nv)) DESC, neighbor_id) AS r
    FROM pairs
  ) WHERE r <= 5
), eq AS (
  SELECT vec_id AS query_id, e AS qe, nv AS nq FROM v WHERE vec_id < 10
), bpairs AS (
  SELECT query_id, v.vec_id AS neighbor_id,
         list_reduce(list_transform(generate_series(1, len(v.e)), i -> qe[i] * v.e[i]), (x, y) -> x + y) AS dp,
         nq, v.nv AS nv
  FROM eq, v WHERE v.vec_id != eq.query_id
), exact_topk AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY dp / (sqrt(nq) * sqrt(nv)) DESC, neighbor_id) AS r
    FROM bpairs
  ) WHERE r <= 5
)
SELECT e.query_id,
       count(*)::BIGINT AS n_exact,
       sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_hits,
       ((sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) * 1000000)
        // count(*))::BIGINT AS recall_ppm
FROM exact_topk e
LEFT JOIN approx_topk a
  ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
GROUP BY e.query_id
"""


# ---------------------------------------------------------------------------
# LLM-data-pipeline operators: text analysis


def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", TX.lang_id(F.col("text")).alias("pred_lang"))


def _occ_duck(padded_expr: str, needle: str) -> str:
    n = needle.replace("'", "''")
    return (
        f"((length({padded_expr}) - length(replace({padded_expr}, '{n}', ''))) // {len(needle)})"
    )


def _marker_duck(lang: str) -> str:
    terms = " + ".join(_occ_duck("p", f" {w} ") for w in TX.LANG_MARKERS[lang])
    return f"({terms})"


LANG_SQL = f"""
WITH p0 AS (SELECT doc_id, ' ' || text || ' ' AS p FROM documents),
s AS (
  SELECT doc_id,
         {_marker_duck('en')} AS s_en,
         {_marker_duck('de')} AS s_de,
         {_marker_duck('es')} AS s_es,
         {_marker_duck('fr')} AS s_fr
  FROM p0
)
SELECT doc_id,
  CASE WHEN s_en = b AND b > 0 THEN 'en'
       WHEN s_de = b AND b > 0 THEN 'de'
       WHEN s_es = b AND b > 0 THEN 'es'
       WHEN s_fr = b AND b > 0 THEN 'fr'
       ELSE 'unknown' END AS pred_lang
FROM (SELECT *, greatest(s_en, s_de, s_es, s_fr) AS b FROM s)
"""


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", TX.quality_score(F.col("text")).alias("quality"))


_STOP_SUM = " + ".join(_occ_duck("p", f" {w} ") for w in TX.STOPWORDS)

QUALITY_SQL = f"""
WITH p0 AS (
  SELECT doc_id, text, ' ' || lower(text) || ' ' AS p FROM documents
), b AS (
  SELECT doc_id,
         length(regexp_split_to_array(trim(text), '\\s+')) AS toks,
         {_STOP_SUM} AS stops,
         length(text) - length(regexp_replace(text, '[\\.\\,\\;\\:\\!\\?]', '', 'g')) AS puncts,
         length(text) AS chars
  FROM p0
)
SELECT doc_id,
       round(0.4 * least(1.0, toks::DOUBLE / 100.0)
           + 0.4 * least(1.0, 8.0 * stops::DOUBLE / toks::DOUBLE)
           + 0.2 * (1.0 - least(1.0, 4.0 * puncts::DOUBLE / chars::DOUBLE)), 6) AS quality
FROM b
"""


def text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TX.token_count_ws(F.col("text")).alias("ws_tokens"),
        TX.token_count_bpe_ish(F.col("n_chars")).alias("bpe_tokens"),
        TX.token_count_regex(F.col("text")).alias("re_tokens"),
    )


TOKENS_SQL = f"""
SELECT doc_id,
       length(regexp_split_to_array(trim(text), '\\s+'))::BIGINT AS ws_tokens,
       ((n_chars + 3) // 4)::BIGINT AS bpe_tokens,
       len(regexp_extract_all(text, '{TX.BPE_SPLIT_PATTERN.replace("'", "''")}'))::BIGINT AS re_tokens
FROM documents
"""


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", TX.fingerprint(F.col("text")).alias("fingerprint"))


FINGERPRINT_SQL = """
SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint
FROM documents
"""


# ---------------------------------------------------------------------------
# Temporal / range joins (SURVEY §2.7 as-of semantics, generalized)


def asof_join_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event, the user's most recent order at-or-before the event
    time (backward as-of). Right side pre-reduced to one row per
    (custkey, orderdate) so tie-breaks are deterministic."""
    ev = _t(spark, sf_dir, "events")
    orders = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(
            F.max("o_orderkey").alias("o_orderkey"),
            F.max_by("o_totalprice", "o_orderkey").alias("o_totalprice"),
        )
    )
    j = JO.asof_join(
        ev.select("event_id", "user_id", "ts"),
        orders,
        left_key="user_id", right_key="o_custkey",
        left_ts="ts", right_ts="o_orderdate",
        right_cols=["o_orderkey", "o_totalprice"],
    )
    return j.select(
        "event_id", "user_id", _fmt_ts(F.col("ts"), "ts_s"),
        "o_orderkey", "o_totalprice",
    )


ASOF_SQL = """
WITH r AS (
  SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey,
         max_by(o_totalprice, o_orderkey) AS o_totalprice
  FROM orders GROUP BY 1, 2
)
SELECT e.event_id, e.user_id, strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
       r.o_orderkey, r.o_totalprice
FROM events e ASOF LEFT JOIN r
  ON e.user_id = r.o_custkey AND e.ts >= r.o_orderdate
"""


def range_join_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval join of events.value against OVERLAPPING
    value bands (width 50, stride 25), executed as a binned equi
    join — no cross product. Decimal sum for engine-exact totals."""
    ev = _t(spark, sf_dir, "events")
    bands = spark.range(0, 20).select(
        (F.col("id") * 25.0).alias("lo"), (F.col("id") * 25.0 + 50.0).alias("hi")
    )
    j = JO.range_bin_join(ev, bands, "value", "lo", "hi", bin_width=25.0)
    return j.groupBy("lo", "hi").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("decimal(38,6)").cast("string").alias("sum_value"),
    )


RANGE_SQL = """
WITH bands AS (
  SELECT (i*25.0)::DOUBLE AS lo, (i*25.0+50.0)::DOUBLE AS hi FROM range(0, 20) t(i)
)
SELECT lo, hi, count(*) AS n_events,
       sum(value::DECIMAL(18,6))::DECIMAL(38,6)::VARCHAR AS sum_value
FROM events e JOIN bands b ON e.value >= b.lo AND e.value < b.hi
GROUP BY 1, 2
"""


def p2_value_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 driver-value parsing residue (SURVEY §2.3): Postgres point
    and hstore text, MySQL enum index and set bitmask — decoded with
    the converter library; the oracle re-implements the parsing
    independently in DuckDB SQL."""
    from reader_spark.functions import converters as C

    raw = spark.sql(
        """
        SELECT * FROM VALUES
          (1, '(1.5,-2.5)',  '"a"=>"1", "b"=>"2"', 2, 5),
          (2, '(-0.25,3e2)', '"k"=>"v"',           1, 0),
          (3, '(0,0)',       '',                   3, 7)
        AS t(row_id, pt, hst, en, st)
        """
    )
    m = C.hstore_map("hst")
    return raw.select(
        "row_id",
        C.point_struct(F.col("pt")).getField("x").alias("x"),
        C.point_struct(F.col("pt")).getField("y").alias("y"),
        F.element_at(m, "a").alias("ha"),
        F.element_at(m, "k").alias("hk"),
        C.mysql_enum_decode(F.col("en"), ["red", "green", "blue"]).alias("en_s"),
        C.mysql_set_decode(F.col("st"), ["a", "b", "c"]).alias("st_s"),
    )


P2_SQL = """
WITH r AS (
  SELECT * FROM (VALUES
    (1, '(1.5,-2.5)',  '"a"=>"1", "b"=>"2"', 2, 5),
    (2, '(-0.25,3e2)', '"k"=>"v"',           1, 0),
    (3, '(0,0)',       '',                   3, 7)
  ) t(row_id, pt, hst, en, st)
)
SELECT row_id,
       regexp_extract(pt, '\\(([-0-9.eE+]+),', 1)::DOUBLE AS x,
       regexp_extract(pt, ',([-0-9.eE+]+)\\)', 1)::DOUBLE AS y,
       CASE WHEN contains(hst, '"a"=>') THEN regexp_extract(hst, '"a"=>"([^"]*)"', 1) END AS ha,
       CASE WHEN contains(hst, '"k"=>') THEN regexp_extract(hst, '"k"=>"([^"]*)"', 1) END AS hk,
       ['red','green','blue'][en] AS en_s,
       coalesce(array_to_string(
         list_filter(
           list_transform(generate_series(0, 2),
                          i -> CASE WHEN ((st >> i) & 1) = 1 THEN ['a','b','c'][i+1] END),
           x -> x IS NOT NULL), ','), '') AS st_s
FROM r
"""


def events_rollup_multigrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate rollup: hourly AND daily
    grains in ONE pass via GROUPING SETS — the map-side partial
    aggregation is shared, so the scan happens once (vs one job per
    grain). Decimal sums for engine parity."""
    ev = _t(spark, sf_dir, "events")
    hour = F.date_trunc("hour", F.col("ts"))
    day = F.date_trunc("day", F.col("ts"))
    g = ev.select(
        F.col("event_type"),
        _fmt_ts(hour, "bucket_hour"),
        _fmt_ts(day, "bucket_day"),
        F.col("value").cast("decimal(18,6)").alias("v"),
    )
    return (
        g.groupingSets(
            [["event_type", "bucket_hour"], ["event_type", "bucket_day"]],
            "event_type", "bucket_hour", "bucket_day",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").cast("decimal(38,6)").cast("string").alias("sum_value"),
        )
    )


ROLLUP_MULTI_SQL = """
SELECT event_type,
       strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket_hour,
       strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S') AS bucket_day,
       count(*) AS n,
       sum(value::DECIMAL(18,6))::DECIMAL(38,6)::VARCHAR AS sum_value
FROM events
GROUP BY GROUPING SETS ((event_type, bucket_hour), (event_type, bucket_day))
"""


def running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative spend per customer over order history (unbounded
    preceding running sum). Decimal accumulator for engine-exact
    totals; one shuffle on the partition key."""
    from pyspark.sql import Window as W

    orders = _t(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        _fmt_ts(F.col("o_orderdate"), "date_s"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .over(w)
        .cast("double")
        .alias("cum_spend"),
    )


RUNNING_SQL = """
SELECT o_custkey, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS date_s,
       (sum(o_totalprice::DECIMAL(18,2)) OVER (
          PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::DOUBLE AS cum_spend
FROM orders
"""


def lead_lag_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event sequencing: previous event type and gap seconds
    (lead/lag windows — one shuffle on user_id)."""
    from pyspark.sql import Window as W

    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    return ev.select(
        "event_id",
        "user_id",
        _fmt_ts(F.col("ts"), "ts_s"),
        F.lag("event_type").over(w).alias("prev_type"),
        (F.unix_micros(F.col("ts")) - F.unix_micros(prev_ts)).alias("gap_us"),
    )


LEADLAG_SQL = """
SELECT event_id, user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
       lag(event_type) OVER w AS prev_type,
       (epoch_us(ts) - epoch_us(lag(ts) OVER w))::BIGINT AS gap_us
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


def c5_schema_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5/§2.7: pick the schema version active at each event's
    timestamp (the reference's MostRecentMap lookup,
    lib/maputil/most_recent_map.go:14-76; events older than the first
    version resolve to NULL and would be dropped, dml.go:44-52).
    History is a deterministic literal DDL log spanning the events
    window."""
    from reader_spark.streaming import schema_history as SH

    ev = _t(spark, sf_dir, "events").select("event_id", "ts")
    history = spark.sql(
        """
        SELECT to_timestamp(v) AS unix_ts, s AS statement FROM VALUES
          ('2024-01-05 00:00:00', 'ALTER TABLE t ADD COLUMN c1 INT'),
          ('2024-01-12 12:00:00', 'ALTER TABLE t ADD COLUMN c2 TEXT'),
          ('2024-01-20 06:30:00', 'ALTER TABLE t DROP COLUMN c1')
        AS tab(v, s)
        """
    )
    out = SH.asof_schema_version(
        ev, history, "event_id", event_ts="ts", version_ts="unix_ts"
    )
    return out.select(
        "event_id",
        _fmt_ts(F.col("ts"), "ts_s"),
        _fmt_ts(F.col("schema_version_ts"), "version_s"),
        "schema_statement",
    )


C5_ASOF_SQL = """
WITH h AS (
  SELECT * FROM (VALUES
    (TIMESTAMP '2024-01-05 00:00:00', 'ALTER TABLE t ADD COLUMN c1 INT'),
    (TIMESTAMP '2024-01-12 12:00:00', 'ALTER TABLE t ADD COLUMN c2 TEXT'),
    (TIMESTAMP '2024-01-20 06:30:00', 'ALTER TABLE t DROP COLUMN c1')
  ) t(vts, statement)
)
SELECT e.event_id, strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
       strftime(h.vts, '%Y-%m-%d %H:%M:%S') AS version_s,
       h.statement AS schema_statement
FROM events e ASOF LEFT JOIN h ON e.ts >= h.vts
"""


# ---------------------------------------------------------------------------
# additional dedup variants: simhash pairs, n-gram shingles


def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (hamming <= 3) via pigeonhole banding;
    the oracle cross-checks with the naive O(n^2) form."""
    sh = pin(DD.simhash(_t(spark, sf_dir, "documents")))
    return DD.simhash_candidate_pairs(sh, n_bands=4, max_hamming=3)


SIMHASH_PAIRS_SQL = """
WITH w AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS word FROM documents
), h AS (
  SELECT doc_id, ('0x'||substr(md5('sim:'||word),1,15))::BIGINT AS hv FROM w
), bits AS (
  SELECT doc_id, b, CASE WHEN ((hv >> b) & 1) = 1 THEN 1 ELSE -1 END AS sgn
  FROM h, (SELECT unnest(generate_series(0, 62)) AS b)
), agg AS (
  SELECT doc_id, b, sum(sgn) AS s FROM bits GROUP BY 1, 2
), sh AS (
  SELECT doc_id,
         sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0::BIGINT END)::BIGINT AS simhash
  FROM agg GROUP BY doc_id
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash, b.simhash))::INT AS hamming
FROM sh a JOIN sh b
  ON a.doc_id < b.doc_id AND bit_count(xor(a.simhash, b.simhash)) <= 3
"""


_NG_K = 8
_NG_BAND = 4

_NG_SIG_DUCK = ",\n".join(
    "    list_min(list_transform(hs, h -> ({a} * h + {b}) % {p})) AS h{i}".format(
        a=DD.minhash_mix_params(i)[0],
        b=DD.minhash_mix_params(i)[1],
        p=DD.MINHASH_P,
        i=i,
    )
    for i in range(_NG_K)
)

_NG_BANDS_DUCK = "\n  UNION ALL\n".join(
    "  SELECT doc_id, {b} AS band_id, md5({parts}) AS band_key FROM sigs".format(
        b=b,
        parts=" || '_' || ".join(
            f"h{_NG_BAND*b+j}::VARCHAR" for j in range(_NG_BAND)
        ),
    )
    for b in range(_NG_K // _NG_BAND)
)

NGRAM_SQL = f"""
WITH rt AS (
  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
), toks AS (
  SELECT doc_id,
         CASE WHEN len(ts) >= 2 THEN list_sort(list_distinct(
            list_transform(generate_series(1, len(ts)-1), i -> ts[i] || ' ' || ts[i+1])))
         ELSE []::VARCHAR[] END AS ws
  FROM rt
), hm AS (
  SELECT doc_id, ws,
         list_transform(ws, w -> ('0x'||substr(md5(w),1,15))::BIGINT % {DD.MINHASH_P}) AS hs
  FROM toks
), sigs AS (
  SELECT doc_id,
{_NG_SIG_DUCK}
  FROM hm
), bands AS (
{_NG_BANDS_DUCK}
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, jaccard FROM (
  SELECT doc_a, doc_b,
         round(len(list_intersect(ta.hs, tb.hs))::DOUBLE /
               (len(ta.hs) + len(tb.hs) - len(list_intersect(ta.hs, tb.hs))), 6) AS jaccard
  FROM cand
  JOIN hm ta ON ta.doc_id = doc_a
  JOIN hm tb ON tb.doc_id = doc_b
) WHERE jaccard >= 0.6
"""


def dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-bigram shingle MinHash-LSH + exact shingle-set Jaccard —
    order-sensitive near-dup, same pipeline as `dedup_near_dup` with
    the shingle tokenizer swapped in."""
    docs = _t(spark, sf_dir, "documents")
    base = pin(DD.token_hashes(docs, tokenizer=lambda c: DD.shingle_set(c, 2)))
    sigs = pin(DD.minhash_signature(base, num_hashes=_NG_K, hashes_col="toks"))
    pairs = DD.lsh_candidate_pairs(sigs, num_hashes=_NG_K, band_size=_NG_BAND)
    return DD.jaccard_verify(pairs, docs, threshold=0.6, toks=base)


# ---------------------------------------------------------------------------
# multimodal plumbing (rows-only check: binary payloads are not
# SQL-expressible; the decode layer is a deterministic fake)


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Treats each document's utf-8 bytes as an opaque media payload
    and runs the mapInPandas feature-extraction plumbing end-to-end
    (schema, Arrow batching, partition-preserving decode). The edge
    scalarizes `feat array<double>` into feat_0..feat_7 doubles —
    no array/map/struct may reach a catalog edge (the driver's pandas
    canonicalizer cannot sort/hash list cells; test_plans enforces
    this catalog-wide)."""
    from reader_spark.operators import multimodal as MM

    docs = _t(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.lit("application/octet-stream").alias("mime"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.struct(
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
            F.lit(None).cast("int").alias("sample_rate"),
        ).alias("meta"),
    )
    feats = MM.extract_features(media, dim=8)
    return feats.select(
        "media_id",
        "kind",
        "n_bytes",
        "sha256",
        *[F.col("feat")[i].alias(f"feat_{i}") for i in range(8)],
    )


MULTIMODAL_SQL = """
SELECT doc_id AS media_id, 'image' AS kind,
       strlen(text)::BIGINT AS n_bytes,
       sha256(text) AS sha256,
       ('0x' || substr(sha256(text), 1, 8))::BIGINT::DOUBLE / 4294967296.0 AS feat_0,
       ('0x' || substr(sha256(text), 9, 8))::BIGINT::DOUBLE / 4294967296.0 AS feat_1,
       ('0x' || substr(sha256(text), 17, 8))::BIGINT::DOUBLE / 4294967296.0 AS feat_2,
       ('0x' || substr(sha256(text), 25, 8))::BIGINT::DOUBLE / 4294967296.0 AS feat_3,
       ('0x' || substr(sha256(text), 33, 8))::BIGINT::DOUBLE / 4294967296.0 AS feat_4,
       ('0x' || substr(sha256(text), 41, 8))::BIGINT::DOUBLE / 4294967296.0 AS feat_5,
       ('0x' || substr(sha256(text), 49, 8))::BIGINT::DOUBLE / 4294967296.0 AS feat_6,
       ('0x' || substr(sha256(text), 57, 8))::BIGINT::DOUBLE / 4294967296.0 AS feat_7
FROM documents
"""


# ---------------------------------------------------------------------------
# TPC-H-shaped analytics, batch 2 (adapted to the fixture columns —
# no partsupp/l_shipmode/l_commitdate in the driver's tables)


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure filter + aggregate. The whole predicate
    pushes into the parquet scan (PushedFilters on shipdate/discount/
    quantity); no shuffle beyond the final 1-row partial-agg merge."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & (F.col("l_discount") >= 0.03)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    rev = F.col("l_extendedprice").cast(DEC_PRICE) * F.col("l_discount").cast(DEC_RATE)
    return li.agg(F.sum(rev).cast("decimal(38,6)").cast("string").alias("revenue"))


Q6_SQL = """
SELECT sum(l_extendedprice::DECIMAL(12,2) * l_discount::DECIMAL(9,4))::DECIMAL(38,6)::VARCHAR AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 0.03 AND l_discount <= 0.07 AND l_quantity < 24
"""


def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: the same dimension (nation) joined twice under
    different roles (supplier vs customer side), both broadcast; facts
    shuffle once per equi-join key."""
    nation = _t(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    rev = F.col("l_extendedprice").cast(DEC_PRICE) * (
        F.lit(1.0).cast(DEC_RATE) - F.col("l_discount").cast(DEC_RATE)
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), supp.s_nationkey == F.col("n1_key"))
        .join(F.broadcast(n2), cust.c_nationkey == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(F.sum(rev).cast("decimal(38,6)").cast("string").alias("revenue"))
    )


Q7_SQL = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       year(l_shipdate) AS l_year,
       sum(l_extendedprice::DECIMAL(12,2) * (1.0::DECIMAL(9,4) - l_discount::DECIMAL(9,4)))::DECIMAL(38,6)::VARCHAR AS revenue
FROM lineitem, orders, customer, supplier, nation n1, nation n2
WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey AND l_suppkey = s_suppkey
  AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
  AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
GROUP BY 1, 2, 3
"""


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue per customer, top 20.
    Quarter filter on orders pushes down; nation broadcast."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
    )
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice").cast(DEC_PRICE) * (
        F.lit(1.0).cast(DEC_RATE) - F.col("l_discount").cast(DEC_RATE)
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(rev).cast("decimal(38,6)").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
        # edge canonicalization AFTER the numeric order-by (string sort
        # would reorder the top-20); lazy select, no extra analysis
        .select(
            "c_custkey", "c_name", "c_acctbal", "n_name",
            F.col("revenue").cast("string").alias("revenue"),
        )
    )


Q10_SQL = """
SELECT c_custkey, c_name, c_acctbal, n_name, revenue::VARCHAR AS revenue
FROM (
  SELECT c_custkey, c_name, c_acctbal, n_name,
         sum(l_extendedprice::DECIMAL(12,2) * (1.0::DECIMAL(9,4) - l_discount::DECIMAL(9,4)))::DECIMAL(38,6) AS revenue
  FROM lineitem, orders, customer, nation
  WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey AND c_nationkey = n_nationkey
    AND l_returnflag = 'R'
    AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
  GROUP BY 1, 2, 3, 4
  ORDER BY revenue DESC, c_custkey
  LIMIT 20
) t
"""


def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: order-count-per-customer distribution. The
    left outer join keeps zero-order customers; two cascaded
    aggregations (custkey, then count-of-counts)."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


Q13_SQL = """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


def q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional aggregate ratio. Both sums stay
    exact DECIMAL; the ratio is one double division of two identical
    doubles on both engines, rounded at the end."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-09-01") & (F.col("l_shipdate") < "1996-10-01")
    )
    part = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice").cast(DEC_PRICE) * (
        F.lit(1.0).cast(DEC_RATE) - F.col("l_discount").cast(DEC_RATE)
    )
    agg = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0).cast(DEC_PRICE)))
            .cast("decimal(38,6)")
            .alias("promo_rev"),
            F.sum(rev).cast("decimal(38,6)").alias("total_rev"),
        )
    )
    return agg.select(
        F.col("promo_rev").cast("string").alias("promo_rev"),
        F.col("total_rev").cast("string").alias("total_rev"),
        F.round(
            F.lit(100.0) * F.col("promo_rev").cast("double") / F.col("total_rev").cast("double"),
            6,
        ).alias("promo_pct"),
    )


Q14_SQL = """
WITH a AS (
  SELECT
    sum(CASE WHEN p_type = 'PROMO'
        THEN l_extendedprice::DECIMAL(12,2) * (1.0::DECIMAL(9,4) - l_discount::DECIMAL(9,4))
        ELSE 0::DECIMAL(12,2) END)::DECIMAL(38,6) AS promo_rev,
    sum(l_extendedprice::DECIMAL(12,2) * (1.0::DECIMAL(9,4) - l_discount::DECIMAL(9,4)))::DECIMAL(38,6) AS total_rev
  FROM lineitem, part
  WHERE l_partkey = p_partkey
    AND l_shipdate >= TIMESTAMP '1996-09-01' AND l_shipdate < TIMESTAMP '1996-10-01'
)
SELECT promo_rev::VARCHAR AS promo_rev, total_rev::VARCHAR AS total_rev,
       round(100.0 * promo_rev::DOUBLE / total_rev::DOUBLE, 6) AS promo_pct
FROM a
"""


def q18_large_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING-filtered aggregate as a join input.
    The lineitem pre-aggregation shrinks the fact side BEFORE the
    joins (partial agg on l_orderkey is map-side combinable); quantity
    summed in exact DECIMAL so the >300 cut is engine-independent."""
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast(DEC_PRICE)).cast("decimal(38,2)").alias("sum_qty"))
        .filter(F.col("sum_qty") > 300)
    )
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            _fmt_ts(F.col("o_orderdate"), "o_orderdate"),
            "o_totalprice",
            F.col("sum_qty").cast("string").alias("sum_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )


Q18_SQL = """
SELECT c_custkey, c_name, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate,
       o_totalprice, sum_qty::VARCHAR AS sum_qty
FROM orders
JOIN (
  SELECT l_orderkey, sum(l_quantity::DECIMAL(12,2))::DECIMAL(38,2) AS sum_qty
  FROM lineitem GROUP BY l_orderkey HAVING sum_qty > 300
) big ON o_orderkey = big.l_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


def q22_global_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average balance + no recent orders (the
    fixture generator gives every customer SOME order, so "lapsed
    since 2001" replaces "never ordered" to keep the gate non-empty).
    The scalar average is compared by exact-decimal
    cross-multiplication (bal * cnt > total) so no engine-specific
    decimal-division scale rules enter; the no-recent-orders test is a
    left anti join with the date filter pushed below it."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= "2001-01-01")
        .select("o_custkey")
    )
    stats = cust.filter(F.col("c_acctbal") > 0).agg(
        F.sum(F.col("c_acctbal").cast(DEC_PRICE)).cast("decimal(38,2)").alias("tot"),
        F.count("*").alias("cnt"),
    )
    rich = (
        cust.crossJoin(F.broadcast(stats))
        .filter(F.col("c_acctbal").cast(DEC_PRICE) * F.col("cnt") > F.col("tot"))
    )
    no_orders = rich.join(orders, rich.c_custkey == orders.o_custkey, "left_anti")
    return (
        no_orders.join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count("*").alias("numcust"),
            F.sum(F.col("c_acctbal").cast(DEC_PRICE)).cast("decimal(38,2)").cast("string").alias("totacctbal"),
        )
    )


Q22_SQL = """
WITH s AS (
  SELECT sum(c_acctbal::DECIMAL(12,2))::DECIMAL(38,2) AS tot, count(*) AS cnt
  FROM customer WHERE c_acctbal > 0
)
SELECT n_name, count(*) AS numcust,
       sum(c_acctbal::DECIMAL(12,2))::DECIMAL(38,2)::VARCHAR AS totacctbal
FROM customer, nation, s
WHERE c_nationkey = n_nationkey
  AND c_acctbal::DECIMAL(12,2) * cnt > tot
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2001-01-01')
GROUP BY n_name
"""


# ---------------------------------------------------------------------------
# TPC-H-shaped analytics, batch 3. The fixtures lack partsupp /
# l_commitdate / l_receiptdate / l_shipmode, so: "late" lineitems are
# proxied by l_returnflag = 'R', the supply relation is proxied by
# DISTINCT (l_partkey, l_suppkey) pairs observed in lineitem, supply
# cost by l_quantity * p_retailprice * 0.1, and ship mode by
# l_linestatus. The plan SHAPES (exists/anti chains, scalar-subquery
# gates, decorrelated mins) are the point, not the TPC-H constants.


def q2_min_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: per-part argmin over a correlated candidate
    set, decorrelated into one window. Candidates = DISTINCT
    (part, supplier) pairs from lineitem (the partsupp proxy) for
    EUROPE suppliers; winner = lowest (s_acctbal, s_suppkey).
    The distinct pre-shuffle shrinks the rank input ~|lineitem|/|pairs|."""
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_size") <= 15) & (F.col("p_type") == "LARGE")
    )
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    pairs = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    euro_supp = (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    # argmin as min-of-struct, NOT distinct + window rank: min is
    # idempotent over duplicate (part, supplier) shipments, folds
    # map-side, and needs ONE shuffle on p_partkey — the distinct
    # would add a full (partkey, suppkey) shuffle and the window a
    # second one. Struct field order IS the tiebreak order.
    win = F.min(F.struct("s_acctbal", "s_suppkey", "s_name", "n_name")).alias("w")
    return (
        pairs.join(F.broadcast(part), pairs.l_partkey == part.p_partkey)
        .join(euro_supp, pairs.l_suppkey == F.col("s_suppkey"))
        .groupBy("p_partkey", "p_name")
        .agg(win)
        .select(
            "p_partkey",
            "p_name",
            F.col("w.s_name").alias("s_name"),
            F.col("w.s_acctbal").alias("s_acctbal"),
            F.col("w.n_name").alias("n_name"),
        )
        .orderBy(F.col("s_acctbal").desc(), F.col("p_partkey"))
        .limit(100)
    )


Q2_SQL = """
WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
es AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
)
SELECT p_partkey, p_name, s_name, s_acctbal, n_name
FROM pairs
JOIN part ON l_partkey = p_partkey
JOIN es ON l_suppkey = s_suppkey
WHERE p_size <= 15 AND p_type = 'LARGE'
QUALIFY row_number() OVER (PARTITION BY p_partkey ORDER BY s_acctbal, s_suppkey) = 1
ORDER BY s_acctbal DESC, p_partkey
LIMIT 100
"""


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS as a left-semi join (never a distinct +
    inner join — semi short-circuits on first match and keeps the
    probe side dedup-free)."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
    )
    flagged = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey")
    )
    return (
        orders.join(flagged, orders.o_orderkey == flagged.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


Q4_SQL = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY 1 ORDER BY 1
"""


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of a region's market by
    year — conditional sum over the full join chain; both sums exact
    DECIMAL, one double division at the very end."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD")
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n1 = nation.select("n_nationkey", "n_regionkey")
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    rev = F.col("l_extendedprice").cast(DEC_PRICE) * (
        F.lit(1.0).cast(DEC_RATE) - F.col("l_discount").cast(DEC_RATE)
    )
    agg = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), cust.c_nationkey == n1.n_nationkey)
        .join(F.broadcast(region), n1.n_regionkey == region.r_regionkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n2), supp.s_nationkey == F.col("n2_key"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.sum(
                F.when(F.col("supp_nation") == "NATION_3", rev).otherwise(
                    F.lit(0).cast(DEC_PRICE)
                )
            )
            .cast("decimal(38,6)")
            .alias("nation_rev"),
            F.sum(rev).cast("decimal(38,6)").alias("total_rev"),
        )
    )
    return agg.select(
        "o_year",
        F.col("nation_rev").cast("string").alias("nation_rev"),
        F.col("total_rev").cast("string").alias("total_rev"),
        F.round(
            F.col("nation_rev").cast("double") / F.col("total_rev").cast("double"), 6
        ).alias("mkt_share"),
    )


Q8_SQL = """
WITH a AS (
  SELECT year(o_orderdate) AS o_year,
    sum(CASE WHEN n2.n_name = 'NATION_3'
        THEN l_extendedprice::DECIMAL(12,2) * (1.0::DECIMAL(9,4) - l_discount::DECIMAL(9,4))
        ELSE 0::DECIMAL(12,2) END)::DECIMAL(38,6) AS nation_rev,
    sum(l_extendedprice::DECIMAL(12,2) * (1.0::DECIMAL(9,4) - l_discount::DECIMAL(9,4)))::DECIMAL(38,6) AS total_rev
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region ON n1.n_regionkey = r_regionkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE p_type = 'STANDARD' AND r_name = 'ASIA'
    AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
  GROUP BY 1
)
SELECT o_year, nation_rev::VARCHAR AS nation_rev, total_rev::VARCHAR AS total_rev,
       round(nation_rev::DOUBLE / total_rev::DOUBLE, 6) AS mkt_share
FROM a
"""


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit by supplier-nation and year. Supply
    cost proxied as l_quantity * p_retailprice * 0.1 (no partsupp in
    the fixtures); every operand exact DECIMAL so the subtraction is
    engine-identical."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice").cast(DEC_PRICE) * (
        F.lit(1.0).cast(DEC_RATE) - F.col("l_discount").cast(DEC_RATE)
    )
    cost = (
        F.col("l_quantity").cast(DEC_PRICE)
        * F.col("p_retailprice").cast(DEC_PRICE)
        * F.lit(0.1).cast("decimal(2,1)")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year")
        )
        .agg(F.sum(rev - cost).cast("decimal(38,6)").cast("string").alias("sum_profit"))
    )


Q9_SQL = """
SELECT n_name AS nation, year(o_orderdate) AS o_year,
       sum(l_extendedprice::DECIMAL(12,2) * (1.0::DECIMAL(9,4) - l_discount::DECIMAL(9,4))
           - l_quantity::DECIMAL(12,2) * p_retailprice::DECIMAL(12,2) * 0.1::DECIMAL(2,1)
          )::DECIMAL(38,6)::VARCHAR AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON l_orderkey = o_orderkey
WHERE p_name LIKE '%red%'
GROUP BY 1, 2
"""


def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-group value filtered against a scalar
    fraction of the GLOBAL total — the global aggregate broadcast
    back, threshold tested by exact-decimal cross-multiplication
    (value * 1000 > total), no decimal division."""
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_5")
    li = _t(spark, sf_dir, "lineitem")
    nat_li = (
        li.join(supp, li.l_suppkey == supp.s_suppkey, "inner")
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .select("l_partkey", F.col("l_extendedprice").cast(DEC_PRICE).alias("v"))
    )
    per_part = nat_li.groupBy("l_partkey").agg(
        F.sum("v").cast("decimal(38,2)").alias("part_value")
    )
    total = nat_li.agg(F.sum("v").cast("decimal(38,2)").alias("tot"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("part_value") * 1000 > F.col("tot"))
        .select("l_partkey", F.col("part_value").cast("string").alias("part_value"))
    )


Q11_SQL = """
WITH nl AS (
  SELECT l_partkey, l_extendedprice::DECIMAL(12,2) AS v
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_5'
), t AS (SELECT sum(v)::DECIMAL(38,2) AS tot FROM nl)
SELECT l_partkey, sum(v)::DECIMAL(38,2)::VARCHAR AS part_value
FROM nl, t
GROUP BY l_partkey, tot
HAVING sum(v)::DECIMAL(38,2) * 1000 > tot
"""


def q12_ship_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: per-mode high/low priority line counts
    (l_linestatus proxies ship mode). One join, one conditional
    pivot-style aggregate."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


Q12_SQL = """
SELECT l_linestatus,
       sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
       sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END)::BIGINT AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY 1 ORDER BY 1
"""


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the revenue view + scalar-max gate. The
    per-supplier aggregate is computed ONCE and reused for both the
    max and the equality probe (no double scan); the 1-row max
    broadcasts."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    rev = F.col("l_extendedprice").cast(DEC_PRICE) * (
        F.lit(1.0).cast(DEC_RATE) - F.col("l_discount").cast(DEC_RATE)
    )
    per_supp = li.groupBy("l_suppkey").agg(
        F.sum(rev).cast("decimal(38,6)").alias("total_revenue")
    )
    mx = per_supp.agg(F.max("total_revenue").alias("mx"))
    supp = _t(spark, sf_dir, "supplier")
    return (
        per_supp.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("mx"))
        .join(supp, F.col("l_suppkey") == supp.s_suppkey)
        .select("s_suppkey", "s_name", F.col("total_revenue").cast("string").alias("total_revenue"))
    )


Q15_SQL = """
WITH r AS (
  SELECT l_suppkey, sum(l_extendedprice::DECIMAL(12,2) * (1.0::DECIMAL(9,4) - l_discount::DECIMAL(9,4)))::DECIMAL(38,6) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY 1
)
SELECT s_suppkey, s_name, total_revenue::VARCHAR AS total_revenue
FROM r JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM r)
"""


def q16_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier count per part attribute
    triple, minus a NOT IN exclusion list (negative-balance suppliers
    proxy the 'complaints' list) — the exclusion is a broadcast anti
    join BEFORE the distinct aggregate."""
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 9, 14, 19, 23, 36, 45)
    )
    bad = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    pairs = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    return (
        pairs.join(F.broadcast(bad), pairs.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(part), pairs.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


Q16_SQL = """
WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM pairs JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
  AND p_size IN (1, 5, 9, 14, 19, 23, 36, 45)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3
"""


def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs across both join sides. The join
    stays a plain equi join on partkey; the disjunction runs as a
    post-join filter (Catalyst also derives the implied per-side
    prefilters)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    rev = F.col("l_extendedprice").cast(DEC_PRICE) * (
        F.lit(1.0).cast(DEC_RATE) - F.col("l_discount").cast(DEC_RATE)
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(cond)
        .agg(F.sum(rev).cast("decimal(38,6)").cast("string").alias("revenue"))
    )


Q19_SQL = """
SELECT sum(l_extendedprice::DECIMAL(12,2) * (1.0::DECIMAL(9,4) - l_discount::DECIMAL(9,4)))::DECIMAL(38,6)::VARCHAR AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)
"""


def q20_excess_supply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: IN-subquery over a HAVING aggregate → the
    aggregate runs first (tiny output), then gates suppliers via a
    left-semi join; nation filter broadcast."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").like("red%"))
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    heavy = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast(DEC_PRICE)).cast("decimal(38,2)").alias("q"))
        .filter(F.col("q") > 100)
        .select("l_suppkey")
    )
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
    return (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(heavy, supp.s_suppkey == heavy.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name", "s_acctbal")
        .orderBy("s_suppkey")
    )


Q20_SQL = """
SELECT s_suppkey, s_name, s_acctbal
FROM supplier JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_7'
  AND s_suppkey IN (
    SELECT l_suppkey FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_name LIKE 'red%'
      AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY l_suppkey
    HAVING sum(l_quantity::DECIMAL(12,2))::DECIMAL(38,2) > 100)
ORDER BY s_suppkey
"""


def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: EXISTS + NOT EXISTS chain with inequality
    correlation ('R' lineitems proxy 'late'). NOT executed as
    semi/anti self-joins — that shuffles the fact table three times.
    Per order, the exists/not-exists pair collapses to per-group
    facts: >= 2 distinct suppliers AND exactly one 'late' supplier,
    computed by a two-stage rollup (per (order, supplier), then per
    order — plain partial-aggregating sums, no distinct expand, no
    collect_set arrays); only the tiny blamed set joins the
    dimensions."""
    li = _t(spark, sf_dir, "lineitem")
    is_r = F.col("l_returnflag") == "R"
    # Two-stage pre-aggregation instead of countDistinct+collect_set:
    # the (orderkey, suppkey) rollup partial-aggregates map-side with
    # plain sums (no distinct expand, no set arrays through the
    # exchange), and the per-order stage then reduces the already
    # order×supplier-sized frame. Measured 2.2x at sf0.1; at scale it
    # also removes the per-group array state entirely.
    per_pair = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max(F.when(is_r, 1).otherwise(0)).alias("any_r"),
        F.sum(F.when(is_r, 1).otherwise(0)).alias("r_rows"),
    )
    per_order = per_pair.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum("any_r").alias("n_r_supp"),
        F.max(F.when(F.col("any_r") == 1, F.col("l_suppkey"))).alias(
            "l_suppkey"
        ),
        F.sum("r_rows").alias("r_rows"),
    )
    blamed = per_order.filter(
        (F.col("n_supp") >= 2) & (F.col("n_r_supp") == 1)
    ).select("l_suppkey", "r_rows")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_2")
    return (
        blamed.join(supp, blamed.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy("s_name")
        .agg(F.sum("r_rows").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )


Q21_SQL = """
SELECT s_name, count(*) AS numwait
FROM lineitem l1
JOIN supplier ON l1.l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_2' AND l1.l_returnflag = 'R'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey AND l3.l_returnflag = 'R')
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 100
"""


# ---------------------------------------------------------------------------
# Training-data-pipeline extras: approximate aggregates, deterministic
# sampling, resample/gap-fill, CUBE, JSON stats, and the composed
# corpus-cleaning pipeline. At 100 TB these are the everyday verbs of
# a data-curation job; each keeps a DuckDB oracle.


def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct counts. The sketches differ across
    engines, so the oracle-stable outputs are the EXACT count plus a
    boolean asserting each engine's own sketch lands within 5% of its
    exact value — the sketch is graded on its contract, not its bits.
    At scale approx_count_distinct is one pass, no distinct shuffle."""
    ev = _t(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.approx_count_distinct("user_id", 0.02).alias("approx"),
    )
    return agg.select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("approx") - F.col("exact_users"))
            <= 0.05 * F.col("exact_users")
        ).alias("approx_ok"),
    ).orderBy("event_type")


APPROX_DISTINCT_SQL = """
SELECT event_type, count(DISTINCT user_id) AS exact_users,
       abs(approx_count_distinct(user_id) - count(DISTINCT user_id))
         <= 0.05 * count(DISTINCT user_id) AS approx_ok
FROM events GROUP BY 1 ORDER BY 1
"""


def sample_hash_mod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% corpus sample: md5(doc_id) bucket < 10 of
    100. Unlike TABLESAMPLE, hash-mod sampling is reproducible across
    engines, partitionings, and reruns — the property a training-data
    pipeline needs for holdout splits."""
    docs = _t(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long")
        % 100
    )
    return docs.withColumn("bucket", bucket).filter(F.col("bucket") < 10).select(
        "doc_id", "lang", "source", "bucket"
    )


SAMPLE_SQL = """
SELECT doc_id, lang, source, bucket
FROM (SELECT *, ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 100 AS bucket
      FROM documents)
WHERE bucket < 10
"""


def events_resample_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style resample: per user, an hourly grid from first
    to last event, gaps filled with last-observation-carried-forward.
    The grid is generated with sequence+explode (no driver loop); the
    fill is one window pass — same union+window trick as the as-of
    join, one shuffle total. Restricted to user_id < 50 to keep the
    oracle compact."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.max_by("value", "event_id").alias("v"))
    grid = (
        hourly.groupBy("user_id")
        .agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
        .select(
            "user_id",
            F.explode(
                F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
            ).alias("h"),
        )
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = (
        grid.join(hourly, ["user_id", "h"], "left")
        .withColumn("v_filled", F.last("v", ignorenulls=True).over(w))
        .withColumn("is_gap", F.col("v").isNull())
    )
    return filled.select(
        "user_id",
        _fmt_ts(F.col("h"), "hour_s"),
        F.round(F.col("v_filled"), 6).alias("v_filled"),
        "is_gap",
    )


RESAMPLE_SQL = """
WITH hourly AS (
  SELECT user_id, date_trunc('hour', ts) AS h,
         max_by(value, event_id) AS v
  FROM events WHERE user_id < 50 GROUP BY 1, 2
), grid AS (
  SELECT user_id, unnest(generate_series(min(h), max(h), INTERVAL 1 HOUR)) AS h
  FROM hourly GROUP BY user_id
)
SELECT g.user_id, strftime(g.h, '%Y-%m-%d %H:%M:%S') AS hour_s,
       round(last_value(hy.v IGNORE NULLS) OVER (
         PARTITION BY g.user_id ORDER BY g.h
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS v_filled,
       hy.v IS NULL AS is_gap
FROM grid g LEFT JOIN hourly hy ON g.user_id = hy.user_id AND g.h = hy.h
"""


def events_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (event_type, year): all 4 grouping combinations in
    one shuffle (completes the rollup / grouping-sets / cube trio)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.cube(F.col("event_type"), F.year("ts").alias("y"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("decimal(38,6)")
            .cast("string")
            .alias("sum_value"),
        )
    )


CUBE_SQL = """
SELECT event_type, year(ts) AS y, count(*) AS n,
       sum(value::DECIMAL(18,6))::DECIMAL(38,6)::VARCHAR AS sum_value
FROM events GROUP BY CUBE (event_type, y)
"""


def json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction on the hot path: get_json_object stays
    JVM-side (no Python UDF); integer stats are engine-exact."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        ev.groupBy("event_type")
        .agg(
            F.sum(k).alias("sum_k"),
            F.min(k).alias("min_k"),
            F.max(k).alias("max_k"),
            F.count(k).alias("n_k"),
        )
        .orderBy("event_type")
    )


JSON_PROPS_SQL = """
SELECT event_type,
       sum(json_extract(props, '$.k')::BIGINT)::BIGINT AS sum_k,
       min(json_extract(props, '$.k')::BIGINT) AS min_k,
       max(json_extract(props, '$.k')::BIGINT) AS max_k,
       count(json_extract(props, '$.k')::BIGINT) AS n_k
FROM events GROUP BY 1 ORDER BY 1
"""


def clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed curation pipeline: language gate -> length gate ->
    quality gate -> exact dedup (keep lowest doc_id). Single plan:
    the gates are pushed-down filters, the dedup is one groupBy on
    the content hash — this is the shape a 100 TB pre-training clean
    runs as, and it must stay a 2-shuffle plan (hash agg + nothing
    else)."""
    docs = _t(spark, sf_dir, "documents")
    gated = docs.filter(
        (F.col("lang") == "en")
        & (F.col("n_chars") >= 50)
        & (F.col("n_chars") <= 5000)
        & (TX.quality_score(F.col("text")) >= 0.5)
    )
    return (
        gated.groupBy(F.md5("text").alias("content_hash"))
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count("*").alias("n_exact_copies"),
        )
    )


CLEAN_CORPUS_SQL = f"""
WITH p0 AS (
  SELECT doc_id, text, n_chars, lang, ' ' || lower(text) || ' ' AS p FROM documents
), b AS (
  SELECT doc_id, text, n_chars, lang,
         length(regexp_split_to_array(trim(text), '\\s+')) AS toks,
         {_STOP_SUM} AS stops,
         length(text) - length(regexp_replace(text, '[\\.\\,\\;\\:\\!\\?]', '', 'g')) AS puncts,
         length(text) AS chars
  FROM p0
), q AS (
  SELECT doc_id, text, n_chars, lang,
         0.4 * least(1.0, toks::DOUBLE / 100.0)
       + 0.4 * least(1.0, 8.0 * stops::DOUBLE / toks::DOUBLE)
       + 0.2 * (1.0 - least(1.0, 4.0 * puncts::DOUBLE / chars::DOUBLE)) AS quality
  FROM b
)
SELECT md5(text) AS content_hash, min(doc_id) AS doc_id, count(*) AS n_exact_copies
FROM q
WHERE lang = 'en' AND n_chars BETWEEN 50 AND 5000 AND quality >= 0.5
GROUP BY 1
"""


def window_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-frame battery: a RANGE frame over event-time seconds
    (trailing 1 h moving sum), ntile quartiles, percent_rank — all
    three windows share ONE partitioning (user_id) so Spark plans a
    single exchange + sort for the whole select."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 100)
    sec = F.unix_timestamp("ts")
    w_range = (
        Window.partitionBy("user_id").orderBy(sec.alias("s")).rangeBetween(-3600, 0)
    )
    w_rank = Window.partitionBy("user_id").orderBy("value", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.sum(F.col("value").cast("decimal(18,6)"))
        .over(w_range)
        .cast("decimal(38,6)")
        .cast("string")
        .alias("trailing_1h"),
        F.ntile(4).over(w_rank).alias("quartile"),
        F.round(F.percent_rank().over(w_rank), 6).alias("pr"),
    )


WINDOW_FRAMES_SQL = """
SELECT event_id, user_id,
       sum(value::DECIMAL(18,6)) OVER (
         PARTITION BY user_id ORDER BY epoch(ts)
         RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)::DECIMAL(38,6)::VARCHAR AS trailing_1h,
       ntile(4) OVER (PARTITION BY user_id ORDER BY value, event_id) AS quartile,
       round(percent_rank() OVER (PARTITION BY user_id ORDER BY value, event_id), 6) AS pr
FROM events WHERE user_id < 100
"""


def array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions on the embedding column — the
    vector toolkit (fold, map, sort/slice) entirely JVM-side, no
    Python UDF. The fold runs sequentially left-to-right on both
    engines, so the float sums agree bit-for-bit."""
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 500)
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    norm2 = F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x)
    clipped_sum = F.aggregate(
        F.transform(v, lambda x: F.least(F.greatest(x, F.lit(-0.5)), F.lit(0.5))),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    top3 = F.slice(F.sort_array(v, asc=False), 1, 3)
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(norm2, 6).alias("norm2"),
        F.round(clipped_sum, 6).alias("clipped_sum"),
        F.round(top3[0], 6).alias("top1"),
        F.round(top3[2], 6).alias("top3"),
    )


ARRAY_FUNCS_SQL = """
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id < 500
)
SELECT vec_id, len(e) AS dim,
       round(list_reduce(list_transform(e, x -> x * x), (a, b) -> a + b), 6) AS norm2,
       round(list_reduce(list_transform(e, x -> least(greatest(x, -0.5), 0.5)), (a, b) -> a + b), 6) AS clipped_sum,
       round(list_reverse_sort(e)[1], 6) AS top1,
       round(list_reverse_sort(e)[3], 6) AS top3
FROM v
"""


def text_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (the MOSS rolling-hash scheme): hash
    every ordered word 3-gram, slide a window of 4 hashes, keep each
    window's minimum — guaranteeing any shared run of >= 6 words
    between two documents shares a fingerprint. Pure array
    expressions (transform/slice/array_min): no explode, no shuffle,
    whole-stage codegen; the per-doc fingerprint set is the compact
    sketch a plagiarism/near-dup index joins on at scale."""
    k, w = 3, 4
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 2000)
    # Staged selects, one expensive array per stage: each stage's
    # output is referenced >1 time downstream, which blocks
    # CollapseProject from re-inlining the chain — otherwise Catalyst
    # would re-evaluate the full md5 chain once PER WINDOW (observed
    # 100x slowdown in the single-select formulation; lambda bodies
    # get no common-subexpression elimination).
    d = DD.ensure_parallelism(docs).select(
        "doc_id", F.split(F.col("text"), " ").alias("toks")
    )
    toks = F.col("toks")
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - k),
        lambda i: F.concat_ws(
            " ", F.get(toks, i), F.get(toks, i + 1), F.get(toks, i + 2)
        ),
    )
    d = d.select(
        "doc_id",
        F.when(F.size(toks) >= k + w - 1, grams)
        .otherwise(F.array().cast("array<string>"))
        .alias("grams"),
    )
    d = d.select(
        "doc_id", F.transform("grams", DD.md5_base_mod).alias("hs")
    )
    hs = F.col("hs")
    wins = F.transform(
        F.sequence(F.lit(0), F.size(hs) - w),
        lambda i: F.array_min(F.slice(hs, i + 1, w)),
    )
    d = d.select(
        "doc_id",
        F.when(F.size(hs) >= w, wins)
        .otherwise(F.array().cast("array<long>"))
        .alias("wins"),
    )
    d = d.select(
        "doc_id", F.array_sort(F.array_distinct("wins")).alias("fps")
    )
    fps = F.col("fps")
    return d.select(
        "doc_id",
        F.size(fps).alias("n_fingerprints"),
        F.aggregate(
            fps, F.lit(0).cast("long"), lambda acc, x: acc.bitwiseXOR(x)
        ).alias("fp_xor"),
        F.element_at(fps, 1).alias("fp_min"),
    )


WINNOW_SQL = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents WHERE doc_id < 2000
), g AS (
  SELECT doc_id, toks,
         CASE WHEN len(toks) >= 6 THEN
           list_transform(generate_series(1, len(toks) - 2),
                          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
         ELSE [] END AS grams
  FROM t
), h AS (
  SELECT doc_id,
         list_transform(grams,
           g2 -> ('0x' || substr(md5(g2), 1, 15))::BIGINT % {DD.MINHASH_P}) AS hs
  FROM g
), wmin AS (
  SELECT doc_id,
         CASE WHEN len(hs) >= 4 THEN
           list_sort(list_distinct(list_transform(
             generate_series(1, len(hs) - 3),
             i -> list_aggregate(hs[i:i+3], 'min'))))
         ELSE [] END AS fps
  FROM h
)
SELECT doc_id, len(fps) AS n_fingerprints,
       list_reduce(list_prepend(0::BIGINT, fps), (a, b) -> xor(a, b)) AS fp_xor,
       fps[1] AS fp_min
FROM wmin
"""


def cdc_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3 audit: source-vs-sink reconciliation after a CDC pipe. The
    'sink' is the orders table with deterministic hash-mod drift
    (some keys dropped, some totalprice values bumped, some foreign
    keys injected), so both engines derive the same drift and the
    same ok / missing / extra / mismatch census. The operator hashes
    compared columns per side BEFORE the full-outer join — the
    shuffle carries (pk, 128-bit hash), never the row width."""
    from reader_spark.operators.transfer import reconcile

    orders = _t(spark, sf_dir, "orders")
    bucket = F.conv(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 15), 16, 10
    ).cast("long")
    b = orders.select(
        "o_orderkey",
        "o_totalprice",
        "o_orderstatus",
        (bucket % 97).alias("m97"),
        (bucket % 89).alias("m89"),
        (bucket % 101).alias("m101"),
    )
    kept = b.filter(F.col("m97") != 0).select(
        "o_orderkey",
        F.when(F.col("m89") == 1, F.col("o_totalprice") + 1)
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        "o_orderstatus",
    )
    extra = b.filter(F.col("m101") == 2).select(
        (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
        "o_totalprice",
        "o_orderstatus",
    )
    sink = kept.unionByName(extra)
    src = orders.select("o_orderkey", "o_totalprice", "o_orderstatus")
    return reconcile(src, sink, ["o_orderkey"], ["o_totalprice", "o_orderstatus"])


# The oracle re-derives the drift and classifies by VALUE comparison
# (not by replicating the operator's md5 row-hash), so it is an
# independent check of the reconcile semantics.
CDC_RECONCILE_SQL = """
WITH b AS (
  SELECT o_orderkey, o_totalprice, o_orderstatus,
         ('0x' || substr(md5(o_orderkey::VARCHAR), 1, 15))::BIGINT AS h
  FROM orders
), sink AS (
  SELECT o_orderkey,
         CASE WHEN h % 89 = 1 THEN o_totalprice + 1 ELSE o_totalprice END AS o_totalprice,
         o_orderstatus
  FROM b WHERE h % 97 <> 0
  UNION ALL
  SELECT o_orderkey + 10000000, o_totalprice, o_orderstatus
  FROM b WHERE h % 101 = 2
), src AS (
  SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
)
SELECT CASE
         WHEN src.o_orderkey IS NULL THEN 'extra'
         WHEN sink.o_orderkey IS NULL THEN 'missing'
         WHEN src.o_totalprice IS NOT DISTINCT FROM sink.o_totalprice
          AND src.o_orderstatus IS NOT DISTINCT FROM sink.o_orderstatus THEN 'ok'
         ELSE 'mismatch'
       END AS status,
       count(*) AS n_keys
FROM src FULL OUTER JOIN sink USING (o_orderkey)
GROUP BY 1
"""


def text_shard_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard packing: cumulative whitespace-token budget over
    the stable doc order (functions/text.py::shard_pack) — each shard
    carries ~4000 tokens. Two-phase distributed prefix sum: bucketed
    subtotals → broadcast offsets → per-bucket windows; no global
    single-partition window anywhere in the plan."""
    docs = _t(spark, sf_dir, "documents")
    return TX.shard_pack(docs, budget_tokens=4000)


SHARD_PACK_SQL = """
SELECT doc_id, n_tokens,
       coalesce((sum(n_tokens) OVER (ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) // 4000), 0)::BIGINT
         AS shard_id
FROM (SELECT doc_id,
             length(regexp_split_to_array(trim(text), '\\s+'))::BIGINT AS n_tokens
      FROM documents)
"""


def text_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted deterministic sampling: keep-probability =
    0.5 * quality_score, md5-uniform per doc — reproducible, map-only,
    no RNG state (functions/text.py::weighted_sample)."""
    docs = _t(spark, sf_dir, "documents")
    return TX.weighted_sample(
        docs, TX.quality_score(F.col("text")), rate=0.5
    ).select("doc_id")


WEIGHTED_SAMPLE_SQL = f"""
WITH p0 AS (
  SELECT doc_id, text, ' ' || lower(text) || ' ' AS p FROM documents
), b AS (
  SELECT doc_id,
         length(regexp_split_to_array(trim(text), '\\s+')) AS toks,
         {{stop_sum}} AS stops,
         length(text) - length(regexp_replace(text, '[\\.\\,\\;\\:\\!\\?]', '', 'g')) AS puncts,
         length(text) AS chars
  FROM p0
), q AS (
  SELECT doc_id,
         round(0.4 * least(1.0, toks::DOUBLE / 100.0)
             + 0.4 * least(1.0, 8.0 * stops::DOUBLE / toks::DOUBLE)
             + 0.2 * (1.0 - least(1.0, 4.0 * puncts::DOUBLE / chars::DOUBLE)), 6) AS quality,
         ('0x' || substr(md5('ws:' || doc_id::VARCHAR), 1, 15))::BIGINT / {float(16 ** 15)} AS u
  FROM b
)
SELECT doc_id FROM q WHERE u < least(1.0, greatest(0.0, quality * 0.5))
""".replace("{stop_sum}", _STOP_SUM)


def cdc_e2e_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1->C2->C4->C5->C3->P5->K1->K3 composed END-TO-END, driver-checked
    (not just per-piece pytest): synthesize a deterministic binlog from
    the orders fixture (CREATE, inserts incl. a multi-row transaction
    and exact GTID replays, mid-stream ALTER ADD COLUMN, updates,
    deletes), stream it through the custom logtail source ->
    foreachBatch pipeline (route / GTID dedupe / schema history /
    JSON row-image decode / Debezium envelope) -> parquet sink, then MERGE
    the envelopes into final table state with the transfer writer and
    return that state. The oracle derives the same edit script's final
    state directly from orders — if any composed stage drops, dups, or
    mis-decodes a row, the census diverges."""
    import json
    import os

    from reader_spark.operators.transfer import TransferWriter
    from reader_spark.plans.cdc_mysql import run_pipeline
    from reader_spark.streaming.schema_history import SchemaAdapter

    work = _work_dir("cdc_e2e_")
    log_dir = os.path.join(work, "log")
    os.makedirs(log_dir)

    src_rows = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 500)
        .select("o_orderkey", "o_custkey", "o_orderstatus")
        .orderBy("o_orderkey")
        .collect()
    )  # source synthesis only — the pipeline under test stays distributed

    def rec(seq, kind, *, op=None, stmt=None, before=None, after=None,
            tx=None, ts=2000):
        return {
            "seq": str(seq), "ts_ms": str(ts), "db": "app",
            "tbl": "orders_cdc", "kind": kind, "op": op,
            "gtid_sid": "s1", "gtid_tx": str(tx if tx is not None else seq),
            "statement": stmt,
            "before": json.dumps(before) if before else None,
            "after": json.dumps(after) if after else None,
        }

    lines = [rec(0, "ddl", stmt=(
        "CREATE TABLE orders_cdc (o_orderkey int, o_custkey int, "
        "o_orderstatus text)"), ts=1000)]
    for r in src_rows:
        row = {"o_orderkey": r["o_orderkey"], "o_custkey": r["o_custkey"],
               "o_orderstatus": r["o_orderstatus"]}
        # first three inserts form ONE multi-row transaction (tx=10):
        # the GTID dedupe must keep every row of it
        tx = 10 if r["o_orderkey"] < 3 else None
        lines.append(rec(10 + r["o_orderkey"], "dml", op="c", after=row, tx=tx))
        if r["o_orderkey"] < 5:  # exact replays: dropped by C4
            lines.append(rec(10 + r["o_orderkey"], "dml", op="c", after=row, tx=tx))
    lines.append(rec(20000, "ddl", stmt=(
        "ALTER TABLE orders_cdc ADD COLUMN note text"), ts=3000))
    for r in src_rows:
        k = r["o_orderkey"]
        row = {"o_orderkey": k, "o_custkey": r["o_custkey"],
               "o_orderstatus": r["o_orderstatus"], "note": None}
        if k < 100:
            lines.append(rec(20000 + k, "dml", op="u", before=row,
                             after={**row, "o_orderstatus": "X", "note": "upd"},
                             ts=3000))
        elif k < 150:
            lines.append(rec(30000 + k, "dml", op="d", before=row, ts=3000))
    with open(os.path.join(log_dir, "shard0.jsonl"), "w") as f:
        for line in lines:
            f.write(json.dumps(line) + "\n")

    q = run_pipeline(
        spark, log_dir, os.path.join(work, "sink"),
        os.path.join(work, "ckpt"), "app", ["orders_cdc"],
        SchemaAdapter(), history_path=os.path.join(work, "history.jsonl"),
    )
    q.awaitTermination(120)

    env = spark.read.parquet(os.path.join(work, "sink", "orders_cdc"))
    changes = env.select(
        F.get_json_object("value", "$.payload.after.o_orderkey")
        .alias("after_key"),
        F.get_json_object("value", "$.payload.before.o_orderkey")
        .alias("before_key"),
        F.get_json_object("value", "$.payload.after.o_custkey").alias("o_custkey"),
        F.get_json_object("value", "$.payload.after.o_orderstatus")
        .alias("o_orderstatus"),
        F.get_json_object("value", "$.payload.after.note").alias("note"),
        F.get_json_object("value", "$.payload.op").alias("op"),
        F.get_json_object("value", "$.payload.source.ts_ms").cast("long").alias("seq"),
    ).select(
        F.coalesce(F.col("after_key"), F.col("before_key"))
        .cast("long")
        .alias("o_orderkey"),
        F.col("o_custkey").cast("long").alias("o_custkey"),
        "o_orderstatus", "note", "op", "seq",
    )
    writer = TransferWriter(spark, os.path.join(work, "dest"))
    writer.upsert("state", changes, ["o_orderkey"], "seq")
    return writer.read("state").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "note"
    )


CDC_E2E_SQL = """
SELECT o_orderkey::BIGINT AS o_orderkey,
       o_custkey::BIGINT AS o_custkey,
       CASE WHEN o_orderkey < 100 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
       CASE WHEN o_orderkey < 100 THEN 'upd' END AS note
FROM orders
WHERE o_orderkey < 500 AND NOT (o_orderkey >= 100 AND o_orderkey < 150)
"""


# ---------------------------------------------------------------------------
# corpus curation (operators/curation.py): the selection/filtering
# layer between dedup and shard packing in a training-data pipeline


def quality_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document: token count,
    distinct-token ratio, most-frequent-token fraction, duplicate-
    bigram fraction. One uniform (doc_id, token) shuffle with
    map-side partials; array-local metrics stay in the scan stage."""
    return CU.repetition_metrics(_t(spark, sf_dir, "documents"))


REPETITION_SQL = """
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
), wc AS (
  SELECT doc_id, w, count(*) AS c
  FROM (SELECT doc_id, unnest(ws) AS w FROM base)
  GROUP BY 1, 2
), top AS (
  SELECT doc_id, max(c) AS top_cnt FROM wc GROUP BY 1
), m AS (
  SELECT doc_id, len(ws) AS n_tokens,
         len(list_distinct(ws)) AS n_distinct,
         CASE WHEN len(ws) >= 2 THEN len(list_distinct(list_transform(
           generate_series(1, len(ws) - 1), i -> ws[i] || ' ' || ws[i + 1])))
           ELSE 0 END AS n_distinct_bigrams,
         greatest(len(ws) - 1, 0) AS n_bigrams
  FROM base
)
SELECT m.doc_id AS doc_id, n_tokens,
       round(n_distinct::DOUBLE / n_tokens, 6) AS distinct_ratio,
       round(top_cnt::DOUBLE / n_tokens, 6) AS top_token_frac,
       CASE WHEN n_bigrams > 0
            THEN round((n_bigrams - n_distinct_bigrams)::DOUBLE / n_bigrams, 6)
            ELSE 0.0 END AS dup_bigram_frac
FROM m JOIN top ON top.doc_id = m.doc_id
"""


def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination screen: docs from source 'src0' act as
    the held-out benchmark; every other document reports the fraction
    of its distinct word 3-grams that appear anywhere in the
    benchmark. Benchmark n-gram set broadcast when small (gated)."""
    docs = _t(spark, sf_dir, "documents")
    return CU.ngram_contamination(
        docs.filter(F.col("source") != "src0"),
        docs.filter(F.col("source") == "src0"),
        n=3,
    )


CONTAMINATION_SQL = """
WITH g AS (
  SELECT doc_id, source,
         ('0x' || substr(md5('cg:' || gram), 1, 15))::BIGINT AS gh
  FROM (
    SELECT doc_id, source,
           unnest(CASE WHEN len(ws) >= 3 THEN list_distinct(list_transform(
             generate_series(1, len(ws) - 2),
             i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2]))
             ELSE []::VARCHAR[] END) AS gram
    FROM (SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents)
  )
), bench AS (
  SELECT DISTINCT gh FROM g WHERE source = 'src0'
), corp AS (
  SELECT doc_id, gh FROM g WHERE source <> 'src0'
), tot AS (
  SELECT doc_id, count(*) AS n_grams FROM corp GROUP BY 1
), hit AS (
  SELECT doc_id, count(*) AS n_hit FROM corp JOIN bench USING (gh) GROUP BY 1
)
SELECT tot.doc_id AS doc_id, n_grams,
       coalesce(n_hit, 0) AS n_hit,
       round(coalesce(n_hit, 0)::DOUBLE / n_grams, 6) AS contamination
FROM tot LEFT JOIN hit ON hit.doc_id = tot.doc_id
"""


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-(lang, source) stratum downsampling to ~8
    docs each: rate = min(1, 8/n), keep iff md5-unit(doc_id) < rate.
    Reproducible under any partitioning — no RNG state."""
    return CU.stratified_sample(
        _t(spark, sf_dir, "documents"), ["lang", "source"], cap=8
    )


STRATIFIED_SQL = """
WITH c AS (
  SELECT lang, source, count(*) AS n_s FROM documents GROUP BY 1, 2
), r AS (
  SELECT lang, source, round(least(1.0, 8.0 / n_s), 6) AS rate FROM c
)
SELECT doc_id, d.lang AS lang, d.source AS source, rate
FROM documents d JOIN r ON d.lang = r.lang AND d.source = r.source
WHERE (('0x' || substr(md5('strat:' || doc_id::VARCHAR), 1, 8))::BIGINT
       % 1000000) / 1000000.0 < rate
"""


def temperature_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-frequency language rebalancing (temperature alpha=0.3):
    rate_l = (min_n / n_l)^0.7 — the multilingual-corpus rebalance
    that downsamples the dominant language toward balance. Map-only
    keep decision."""
    return CU.temperature_resample(
        _t(spark, sf_dir, "documents"), "lang", alpha=0.3
    )


TEMPERATURE_SQL = """
WITH c AS (
  SELECT lang, count(*) AS n_s FROM documents GROUP BY 1
), m AS (
  SELECT min(n_s) AS min_n FROM c
), r AS (
  SELECT lang, round(pow(min_n::DOUBLE / n_s, 0.7), 6) AS rate FROM c, m
)
SELECT doc_id, d.lang AS lang, rate
FROM documents d JOIN r USING (lang)
WHERE (('0x' || substr(md5('temp:' || doc_id::VARCHAR), 1, 8))::BIGINT
       % 1000000) / 1000000.0 < rate
"""


_SEM_PLANES = [CU.hyperplane(p, 64) for p in range(8)]
_SEM_TAU = 0.2


def _sem_dot_sql(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(generate_series(1, 64),"
        f" i -> {a}[i] * {b}[i]), (x, y) -> x + y)"
    )


def _sem_plane_lit(p: int) -> str:
    return "[" + ", ".join(str(w) for w in _SEM_PLANES[p]) + "]::DOUBLE[]"


def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shaped embedding dedup: sign-LSH (8 deterministic
    md5-derived hyperplanes) buckets candidates, then a within-bucket
    cosine dominance test (>= 0.2 to a smaller id drops the vector).
    The only corpus-sized shuffle is the bucket equi-join."""
    return CU.semantic_dedup(
        _t(spark, sf_dir, "embeddings"),
        n_planes=8,
        dim=64,
        threshold=_SEM_TAU,
    )


def knn_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantized (int8) ANN with exact rescoring: approximate
    pass over mid-rise dequantized codes (8x less scan bandwidth than
    full doubles), top-10 per query rescored with exact cosine, top-5
    emitted. Deterministic quantizer -> full DuckDB oracle (unlike
    trained-KMeans ANN)."""
    return SIM.knn_sq8_rescore(
        _t(spark, sf_dir, "embeddings"), _KNN_QUERY_IDS, k=5, rerank=10, dim=64
    )


_SQ8_MN = "[" + ", ".join(f"min(e[{i + 1}])" for i in range(64)) + "]"
_SQ8_MX = "[" + ", ".join(f"max(e[{i + 1}])" for i in range(64)) + "]"

KNN_SQ8_SQL = f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), st AS (
  SELECT {_SQ8_MN} AS mn, {_SQ8_MX} AS mx FROM v
), coded AS (
  SELECT vec_id,
         list_transform(generate_series(1, 64), i ->
           CASE WHEN mx[i] > mn[i]
                THEN least(255, floor((e[i] - mn[i]) / (mx[i] - mn[i]) * 256))::BIGINT
                ELSE 0 END) AS codes
  FROM v, st
), q AS (
  SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 10
), q2 AS (
  SELECT query_id,
         list_transform(generate_series(1, 64),
                        i -> qe[i] * ((mx[i] - mn[i]) / 256)) AS s,
         list_reduce(list_transform(generate_series(1, 64),
                                    i -> qe[i] * mn[i]),
                     (x, y) -> x + y) AS qmn
  FROM q, st
), q3 AS (
  SELECT query_id, s,
         qmn + 0.5 * list_reduce(s, (x, y) -> x + y) AS qs0
  FROM q2
), approx AS (
  SELECT query_id, c.vec_id AS neighbor_id,
         qs0 + list_reduce(list_transform(generate_series(1, 64),
                                          i -> s[i] * codes[i]),
                           (x, y) -> x + y) AS approx_dot
  FROM coded c, q3
  WHERE c.vec_id <> query_id
), cand AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY approx_dot DESC, neighbor_id) AS arank
    FROM approx
  ) WHERE arank <= 10
), nrm AS (
  SELECT vec_id, e,
         list_reduce(list_transform(generate_series(1, 64), i -> e[i] * e[i]),
                     (x, y) -> x + y) AS nv
  FROM v
)
SELECT query_id, neighbor_id, rank, cos_sim FROM (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id) AS rank,
         cos_sim
  FROM (
    SELECT cand.query_id AS query_id, cand.neighbor_id AS neighbor_id,
           round(
             list_reduce(list_transform(generate_series(1, 64),
               i -> nq.e[i] * nn.e[i]), (x, y) -> x + y)
             / (sqrt(nq.nv) * sqrt(nn.nv)), 6) AS cos_sim
    FROM cand
    JOIN nrm nn ON nn.vec_id = cand.neighbor_id
    JOIN nrm nq ON nq.vec_id = cand.query_id
  )
) WHERE rank <= 5
"""


SEMANTIC_DEDUP_SQL = (
    "WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),\n"
    "b AS MATERIALIZED (\n  SELECT vec_id, e,\n    ("
    + " + ".join(
        "CASE WHEN {d} >= 0 THEN {v} ELSE 0 END".format(
            d=_sem_dot_sql("e", f"({_sem_plane_lit(p)})"), v=1 << p
        )
        for p in range(8)
    )
    + ")::BIGINT AS bucket,\n"
    + f"    sqrt({_sem_dot_sql('e', 'e')}) AS nrm\n  FROM v\n),\n"
    + "bsz AS (SELECT bucket, count(*)::BIGINT AS n FROM b GROUP BY bucket),\n"
    + f"cap AS (SELECT greatest({CU.SKEW_CAP_FLOOR}, "
    + f"least({CU.SKEW_CAP_FACTOR} * sum(n) // count(*), "
    + f"{CU.SKEW_CAP_CEIL})) AS c FROM bsz),\n"
    + "capped AS (SELECT bsz.bucket FROM bsz, cap WHERE bsz.n > cap.c),\n"
    + "j AS (SELECT * FROM b WHERE bucket NOT IN "
    + "(SELECT bucket FROM capped)),\n"
    + "dropped AS (\n"
    + "  SELECT DISTINCT a.vec_id AS vid\n"
    + "  FROM j a JOIN j b2 ON a.bucket = b2.bucket AND a.vec_id > b2.vec_id\n"
    + f"  WHERE round({_sem_dot_sql('a.e', 'b2.e')} / (a.nrm * b2.nrm), 6)"
    + f" >= {_SEM_TAU}\n)\n"
    + "SELECT b.vec_id AS vec_id, b.bucket AS bucket,\n"
    + "       CASE WHEN dropped.vid IS NULL THEN 1 ELSE 0 END AS is_kept,\n"
    + "       CASE WHEN cp.bucket IS NULL THEN 0 ELSE 1 END AS is_capped\n"
    + "FROM b LEFT JOIN dropped ON dropped.vid = b.vec_id\n"
    + "LEFT JOIN capped cp ON cp.bucket = b.bucket"
)


def embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means census: two deterministic Lloyd iterations
    (label-seeded init, broadcast centroids, sorted sequential-fold
    means — bit-reproducible vs the oracle), then one row per cluster
    with member count and the medoid-style representative. The
    cluster map cluster-aware curation starts from."""
    return SIM.kmeans_clusters(_t(spark, sf_dir, "embeddings"), n_iters=2)


def cluster_health_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantizer-health / refit-signal report: per final Lloyd
    cluster, occupancy plus integer-ppm quantization error (sum,
    floor-mean, worst member) — the drift metric that decides when
    the incremental IVF path stops and a full refit runs. Errors are
    floored to ppm BEFORE aggregation so only order-independent
    integer sums/maxes cross the engine boundary."""
    return SIM.cluster_health(_t(spark, sf_dir, "embeddings"), n_iters=2)


def semdedup_prune_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup proper (arXiv:2303.09540): 2-iteration Lloyd clusters,
    then within each cluster drop every cos>=tau duplicate except the
    member farthest from the centroid (keep-low-centroid-similarity).
    Cluster-scoped candidate join — pair lists bounded by cluster
    occupancy, dominance keyed on bit-reproducible centroid
    distances, so the full keep/drop decision is oracle-exact."""
    return CU.semdedup_prune(
        _t(spark, sf_dir, "embeddings"), n_iters=2, threshold=0.2
    )


def cluster_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced selection: assign every vector to its
    2-iteration Lloyd cluster, then keep EXACTLY min(30, |cluster|)
    per cluster by ranked md5-ppm draw — semantic-diversity
    downsampling (dense clusters shed mass, sparse clusters survive
    whole), the embedding-space complement of source-level
    `temperature_resample`."""
    assigned = SIM.kmeans_assign(_t(spark, sf_dir, "embeddings"), n_iters=2)
    return CU.cluster_balanced_sample(assigned, cap=30)


# Two unrolled Lloyd iterations, shared by both oracles: centroids
# re-averaged with `list_reduce(list(e ORDER BY vec_id))` — the same
# sequential fold order as the Spark side, so every float matches
# bit-for-bit (the knn_ivf pattern, one more round).
_KMEANS_PREFIX_SQL = """
WITH v0 AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings
), v AS (
  SELECT vec_id, label, e,
         list_reduce(list_transform(e, x -> x * x), (x, y) -> x + y) AS nv
  FROM v0
), cent0 AS (
  SELECT label AS cl, list(e ORDER BY vec_id) AS vs FROM v GROUP BY label
), cent1 AS (
  SELECT cl,
         list_transform(
           list_reduce(vs, (a, b) -> list_transform(generate_series(1, len(a)), i -> a[i] + b[i])),
           x -> x / len(vs)) AS c
  FROM cent0
), centn1 AS (
  SELECT cl, c, list_reduce(list_transform(c, x -> x * x), (x, y) -> x + y) AS nc FROM cent1
), assign1 AS (
  SELECT vec_id, e, nv, cl FROM (
    SELECT v.vec_id, v.e, v.nv, c.cl,
           row_number() OVER (PARTITION BY v.vec_id ORDER BY
             (v.nv - 2 * list_reduce(list_transform(generate_series(1, len(v.e)), i -> v.e[i] * c.c[i]), (x, y) -> x + y) + c.nc) ASC,
             c.cl ASC) AS r
    FROM v, centn1 c
  ) WHERE r = 1
), cent0b AS (
  SELECT cl, list(e ORDER BY vec_id) AS vs FROM assign1 GROUP BY cl
), cent2 AS (
  SELECT cl,
         list_transform(
           list_reduce(vs, (a, b) -> list_transform(generate_series(1, len(a)), i -> a[i] + b[i])),
           x -> x / len(vs)) AS c
  FROM cent0b
), centn2 AS (
  SELECT cl, c, list_reduce(list_transform(c, x -> x * x), (x, y) -> x + y) AS nc FROM cent2
), assign2 AS (
  SELECT vec_id, e, nv, cl, dist FROM (
    SELECT v.vec_id, v.e, v.nv, c.cl,
           (v.nv - 2 * list_reduce(list_transform(generate_series(1, len(v.e)), i -> v.e[i] * c.c[i]), (x, y) -> x + y) + c.nc) AS dist,
           row_number() OVER (PARTITION BY v.vec_id ORDER BY
             (v.nv - 2 * list_reduce(list_transform(generate_series(1, len(v.e)), i -> v.e[i] * c.c[i]), (x, y) -> x + y) + c.nc) ASC,
             c.cl ASC) AS r
    FROM v, centn2 c
  ) WHERE r = 1
)
"""

EMBEDDING_CLUSTERS_SQL = _KMEANS_PREFIX_SQL + """
SELECT cluster_id, n_members, rep_id FROM (
  SELECT cl AS cluster_id, vec_id AS rep_id,
         count(*) OVER (PARTITION BY cl) AS n_members,
         row_number() OVER (PARTITION BY cl ORDER BY dist ASC, vec_id ASC) AS rr
  FROM assign2
) WHERE rr = 1
"""

CLUSTER_HEALTH_SQL = _KMEANS_PREFIX_SQL + """
, e AS (
  SELECT vec_id, cl, floor(dist * 1000000.0)::BIGINT AS err
  FROM assign2
)
SELECT cluster_id, n_members, sum_err_ppm,
       floor(sum_err_ppm / n_members)::BIGINT AS mean_err_ppm,
       worst_id, worst_err_ppm
FROM (
  SELECT cl AS cluster_id, vec_id AS worst_id, err AS worst_err_ppm,
         count(*) OVER (PARTITION BY cl)::BIGINT AS n_members,
         sum(err) OVER (PARTITION BY cl)::BIGINT AS sum_err_ppm,
         row_number() OVER (PARTITION BY cl
                            ORDER BY err DESC, vec_id ASC) AS rr
  FROM e
) WHERE rr = 1
"""

SEMDEDUP_PRUNE_SQL = _KMEANS_PREFIX_SQL + f"""
, csz AS (SELECT cl, count(*)::BIGINT AS n FROM assign2 GROUP BY cl)
, cap AS (SELECT greatest({CU.SKEW_CAP_FLOOR},
                          least({CU.SKEW_CAP_FACTOR} * sum(n) // count(*),
                                {CU.SKEW_CAP_CEIL})) AS c
          FROM csz)
, capped AS (SELECT csz.cl FROM csz, cap WHERE csz.n > cap.c)
, joinable AS (SELECT a.* FROM assign2 a
               WHERE a.cl NOT IN (SELECT cl FROM capped))
, dropped AS (
  SELECT DISTINCT a.vec_id AS vid
  FROM joinable a JOIN joinable b
    ON a.cl = b.cl AND a.vec_id <> b.vec_id
  WHERE (list_reduce(list_transform(generate_series(1, len(a.e)),
                                    i -> a.e[i] * b.e[i]),
                     (x, y) -> x + y)
         / (sqrt(a.nv) * sqrt(b.nv))) >= 0.2
    AND (b.dist > a.dist OR (b.dist = a.dist AND b.vec_id < a.vec_id))
)
SELECT a.vec_id, a.cl AS cluster_id,
       CASE WHEN d.vid IS NULL THEN 1 ELSE 0 END AS is_kept,
       CASE WHEN cp.cl IS NULL THEN 0 ELSE 1 END AS is_capped
FROM assign2 a LEFT JOIN dropped d ON d.vid = a.vec_id
LEFT JOIN capped cp ON cp.cl = a.cl
"""

CLUSTER_SAMPLE_SQL = _KMEANS_PREFIX_SQL + """
SELECT vec_id, cluster_id, draw_ppm FROM (
  SELECT vec_id, cl AS cluster_id,
         ('0x' || substr(md5('csamp:' || vec_id::VARCHAR), 1, 8))::BIGINT % 1000000 AS draw_ppm,
         row_number() OVER (PARTITION BY cl ORDER BY
           ('0x' || substr(md5('csamp:' || vec_id::VARCHAR), 1, 8))::BIGINT % 1000000 ASC,
           vec_id ASC) AS rr
  FROM assign2
) WHERE rr <= 30
"""


# ---------------------------------------------------------------------------
# retrieval (operators/retrieval.py): BM25 probe-query ranking — the
# corpus-inspection / contamination-forensics verb


_BM25_QUERIES = [
    (0, "table scan filter"),
    (1, "spark join shuffle"),
    (2, "window agg batch"),
]


def text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 documents for three probe queries. The query-term
    table broadcasts; the token explode is semi-restricted to query
    terms before any aggregate, so the tf shuffle carries matching
    postings only."""
    return RT.bm25_topk(_t(spark, sf_dir, "documents"), _BM25_QUERIES, k=10)


BM25_SQL = """
WITH q(query_id, term) AS (
  VALUES (0, 'table'), (0, 'scan'), (0, 'filter'),
         (1, 'spark'), (1, 'join'), (1, 'shuffle'),
         (2, 'window'), (2, 'agg'), (2, 'batch')
), s AS (
  SELECT count(*)::BIGINT AS n_docs,
         avg(len(string_split(text, ' '))) AS avgdl
  FROM documents
), tok AS (
  SELECT doc_id, len(ws) AS dl, unnest(ws) AS term
  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
), m AS (
  SELECT query_id, doc_id, term, dl, count(*) AS tf
  FROM tok JOIN q USING (term)
  GROUP BY 1, 2, 3, 4
), st AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM m GROUP BY 1
), sc AS (
  SELECT query_id, doc_id,
         sum(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
             * (tf / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)))) AS s_
  FROM m JOIN st USING (term), s
  GROUP BY 1, 2
)
SELECT query_id, doc_id, rank, round(s_, 6) AS score FROM (
  SELECT query_id, doc_id, s_,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY s_ DESC, doc_id) AS rank
  FROM sc
) WHERE rank <= 10
"""


def text_bm25_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 through the MATERIALIZED inverted index
    (operators/retrieval.py::bm25_index_write / bm25_topk_indexed):
    postings partitioned by term hash-bucket with df stored inline,
    searches read only the probed buckets (PartitionFilters,
    plan-asserted in test_retrieval.py). Same oracle as text_bm25 —
    the index round-trip must not change a single score."""
    work = _work_dir("bm25_idx_")
    RT.bm25_index_write(_t(spark, sf_dir, "documents"), work, n_buckets=16)
    return RT.bm25_topk_indexed(spark, work, _BM25_QUERIES, k=10, n_buckets=16)


def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 text ranking fused with exact-cosine
    vector ranking by reciprocal-rank fusion (rrf = sum over rankers
    of 1/(60 + rank) — the standard k=60 form). Query q uses probe
    text q AND probe vector q (documents and embeddings share ids),
    the two top-20 lists full-outer join on (query, doc), fused
    top-10 emitted. Deterministic end-to-end: both input rankings
    carry doc-id tiebreaks, and the fused score is computed in
    parts-per-million INTEGER arithmetic (floor(1e6/(60+rank)) per
    ranker, summed) — the score column and the ordering it drives
    are float-free, so no engine can disagree on a boundary.

    Scale: each ranker is its own already-bounded pipeline (BM25:
    broadcast-restricted postings; kNN: broadcast queries with
    optional map-side top-k); the fusion joins two Q x 20 frames —
    driver-free, broadcast-sized."""
    from pyspark.sql import Window as W

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    t = RT.bm25_topk(docs, _BM25_QUERIES, k=20).select(
        "query_id", "doc_id", F.col("rank").alias("rt")
    )
    v = SIM.knn_bruteforce(emb, [0, 1, 2], k=20).select(
        "query_id",
        F.col("neighbor_id").alias("doc_id"),
        F.col("rank").alias("rv"),
    )
    fused = t.join(v, ["query_id", "doc_id"], "full_outer").withColumn(
        "rrf_ppm",
        F.coalesce(F.expr("1000000L div (60 + rt)"), F.lit(0))
        + F.coalesce(F.expr("1000000L div (60 + rv)"), F.lit(0)),
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("rrf_ppm").desc(), F.col("doc_id")
    )
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("query_id", "doc_id", "rank", "rrf_ppm")
    )


HYBRID_RRF_SQL = f"""
WITH q(query_id, term) AS (
  VALUES (0, 'table'), (0, 'scan'), (0, 'filter'),
         (1, 'spark'), (1, 'join'), (1, 'shuffle'),
         (2, 'window'), (2, 'agg'), (2, 'batch')
), s AS (
  SELECT count(*)::BIGINT AS n_docs,
         avg(len(string_split(text, ' '))) AS avgdl
  FROM documents
), tok AS (
  SELECT doc_id, len(ws) AS dl, unnest(ws) AS term
  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
), m AS (
  SELECT query_id, doc_id, term, dl, count(*) AS tf
  FROM tok JOIN q USING (term)
  GROUP BY 1, 2, 3, 4
), st AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM m GROUP BY 1
), sc AS (
  SELECT query_id, doc_id,
         sum(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
             * (tf / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)))) AS s_
  FROM m JOIN st USING (term), s
  GROUP BY 1, 2
), tt AS (
  SELECT query_id, doc_id, rt FROM (
    SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY s_ DESC, doc_id) AS rt
    FROM sc
  ) WHERE rt <= 20
), ve AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), qv AS (
  SELECT vec_id AS query_id, e AS qe FROM ve WHERE vec_id IN (0, 1, 2)
), pairs AS (
  SELECT query_id, ve.vec_id AS neighbor_id,
         {_KNN_DOT.format(a="qe", b="e")} AS dp,
         {_KNN_DOT.format(a="qe", b="qe")} AS nq,
         {_KNN_DOT.format(a="e", b="e")} AS nv
  FROM qv, ve WHERE ve.vec_id != qv.query_id
), vv AS (
  SELECT query_id, doc_id, rv FROM (
    SELECT query_id, neighbor_id AS doc_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY dp / (sqrt(nq) * sqrt(nv)) DESC,
                                       neighbor_id) AS rv
    FROM pairs
  ) WHERE rv <= 20
), f AS (
  SELECT coalesce(tt.query_id, vv.query_id) AS query_id,
         coalesce(tt.doc_id, vv.doc_id) AS doc_id,
         coalesce(1000000 // (60 + rt), 0)
           + coalesce(1000000 // (60 + rv), 0) AS rrf_ppm
  FROM tt FULL OUTER JOIN vv
    ON tt.query_id = vv.query_id AND tt.doc_id = vv.doc_id
)
SELECT query_id, doc_id, rank, rrf_ppm FROM (
  SELECT query_id, doc_id, rrf_ppm,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY rrf_ppm DESC, doc_id) AS rank
  FROM f
) WHERE rank <= 10
"""


def trigram_search_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring search with trigram pre-filtering
    (operators/retrieval.py::trigram_search — the pg_trgm / Zoekt
    design): candidates = docs containing EVERY trigram of the
    pattern (broadcast join + count equality), exact `contains`
    verify only on candidates. The prefilter is lossless, so the
    oracle is plain `contains` over the corpus — the plan, not the
    answer, is what the index changes."""
    return RT.trigram_search(
        _t(spark, sf_dir, "documents"),
        [(0, "table"), (1, "fast merge"), (2, "row scan")],
    )


TRIGRAM_SQL = """
WITH p(pattern_id, pat) AS (
  VALUES (0, 'table'), (1, 'fast merge'), (2, 'row scan')
)
SELECT pattern_id, doc_id
FROM documents, p WHERE contains(text, pat)
"""


def trigram_search_indexed_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring search through the MATERIALIZED trigram index
    (operators/retrieval.py::trigram_index_write /
    trigram_search_indexed): postings partitioned by trigram
    hash-bucket, a g-trigram pattern reads at most g bucket
    directories (PartitionFilters, plan-asserted in
    test_retrieval.py). Lossless like the direct path, so the oracle
    is the same plain `contains` — the index changes the plan, not
    the answer."""
    docs = _t(spark, sf_dir, "documents")
    work = _work_dir("trgm_idx_")
    RT.trigram_index_write(docs, work, n_buckets=16)
    return RT.trigram_search_indexed(
        spark, work, docs,
        [(0, "table"), (1, "fast merge"), (2, "row scan")],
        n_buckets=16,
    )


def term_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index statistics page: per-term document frequency
    and collection frequency. One corpus-sized shuffle on uniform
    vocabulary keys, map-side combined; output is vocabulary-sized."""
    return RT.term_stats(_t(spark, sf_dir, "documents")).select(
        "term",
        F.col("df").cast("long").alias("df"),
        F.col("cf").cast("long").alias("cf"),
    )


TERM_STATS_SQL = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2
)
SELECT term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS cf
FROM tf GROUP BY 1
"""


def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing battery: deterministically augment each document
    with synthetic PII (the fixture corpus has none), scrub it with
    the typed-tag regex passes, and emit per-kind counts plus the
    scrubbed-text hash. Map-only, whole-stage codegen, no UDF."""
    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    aug = F.concat(
        F.col("text"),
        F.when(
            did % 3 < 2,
            F.concat(
                F.lit(" contact doc"), did.cast("string"),
                F.lit("@mail.example"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 2 == 0,
            F.concat(
                F.lit(" tel 555-010-"),
                F.lpad((did % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
        F.lit(" ip 10.0."),
        (did % 256).cast("string"),
        F.lit("."),
        ((did * 7) % 256).cast("string"),
        F.lit(" end"),
    )
    scrubbed = TX.pii_scrub(aug)
    return docs.select(
        "doc_id",
        TX.tag_count(scrubbed, "<EMAIL>").alias("n_emails"),
        TX.tag_count(scrubbed, "<PHONE>").alias("n_phones"),
        TX.tag_count(scrubbed, "<IP>").alias("n_ips"),
        F.md5(scrubbed).alias("scrub_hash"),
    )


PII_SCRUB_SQL = r"""
WITH aug AS (
  SELECT doc_id,
    text
    || CASE WHEN doc_id % 3 < 2
            THEN ' contact doc' || doc_id::VARCHAR || '@mail.example'
            ELSE '' END
    || CASE WHEN doc_id % 2 = 0
            THEN ' tel 555-010-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
            ELSE '' END
    || ' ip 10.0.' || (doc_id % 256)::VARCHAR || '.'
    || ((doc_id * 7) % 256)::VARCHAR || ' end' AS t
  FROM documents
), s AS (
  SELECT doc_id,
    regexp_replace(regexp_replace(regexp_replace(t,
      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      '\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b', '<PHONE>', 'g'),
      '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g') AS sc
  FROM aug
)
SELECT doc_id,
  ((len(sc) - len(replace(sc, '<EMAIL>', ''))) / 7)::BIGINT AS n_emails,
  ((len(sc) - len(replace(sc, '<PHONE>', ''))) / 7)::BIGINT AS n_phones,
  ((len(sc) - len(replace(sc, '<IP>', ''))) / 4)::BIGINT AS n_ips,
  md5(sc) AS scrub_hash
FROM s
"""


def passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level duplication profile: non-overlapping 8-word
    chunks hashed and counted corpus-wide; per document, the fraction
    of its passages duplicated anywhere in the corpus. The span-level
    dedup signal (license blocks, boilerplate) that document-level
    exact dedup misses."""
    return CU.passage_stats(_t(spark, sf_dir, "documents"), width=8)


PASSAGE_SQL = """
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
), px AS (
  SELECT doc_id,
         ('0x' || substr(md5('ps:' ||
           array_to_string(ws[i * 8 + 1 : i * 8 + 8], ' ')), 1, 15)
         )::BIGINT AS ph
  FROM (
    SELECT doc_id, ws,
           unnest(generate_series(0, (len(ws) - 1) // 8)) AS i
    FROM base
  )
), counts AS (
  SELECT ph, count(*) AS cnt FROM px GROUP BY 1
)
SELECT doc_id, count(*)::BIGINT AS n_passages,
       sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup,
       round(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END)::DOUBLE
             / count(*), 6) AS dup_frac
FROM px JOIN counts USING (ph)
GROUP BY 1
"""


def unigram_logprob_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean unigram log-probability per document under the corpus'
    own unigram LM — the perplexity-proxy quality score (rare-token
    soup scores low)."""
    return CU.unigram_logprob(_t(spark, sf_dir, "documents"))


UNIGRAM_SQL = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
), vocab AS (
  SELECT term, count(*)::BIGINT AS cf FROM tok GROUP BY 1
), tot AS (
  SELECT sum(cf)::BIGINT AS total_tokens FROM vocab
)
SELECT doc_id, count(*)::BIGINT AS n_tokens,
       round(sum(ln(cf::DOUBLE / total_tokens)) / count(*), 6)
         AS avg_logprob
FROM tok JOIN vocab USING (term), tot
GROUP BY 1
"""


def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END oracle-checked image path: deterministic PPM per
    doc id (pixel = integer formula of id/x/y/c), REAL nearest-
    neighbor resize to 3x2 through the binary codec (encode ->
    decode -> index-sample -> re-encode), then REAL decode again for
    channel means. The DuckDB oracle reproduces the sampled pixels
    with pure arithmetic — any codec/indexing bug breaks the hash.
    Blobs stay on the scan partitioning; only 6-pixel stats rows
    leave the stage."""
    from reader_spark.operators import multimodal as MM

    ids = DD.ensure_parallelism(
        _t(spark, sf_dir, "documents").select(
            F.col("doc_id").alias("media_id")
        )
    )
    # r12: fused synthesize -> resize -> stats kernel (one Python
    # boundary crossing instead of three MapInPandas nodes; same row
    # transforms, parity-tested in test_multimodal.py)
    stats = MM.synth_image_stats_resized(ids, 3, 2)
    return stats.filter(F.col("decoded")).select(
        "media_id",
        "width",
        "height",
        F.round(F.col("mean_r"), 6).alias("mean_r"),
        F.round(F.col("mean_g"), 6).alias("mean_g"),
        F.round(F.col("mean_b"), 6).alias("mean_b"),
    )


MULTIMODAL_RESIZE_SQL = """
WITH d AS (
  SELECT doc_id AS media_id, 4 + doc_id % 5 AS in_w, 2 + doc_id % 3 AS in_h
  FROM documents
), px AS (
  SELECT media_id, c.c AS c,
         (media_id * 7
          + least(CAST(floor((y.y + 0.5) * in_h / 2) AS BIGINT),
                  in_h - 1) * 13
          + least(CAST(floor((x.x + 0.5) * in_w / 3) AS BIGINT),
                  in_w - 1) * 17
          + c.c * 29) % 256 AS v
  FROM d,
       (SELECT unnest(generate_series(0, 1)) AS y) y,
       (SELECT unnest(generate_series(0, 2)) AS x) x,
       (SELECT unnest(generate_series(0, 2)) AS c) c
)
SELECT media_id, 3 AS width, 2 AS height,
       round(sum(CASE WHEN c = 0 THEN v END)::DOUBLE / 6, 6) AS mean_r,
       round(sum(CASE WHEN c = 1 THEN v END)::DOUBLE / 6, 6) AS mean_g,
       round(sum(CASE WHEN c = 2 THEN v END)::DOUBLE / 6, 6) AS mean_b
FROM px GROUP BY 1
"""


def audio_spectrum_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END oracle-checked audio path: deterministic 64-sample
    PCM16 WAV per doc id, REAL decode + rFFT spectral features
    (dominant bin, spectral centroid). The oracle recomputes the DFT
    term-by-term in SQL; FFT-vs-naive-DFT float drift is ~1e-13
    relative, absorbed by the 3 dp edge rounding."""
    from reader_spark.operators import multimodal as MM

    ids = DD.ensure_parallelism(
        _t(spark, sf_dir, "documents").select(
            F.col("doc_id").alias("media_id")
        )
    )
    # r12: fused synthesize -> spectrum kernel (one Python crossing)
    sp = MM.synth_wav_spectrum(ids)
    return sp.filter(F.col("decoded")).select(
        "media_id",
        "sample_rate",
        F.round(F.col("dominant_hz"), 3).alias("dominant_hz"),
        F.round(F.col("spectral_centroid"), 3).alias("spectral_centroid"),
    )


AUDIO_SPECTRUM_SQL = """
WITH m AS (
  SELECT doc_id AS media_id FROM documents
), sp AS (
  SELECT media_id, k.k AS k,
         sqrt(
           pow(list_reduce(list_transform(generate_series(0, 63),
             i -> (((media_id * 31 + i * i * 7) % 2001) - 1000)
                  * cos(2 * pi() * k.k * i / 64)), (a, b) -> a + b), 2)
         + pow(list_reduce(list_transform(generate_series(0, 63),
             i -> (((media_id * 31 + i * i * 7) % 2001) - 1000)
                  * sin(2 * pi() * k.k * i / 64)), (a, b) -> a + b), 2)
         ) AS mag
  FROM m, (SELECT unnest(generate_series(0, 32)) AS k) k
), dom AS (
  SELECT media_id, k AS dk FROM (
    SELECT media_id, k,
           row_number() OVER (PARTITION BY media_id
                              ORDER BY mag DESC, k) AS rn
    FROM sp WHERE k >= 1
  ) WHERE rn = 1
), cen AS (
  SELECT media_id, sum(k * 125.0 * mag) / sum(mag) AS c FROM sp GROUP BY 1
)
SELECT m.media_id AS media_id, 8000 AS sample_rate,
       round(dk * 125.0, 3) AS dominant_hz,
       round(c, 3) AS spectral_centroid
FROM m JOIN dom USING (media_id) JOIN cen USING (media_id)
"""


def image_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END oracle-checked image dedup: deterministic PPM per
    doc id -> REAL decode -> integer-luma grayscale -> 9x7 nearest-
    neighbor sample -> 56-bit perceptual difference-hash
    (multimodal.image_dhash), then exact-hash bucket dedup: per
    image its canonical representative (min id sharing the hash) and
    cluster size. The DuckDB oracle reproduces every hash bit from
    the pixel formula with pure arithmetic — any codec, grayscale,
    sampling or bit-packing bug breaks the hash.

    Scale: hashing is map-only on the scan partitioning (blobs never
    shuffle); dedup is ONE uniform groupBy on the 56-bit key — the
    shape CommonCrawl-scale image dedup actually uses (hamming
    NEAR-dup composes via simhash_candidate_pairs(bits=56), covered
    in test_multimodal.py — pair emission is quadratic in cluster
    structure, so the catalog row stays with the linear bucket
    form)."""
    from pyspark.sql import Window as W
    from reader_spark.operators import multimodal as MM

    ids = DD.ensure_parallelism(
        _t(spark, sf_dir, "documents").select(F.col("doc_id").alias("media_id"))
    )
    # r12: fused synthesize -> dhash kernel (one Python crossing)
    hashes = MM.synth_image_dhash(ids).filter(F.col("decoded"))
    w = W.partitionBy("dhash")
    return hashes.select(
        "media_id",
        "dhash",
        F.min("media_id").over(w).alias("canonical_id"),
        F.count("*").over(w).alias("cluster_size"),
    )


IMAGE_PHASH_SQL = """
WITH d AS (
  SELECT doc_id AS media_id, 4 + doc_id % 5 AS w, 2 + doc_id % 3 AS h
  FROM documents
), g AS (
  SELECT media_id, y.y AS y, x.x AS x,
    (((media_id * 7
       + least(CAST(floor((y.y + 0.5) * h / 7) AS BIGINT), h - 1) * 13
       + least(CAST(floor((x.x + 0.5) * w / 9) AS BIGINT), w - 1) * 17)
      % 256) * 299
     + ((media_id * 7
       + least(CAST(floor((y.y + 0.5) * h / 7) AS BIGINT), h - 1) * 13
       + least(CAST(floor((x.x + 0.5) * w / 9) AS BIGINT), w - 1) * 17
       + 29) % 256) * 587
     + ((media_id * 7
       + least(CAST(floor((y.y + 0.5) * h / 7) AS BIGINT), h - 1) * 13
       + least(CAST(floor((x.x + 0.5) * w / 9) AS BIGINT), w - 1) * 17
       + 58) % 256) * 114) // 1000 AS gv
  FROM d,
       (SELECT unnest(generate_series(0, 6)) AS y) y,
       (SELECT unnest(generate_series(0, 8)) AS x) x
), hashes AS (
  SELECT a.media_id,
         sum(CASE WHEN b.gv > a.gv
                  THEN 1::BIGINT << (a.y * 8 + a.x) ELSE 0 END)::BIGINT
           AS dhash
  FROM g a JOIN g b
    ON a.media_id = b.media_id AND a.y = b.y AND b.x = a.x + 1
  WHERE a.x < 8
  GROUP BY 1
)
SELECT media_id, dhash,
       min(media_id) OVER (PARTITION BY dhash) AS canonical_id,
       count(*) OVER (PARTITION BY dhash) AS cluster_size
FROM hashes
"""


def audio_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END oracle-checked audio dedup: deterministic 256-
    sample PCM WAV per doc id -> REAL decode -> per-frame rFFT ->
    dominant-bin constellation fingerprint
    (multimodal.audio_fingerprint) -> fingerprint buckets (canonical
    min id + cluster size). Identical audio ALWAYS shares a bucket
    (the signal formula has period 2001 in the id, so genuine
    duplicate clips exist in-fixture); a coarse 4-bin constellation
    also co-buckets spectrally-similar clips — the LSH-candidate
    economics, with full-spectrum comparison as the verify stage
    when exactness is needed. The DuckDB oracle recomputes every
    DFT term from the sample formula — naive sequential sums vs
    numpy's FFT butterflies differ in the last ulp, but the emitted
    value is the ARGMAX BIN, stable for integer pseudo-noise (the
    same robustness contract audio_spectrum's dominant_hz has held
    across rounds)."""
    from pyspark.sql import Window as W

    from reader_spark.operators import multimodal as MM

    ids = DD.ensure_parallelism(
        _t(spark, sf_dir, "documents").select(F.col("doc_id").alias("media_id"))
    )
    # r12: fused synthesize -> fingerprint kernel (one Python crossing)
    fp = MM.synth_wav_fingerprint(ids, n_samples=256).filter(
        F.col("decoded")
    )
    w = W.partitionBy("fingerprint")
    return fp.select(
        "media_id",
        "fingerprint",
        F.min("media_id").over(w).alias("canonical_id"),
        F.count("*").over(w).alias("cluster_size"),
    )


AUDIO_FP_SQL = """
WITH m AS (
  SELECT doc_id AS media_id FROM documents
), sp AS (
  SELECT media_id, f.f AS f, k.k AS k,
         pow(list_reduce(list_transform(generate_series(0, 63),
           i -> (((media_id * 31 + (f.f * 64 + i) * (f.f * 64 + i) * 7)
                  % 2001) - 1000)
                * cos(2 * pi() * k.k * i / 64)), (a, b) -> a + b), 2)
       + pow(list_reduce(list_transform(generate_series(0, 63),
           i -> (((media_id * 31 + (f.f * 64 + i) * (f.f * 64 + i) * 7)
                  % 2001) - 1000)
                * sin(2 * pi() * k.k * i / 64)), (a, b) -> a + b), 2)
         AS mag2
  FROM m,
       (SELECT unnest(generate_series(0, 3)) AS f) f,
       (SELECT unnest(generate_series(1, 32)) AS k) k
), dom AS (
  SELECT media_id, f, k AS bin FROM (
    SELECT media_id, f, k,
           row_number() OVER (PARTITION BY media_id, f
                              ORDER BY mag2 DESC, k) AS rn
    FROM sp
  ) WHERE rn = 1
), fp AS (
  SELECT media_id,
         sum(bin * (1::BIGINT << (6 * f)))::BIGINT AS fingerprint
  FROM dom GROUP BY 1
)
SELECT media_id, fingerprint,
       min(media_id) OVER (PARTITION BY fingerprint) AS canonical_id,
       count(*) OVER (PARTITION BY fingerprint) AS cluster_size
FROM fp
"""


def video_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END oracle-checked video dedup: deterministic PPMV
    container per doc id -> REAL parse + per-frame decode -> the
    SAME 56-bit dHash as still images per frame
    (multimodal.video_dhash) -> video fingerprint = md5 of the
    frame-ordered hash sequence -> fingerprint buckets. Re-encoded
    identical frame sequences share a bucket; temporal re-orderings
    do not. The oracle reproduces every frame's hash bits from the
    pixel formula and re-aggregates the sequence in SQL. Bounded to
    the first 100 docs like video_frames (per-pixel SQL oracle
    cost, not an engine property)."""
    from pyspark.sql import Window as W

    from reader_spark.operators import multimodal as MM

    ids = DD.ensure_parallelism(
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 100)
        .select(F.col("doc_id").alias("media_id"))
    )
    # r12: fused synthesize -> per-frame dhash kernel (one crossing)
    fd = MM.synth_video_dhash(ids)
    fp = fd.groupBy("media_id").agg(
        F.md5(
            F.concat_ws(
                "_",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("frame_id", "dhash"))),
                    lambda s: s["dhash"].cast("string"),
                ),
            )
        ).alias("fingerprint")
    )
    w = W.partitionBy("fingerprint")
    return fp.select(
        "media_id",
        "fingerprint",
        F.min("media_id").over(w).alias("canonical_id"),
        F.count("*").over(w).alias("cluster_size"),
    )


VIDEO_FP_SQL = """
WITH d AS (
  SELECT doc_id AS media_id, 4 + doc_id % 5 AS w, 2 + doc_id % 3 AS h,
         3 + doc_id % 3 AS n_frames
  FROM documents WHERE doc_id < 100
), g AS (
  SELECT media_id, f.f AS f, y.y AS y, x.x AS x,
    (((media_id * 7 + f.f * 41
       + least(CAST(floor((y.y + 0.5) * h / 7) AS BIGINT), h - 1) * 13
       + least(CAST(floor((x.x + 0.5) * w / 9) AS BIGINT), w - 1) * 17)
      % 256) * 299
     + ((media_id * 7 + f.f * 41
       + least(CAST(floor((y.y + 0.5) * h / 7) AS BIGINT), h - 1) * 13
       + least(CAST(floor((x.x + 0.5) * w / 9) AS BIGINT), w - 1) * 17
       + 29) % 256) * 587
     + ((media_id * 7 + f.f * 41
       + least(CAST(floor((y.y + 0.5) * h / 7) AS BIGINT), h - 1) * 13
       + least(CAST(floor((x.x + 0.5) * w / 9) AS BIGINT), w - 1) * 17
       + 58) % 256) * 114) // 1000 AS gv
  FROM d,
       (SELECT unnest(generate_series(0, 4)) AS f) f,
       (SELECT unnest(generate_series(0, 6)) AS y) y,
       (SELECT unnest(generate_series(0, 8)) AS x) x
  WHERE f.f < n_frames
), framehash AS (
  SELECT a.media_id, a.f,
         sum(CASE WHEN b.gv > a.gv
                  THEN 1::BIGINT << (a.y * 8 + a.x) ELSE 0 END)::BIGINT
           AS dhash
  FROM g a JOIN g b
    ON a.media_id = b.media_id AND a.f = b.f AND a.y = b.y
   AND b.x = a.x + 1
  WHERE a.x < 8
  GROUP BY 1, 2
), fp AS (
  SELECT media_id,
         md5(string_agg(dhash::VARCHAR, '_' ORDER BY f)) AS fingerprint
  FROM framehash GROUP BY 1
)
SELECT media_id, fingerprint,
       min(media_id) OVER (PARTITION BY fingerprint) AS canonical_id,
       count(*) OVER (PARTITION BY fingerprint) AS cluster_size
FROM fp
"""


def frame_match_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal provenance search: probe STILL images (ids < 5)
    against every sampled VIDEO frame (ids < 100) by shared
    perceptual dHash — "which videos contain (a near-encode of)
    this image?". Both sides hash through their REAL decode paths
    with the SAME 56-bit dHash; the search itself is one equi-join
    on the hash key (uniform, broadcast-size probe side). At scale
    this is the frame-level dedup/IP-sweep a video corpus runs
    against an image blocklist — the join key is the fingerprint,
    media bytes never move."""
    from reader_spark.operators import multimodal as MM

    docs = _t(spark, sf_dir, "documents")
    # r12: both sides run their fused synthesize->dhash kernels (one
    # Python crossing each instead of two)
    probes = MM.synth_image_dhash(
        DD.ensure_parallelism(
            docs.filter(F.col("doc_id") < 5).select(
                F.col("doc_id").alias("media_id")
            )
        )
    ).filter(F.col("decoded")).select(
        F.col("media_id").alias("probe_id"), "dhash"
    )
    frames = MM.synth_video_dhash(
        DD.ensure_parallelism(
            docs.filter(F.col("doc_id") < 100).select(
                F.col("doc_id").alias("media_id")
            )
        )
    ).select(F.col("media_id").alias("video_id"), "frame_id", "dhash")
    return frames.join(F.broadcast(probes), "dhash").select(
        "probe_id", "video_id", "frame_id", "dhash"
    )


FRAME_MATCH_SQL = """
WITH di AS (
  SELECT doc_id AS media_id, 4 + doc_id % 5 AS w, 2 + doc_id % 3 AS h
  FROM documents WHERE doc_id < 5
), gi AS (
  SELECT media_id, y.y AS y, x.x AS x,
    (((media_id * 7
       + least(CAST(floor((y.y + 0.5) * h / 7) AS BIGINT), h - 1) * 13
       + least(CAST(floor((x.x + 0.5) * w / 9) AS BIGINT), w - 1) * 17)
      % 256) * 299
     + ((media_id * 7
       + least(CAST(floor((y.y + 0.5) * h / 7) AS BIGINT), h - 1) * 13
       + least(CAST(floor((x.x + 0.5) * w / 9) AS BIGINT), w - 1) * 17
       + 29) % 256) * 587
     + ((media_id * 7
       + least(CAST(floor((y.y + 0.5) * h / 7) AS BIGINT), h - 1) * 13
       + least(CAST(floor((x.x + 0.5) * w / 9) AS BIGINT), w - 1) * 17
       + 58) % 256) * 114) // 1000 AS gv
  FROM di,
       (SELECT unnest(generate_series(0, 6)) AS y) y,
       (SELECT unnest(generate_series(0, 8)) AS x) x
), probes AS (
  SELECT a.media_id AS probe_id,
         sum(CASE WHEN b.gv > a.gv
                  THEN 1::BIGINT << (a.y * 8 + a.x) ELSE 0 END)::BIGINT
           AS dhash
  FROM gi a JOIN gi b
    ON a.media_id = b.media_id AND a.y = b.y AND b.x = a.x + 1
  WHERE a.x < 8
  GROUP BY 1
), dv AS (
  SELECT doc_id AS media_id, 4 + doc_id % 5 AS w, 2 + doc_id % 3 AS h,
         3 + doc_id % 3 AS n_frames
  FROM documents WHERE doc_id < 100
), gv AS (
  SELECT media_id, f.f AS f, y.y AS y, x.x AS x,
    (((media_id * 7 + f.f * 41
       + least(CAST(floor((y.y + 0.5) * h / 7) AS BIGINT), h - 1) * 13
       + least(CAST(floor((x.x + 0.5) * w / 9) AS BIGINT), w - 1) * 17)
      % 256) * 299
     + ((media_id * 7 + f.f * 41
       + least(CAST(floor((y.y + 0.5) * h / 7) AS BIGINT), h - 1) * 13
       + least(CAST(floor((x.x + 0.5) * w / 9) AS BIGINT), w - 1) * 17
       + 29) % 256) * 587
     + ((media_id * 7 + f.f * 41
       + least(CAST(floor((y.y + 0.5) * h / 7) AS BIGINT), h - 1) * 13
       + least(CAST(floor((x.x + 0.5) * w / 9) AS BIGINT), w - 1) * 17
       + 58) % 256) * 114) // 1000 AS gvv
  FROM dv,
       (SELECT unnest(generate_series(0, 4)) AS f) f,
       (SELECT unnest(generate_series(0, 6)) AS y) y,
       (SELECT unnest(generate_series(0, 8)) AS x) x
  WHERE f.f < n_frames
), framehash AS (
  SELECT a.media_id AS video_id, a.f AS frame_id,
         sum(CASE WHEN b.gvv > a.gvv
                  THEN 1::BIGINT << (a.y * 8 + a.x) ELSE 0 END)::BIGINT
           AS dhash
  FROM gv a JOIN gv b
    ON a.media_id = b.media_id AND a.f = b.f AND a.y = b.y
   AND b.x = a.x + 1
  WHERE a.x < 8
  GROUP BY 1, 2
)
SELECT probe_id, video_id, frame_id, dhash
FROM framehash JOIN probes USING (dhash)
"""


def duplicate_spans_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication with OVERLAPPING 8-token windows
    + per-doc merged-span coverage (operators/curation.py::
    duplicate_spans — the Lee et al. exact-substring dedup shape).
    Catches duplicated passages that straddle fixed chunk
    boundaries, which passage_dedup's non-overlapping chunks miss."""
    return CU.duplicate_spans(_t(spark, sf_dir, "documents"), width=8)


DUP_SPANS_SQL = """
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
), lens AS (
  SELECT doc_id, len(ws)::BIGINT AS n_tokens FROM base
), spans AS (
  SELECT doc_id, i,
         ('0x' || substr(md5('sp:' ||
            array_to_string(ws[i + 1 : i + 8], ' ')), 1, 15))::BIGINT AS sh
  FROM (
    SELECT doc_id, ws, unnest(generate_series(0, len(ws) - 8)) AS i
    FROM base WHERE len(ws) >= 8
  )
), counts AS (
  SELECT sh, count(*) AS cnt FROM spans GROUP BY 1
), dup AS (
  SELECT doc_id, i AS s FROM spans JOIN counts USING (sh) WHERE cnt > 1
), isl AS (
  SELECT doc_id, s,
         CASE WHEN max(s + 8) OVER (
                PARTITION BY doc_id ORDER BY s
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
              OR s > max(s + 8) OVER (
                PARTITION BY doc_id ORDER BY s
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         THEN 1 ELSE 0 END AS new_island
  FROM dup
), isl2 AS (
  SELECT doc_id, s,
         sum(new_island) OVER (PARTITION BY doc_id ORDER BY s) AS island
  FROM isl
), cov AS (
  SELECT doc_id, sum(span_tokens)::BIGINT AS dup_tokens FROM (
    SELECT doc_id, island, max(s) + 8 - min(s) AS span_tokens
    FROM isl2 GROUP BY 1, 2
  ) GROUP BY 1
)
SELECT l.doc_id AS doc_id, n_tokens,
       coalesce(dup_tokens, 0)::BIGINT AS dup_tokens,
       round(coalesce(dup_tokens, 0)::DOUBLE / n_tokens, 6) AS dup_frac
FROM lens l LEFT JOIN cov ON l.doc_id = cov.doc_id
"""


def remove_dup_spans_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Lee et al. EXCISION pass paired with duplicate_spans'
    report (operators/curation.py::remove_duplicate_spans): every
    merged duplicated island's tokens are cut from the document and
    the cleaned text returns as an md5 (kept + dup == total by
    construction). The oracle rebuilds the islands and re-joins the
    surviving tokens position-ordered."""
    return CU.remove_duplicate_spans(
        _t(spark, sf_dir, "documents"), width=8
    )


REMOVE_DUP_SPANS_SQL = """
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
), spans AS (
  SELECT doc_id, i,
         ('0x' || substr(md5('sp:' ||
            array_to_string(ws[i + 1 : i + 8], ' ')), 1, 15))::BIGINT AS sh
  FROM (
    SELECT doc_id, ws, unnest(generate_series(0, len(ws) - 8)) AS i
    FROM base WHERE len(ws) >= 8
  )
), counts AS (
  SELECT sh, count(*) AS cnt FROM spans GROUP BY 1
), dup AS (
  SELECT doc_id, i AS s FROM spans JOIN counts USING (sh) WHERE cnt > 1
), isl AS (
  SELECT doc_id, s,
         CASE WHEN max(s + 8) OVER (
                PARTITION BY doc_id ORDER BY s
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
              OR s > max(s + 8) OVER (
                PARTITION BY doc_id ORDER BY s
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         THEN 1 ELSE 0 END AS new_island
  FROM dup
), isl2 AS (
  SELECT doc_id, s,
         sum(new_island) OVER (PARTITION BY doc_id ORDER BY s) AS island
  FROM isl
), iv AS (
  SELECT doc_id, min(s) AS st, max(s) + 8 AS en
  FROM isl2 GROUP BY doc_id, island
), toks AS (
  SELECT doc_id, unnest(ws) AS tok,
         unnest(generate_series(0, len(ws) - 1)) AS pos
  FROM base
), kept AS (
  SELECT t.doc_id, t.tok, t.pos
  FROM toks t
  WHERE NOT EXISTS (
    SELECT 1 FROM iv
    WHERE iv.doc_id = t.doc_id AND t.pos >= iv.st AND t.pos < iv.en
  )
), clean AS (
  SELECT doc_id,
         count(*)::BIGINT AS kept_tokens,
         string_agg(tok, ' ' ORDER BY pos) AS ct
  FROM kept GROUP BY 1
)
SELECT b.doc_id AS doc_id,
       len(b.ws)::BIGINT AS n_tokens,
       coalesce(kept_tokens, 0)::BIGINT AS kept_tokens,
       md5(coalesce(ct, '')) AS clean_hash
FROM base b LEFT JOIN clean USING (doc_id)
"""


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment pairs (operators/dedup.py::
    containment_pairs): docs whose rare 3-grams are >= 50% contained
    in another doc — the doc-inside-doc relation Jaccard misses.
    Prefix-filtered at gram df <= 100 to bound the join fan-out."""
    return DD.containment_pairs(
        _t(spark, sf_dir, "documents"),
        n=3,
        min_containment=0.5,
        max_gram_df=100,
    )


CONTAINMENT_PAIRS_SQL = """
WITH g AS (
  SELECT doc_id,
         ('0x' || substr(md5('ct:' || gram), 1, 15))::BIGINT AS gh
  FROM (
    SELECT doc_id,
           unnest(CASE WHEN len(ws) >= 3 THEN list_distinct(list_transform(
             generate_series(1, len(ws) - 2),
             i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2]))
             ELSE []::VARCHAR[] END) AS gram
    FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
  )
), dfreq AS (
  SELECT gh, count(*) AS df FROM g GROUP BY 1
), rare AS (
  SELECT doc_id, g.gh FROM g JOIN dfreq USING (gh) WHERE df <= 100
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS inter
  FROM rare a JOIN rare b ON a.gh = b.gh AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
), tot AS (
  SELECT doc_id AS doc_a, count(*)::BIGINT AS n_a FROM g GROUP BY 1
)
SELECT doc_a, doc_b, inter, n_a,
       round(inter::DOUBLE / n_a, 6) AS containment
FROM inter JOIN tot USING (doc_a)
WHERE round(inter::DOUBLE / n_a, 6) >= 0.5
"""


def shard_pack_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized training shards: the shard_pack assignment joined
    back to the text, each shard's documents concatenated IN id ORDER
    (array_sort over (doc_id, text) structs -> the deterministic
    ordered aggregation DuckDB expresses as string_agg ... ORDER BY).
    Per-shard state is bounded by the token budget, so the
    collect_list never exceeds ~budget tokens — safe at any corpus
    size."""
    docs = _t(spark, sf_dir, "documents")
    shards = TX.shard_pack(docs, budget_tokens=4000)
    joined = shards.join(docs.select("doc_id", "text"), "doc_id")
    packed = F.transform(
        F.array_sort(F.collect_list(F.struct("doc_id", "text"))),
        lambda s: s["text"],
    )
    return joined.groupBy("shard_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.md5(F.concat_ws(" ", packed)).alias("pack_hash"),
    )


SHARD_CONCAT_SQL = """
WITH p AS (
  SELECT doc_id, n_tokens,
         coalesce((sum(n_tokens) OVER (ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) // 4000),
            0)::BIGINT AS shard_id
  FROM (SELECT doc_id,
               length(regexp_split_to_array(trim(text), '\\s+'))::BIGINT
                 AS n_tokens
        FROM documents)
)
SELECT shard_id, count(*)::BIGINT AS n_docs,
       sum(n_tokens)::BIGINT AS total_tokens,
       md5(string_agg(text, ' ' ORDER BY doc_id)) AS pack_hash
FROM p JOIN documents USING (doc_id)
GROUP BY 1
"""


def source_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source curation report — the dashboard a corpus owner
    reads before mixing sources: doc count, mean quality score, token
    distribution (mean / exact p50 / p95), and the exact-duplicate
    fraction (md5 window count > 1). One uniform-hash window shuffle
    plus one tiny source aggregate; the approximate-percentile
    variant (percentile_approx) is the 100 TB swap, exact is the
    oracle-checkable baseline."""
    from pyspark.sql import Window as W

    docs = _t(spark, sf_dir, "documents")
    per = docs.select(
        "source",
        TX.quality_score(F.col("text")).alias("q"),
        TX.token_count_ws(F.col("text")).alias("toks"),
        F.md5(F.col("text")).alias("h"),
    )
    dup = per.withColumn("copies", F.count("*").over(W.partitionBy("h")))
    return dup.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("q"), 6).alias("avg_quality"),
        F.round(F.avg("toks"), 6).alias("avg_tokens"),
        F.round(F.expr("percentile(toks, 0.5)"), 6).alias("p50_tokens"),
        F.round(F.expr("percentile(toks, 0.95)"), 6).alias("p95_tokens"),
        F.round(
            F.sum(F.when(F.col("copies") > 1, 1).otherwise(0))
            / F.count("*"),
            6,
        ).alias("dup_frac"),
    )


SOURCE_REPORT_SQL = f"""
WITH p0 AS (
  SELECT source, text, ' ' || lower(text) || ' ' AS p FROM documents
), b AS (
  SELECT source,
         -- quality_score rounds per doc (its cross-engine contract),
         -- so the report averages the same 6 dp grid on both engines
         round(
         0.4 * least(1.0, length(regexp_split_to_array(trim(text), '\\s+'))::DOUBLE / 100.0)
       + 0.4 * least(1.0, 8.0 * ({_STOP_SUM})::DOUBLE
           / length(regexp_split_to_array(trim(text), '\\s+'))::DOUBLE)
       + 0.2 * (1.0 - least(1.0, 4.0
           * (length(text) - length(regexp_replace(text, '[\\.\\,\\;\\:\\!\\?]', '', 'g')))::DOUBLE
           / length(text)::DOUBLE)), 6) AS q,
         length(regexp_split_to_array(trim(text), '\\s+'))::BIGINT AS toks,
         count(*) OVER (PARTITION BY md5(text)) AS copies
  FROM p0
)
SELECT source, count(*)::BIGINT AS n_docs,
       round(avg(q), 6) AS avg_quality,
       round(avg(toks), 6) AS avg_tokens,
       round(quantile_cont(toks, 0.5), 6) AS p50_tokens,
       round(quantile_cont(toks, 0.95), 6) AS p95_tokens,
       round(sum(CASE WHEN copies > 1 THEN 1 ELSE 0 END)::DOUBLE
             / count(*), 6) AS dup_frac
FROM b GROUP BY 1
"""


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-vs-corpus dedup, md5-banded so it has a
    full oracle: docs with doc_id % 10 >= 8 play the incoming delta,
    the rest are the existing corpus whose DISTINCT band buckets form
    the index; an incoming doc survives iff every band misses. At
    scale the index is the refreshed offline artifact; the delta-side
    joins are uniform-key and index-size-gated."""
    docs = _t(spark, sf_dir, "documents")
    # ONE signature pass over the whole corpus, split by id afterward
    # (narrow persisted frame, same contract as the other dedup
    # queries): separate minhash calls on existing/incoming would
    # tokenize+hash the corpus twice. Measured 1.25x at sf0.1; at
    # scale it halves the dominant md5 scan.
    sigs = pin(DD.minhash_signature(docs, num_hashes=_MH_K))
    index = DD.band_index(
        sigs.filter(F.col("doc_id") % 10 < 8),
        num_hashes=_MH_K,
        band_size=_MH_BAND,
    )
    survivors = DD.incremental_dedup_filter(
        sigs.filter(F.col("doc_id") % 10 >= 8),
        index,
        num_hashes=_MH_K,
        band_size=_MH_BAND,
    )
    return survivors.select("doc_id")


INCREMENTAL_SQL = _MH_CTE + """
, hit AS (
  SELECT DISTINCT i.doc_id
  FROM bands i JOIN bands e
    ON i.band_id = e.band_id AND i.band_key = e.band_key
  WHERE i.doc_id % 10 >= 8 AND e.doc_id % 10 < 8
)
SELECT doc_id FROM documents
WHERE doc_id % 10 >= 8 AND doc_id NOT IN (SELECT doc_id FROM hit)
"""


# ---------------------------------------------------------------------------
# round-4: context chunking, mixture planning, epoch shuffle,
# quality-aware canonical selection, phrase mining, sliding windows,
# composed IVF x SQ8 ANN


def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping context-window chunking (width 24, overlap 8):
    the pass that precedes embedding/retrieval-index builds. Pure
    scan-stage array arithmetic — split once, sequence over chunk
    ordinals, slice + hash per chunk; NO shuffle in the plan."""
    return CU.chunk_documents(
        _t(spark, sf_dir, "documents"), width=24, overlap=8
    )


CHUNKS_SQL = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
), n AS (
  SELECT doc_id, ws,
         CASE WHEN len(ws) <= 24 THEN 1
              ELSE ceil((len(ws) - 24) / 16.0)::BIGINT + 1 END AS n_chunks
  FROM t
), e AS (
  SELECT doc_id, ws,
         unnest(generate_series(0, n_chunks - 1)) AS chunk_id
  FROM n
)
SELECT doc_id, chunk_id,
       len(list_slice(ws, chunk_id * 16 + 1, chunk_id * 16 + 24)) AS n_chunk_tokens,
       md5(array_to_string(list_slice(ws, chunk_id * 16 + 1, chunk_id * 16 + 24), ' ')) AS chunk_hash
FROM e
"""


def canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware survivor selection — the step AFTER cluster
    assignment that picks which document each near-dup cluster keeps:
    highest quality_score wins, ties to the smallest doc_id. One
    struct-max aggregate over the component map (max(struct(quality,
    -doc_id)) == ORDER BY quality DESC, doc_id ASC, but it
    partial-aggregates map-side where a rank window could not)."""
    docs = _t(spark, sf_dir, "documents")
    base = pin(DD.token_hashes(docs))
    sigs = pin(DD.minhash_signature(base, num_hashes=_MH_K, hashes_col="toks"))
    pairs = DD.lsh_candidate_pairs(sigs, num_hashes=_MH_K, band_size=_MH_BAND)
    verified = DD.jaccard_verify(pairs, docs, threshold=0.8, toks=base)
    comp = DD.connected_components(verified)
    q = docs.select("doc_id", TX.quality_score(F.col("text")).alias("quality"))
    members = q.join(comp, q.doc_id == comp.node, "left").select(
        "doc_id",
        "quality",
        F.coalesce(F.col("label"), F.col("doc_id")).alias("component_id"),
    )
    best = members.groupBy("component_id").agg(
        F.count("*").alias("n_members"),
        F.max(
            F.struct(F.col("quality"), (-F.col("doc_id")).alias("neg_id"))
        ).alias("b"),
    )
    return best.select(
        "component_id",
        (-F.col("b.neg_id")).cast("long").alias("kept_doc_id"),
        "n_members",
        F.col("b.quality").alias("best_quality"),
    )


_COMP_CTES = DEDUP_COMPONENTS_SQL.split("SELECT docs.doc_id")[0]

CANONICAL_SQL = _COMP_CTES + f"""
, qual AS (
  SELECT doc_id,
         round(
         0.4 * least(1.0, length(regexp_split_to_array(trim(text), '\\s+'))::DOUBLE / 100.0)
       + 0.4 * least(1.0, 8.0 * ({_STOP_SUM})::DOUBLE
           / length(regexp_split_to_array(trim(text), '\\s+'))::DOUBLE)
       + 0.2 * (1.0 - least(1.0, 4.0
           * (length(text) - length(regexp_replace(text, '[\\.\\,\\;\\:\\!\\?]', '', 'g')))::DOUBLE
           / length(text)::DOUBLE)), 6) AS quality
  FROM (SELECT doc_id, text, ' ' || lower(text) || ' ' AS p FROM documents)
), compmap AS (
  SELECT docs.doc_id, coalesce(mr.comp, docs.doc_id) AS component_id
  FROM documents docs
  LEFT JOIN (SELECT n, min(m) AS comp FROM reach GROUP BY n) mr
    ON mr.n = docs.doc_id
), ranked AS (
  SELECT component_id, cm.doc_id, quality,
         row_number() OVER (PARTITION BY component_id
                            ORDER BY quality DESC, cm.doc_id ASC) AS r,
         count(*) OVER (PARTITION BY component_id) AS n_members
  FROM compmap cm JOIN qual ON qual.doc_id = cm.doc_id
)
SELECT component_id, doc_id AS kept_doc_id, n_members, quality AS best_quality
FROM ranked WHERE r = 1
"""


def split_by_component_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free dataset split (operators/curation.py::
    split_by_component): the train/val/test draw is taken on the
    near-dup COMPONENT id, so no near-dup family ever straddles the
    train/test boundary — the leak `split_leakage` audits is
    impossible by construction. Components from the same verified
    pipeline as canonical_docs; singletons split on their own id."""
    docs = _t(spark, sf_dir, "documents")
    base = pin(DD.token_hashes(docs))
    sigs = pin(DD.minhash_signature(base, num_hashes=_MH_K, hashes_col="toks"))
    pairs = DD.lsh_candidate_pairs(sigs, num_hashes=_MH_K, band_size=_MH_BAND)
    verified = DD.jaccard_verify(pairs, docs, threshold=0.8, toks=base)
    comp = DD.connected_components(verified).select(
        F.col("node").alias("doc_id"), F.col("label").alias("component_id")
    )
    return CU.split_by_component(docs, comp)


SPLIT_BY_COMPONENT_SQL = _COMP_CTES + """
, compmap AS (
  SELECT docs.doc_id, coalesce(mr.comp, docs.doc_id) AS component_id
  FROM documents docs
  LEFT JOIN (SELECT n, min(m) AS comp FROM reach GROUP BY n) mr
    ON mr.n = docs.doc_id
)
SELECT doc_id, component_id,
       CASE WHEN u < 0.9 THEN 'train'
            WHEN u < 0.95 THEN 'val'
            ELSE 'test' END AS split
FROM (
  SELECT doc_id, component_id,
         (('0x' || substr(md5('split:' || component_id::VARCHAR), 1, 8))::BIGINT
          % 1000000) / 1000000.0 AS u
  FROM compmap
)
"""


_MIX_WEIGHTS = {"en": 0.5, "de": 0.15, "fr": 0.15, "es": 0.1, "zh": 0.1}
_MIX_BUDGET = 100_000


def mixture_plan_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-mixture planning: per-language available tokens vs the
    target mixture at a 100k-token budget — sampling rate (>1 means
    the source repeats) and the epoch count the shard writer plans
    for. One tiny per-language aggregate; map-free afterwards."""
    return CU.mixture_plan(
        _t(spark, sf_dir, "documents"),
        _MIX_WEIGHTS,
        _MIX_BUDGET,
        group="lang",
    )


_MIX_W_SQL = "CASE " + " ".join(
    f"WHEN lang = '{k}' THEN {v}" for k, v in sorted(_MIX_WEIGHTS.items())
) + " ELSE 0.0 END"

MIXTURE_SQL = f"""
WITH have AS (
  SELECT lang,
         sum(length(regexp_split_to_array(trim(text), '\\s+'))::BIGINT)::BIGINT
           AS tokens_have
  FROM documents GROUP BY 1
), base AS (
  SELECT lang, tokens_have,
         round(({_MIX_W_SQL}) * {_MIX_BUDGET})::BIGINT AS tokens_needed
  FROM have
)
SELECT lang, tokens_have, tokens_needed,
       ((tokens_needed * 1000000) // tokens_have)::BIGINT AS rate_ppm,
       ((tokens_needed + tokens_have - 1) // tokens_have)::BIGINT AS n_epochs
FROM base
"""


def mixture_apply_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture EXECUTION: the plan's per-language sampling rates
    applied to real rows (operators/curation.py::mixture_apply —
    floor(rate) full epoch copies + md5-draw fractional copy),
    reported per language: source docs, emitted rows, distinct docs
    sampled, and the realized rate. Closes the plan -> rows loop the
    shard writer consumes."""
    docs = _t(spark, sf_dir, "documents")
    out = CU.mixture_apply(
        docs, _MIX_WEIGHTS, _MIX_BUDGET, group="lang"
    )
    per = out.groupBy("lang").agg(
        F.count(F.lit(1)).alias("rows_out"),
        F.countDistinct("doc_id").alias("docs_sampled"),
    )
    n_src = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_source_docs"))
    return (
        n_src.join(per, "lang", "left")
        .select(
            "lang",
            "n_source_docs",
            F.coalesce("rows_out", F.lit(0)).alias("rows_out"),
            F.coalesce("docs_sampled", F.lit(0)).alias("docs_sampled"),
        )
        .select(
            "*",
            F.expr("(rows_out * 1000000L) div n_source_docs").alias(
                "effective_rate_ppm"
            ),
        )
    )


MIXTURE_APPLY_SQL = f"""
WITH have AS (
  SELECT lang,
         sum(length(regexp_split_to_array(trim(text), '\\s+'))::BIGINT)
           AS tokens_have
  FROM documents GROUP BY 1
), r AS (
  SELECT lang,
         (round(({_MIX_W_SQL}) * {_MIX_BUDGET})::BIGINT * 1000000)
           // tokens_have AS rate_ppm
  FROM have
), c AS (
  SELECT d.doc_id, d.lang,
         (rate_ppm // 1000000
          + CASE WHEN (('0x' || substr(md5('mix:' || d.doc_id::VARCHAR),
                        1, 8))::BIGINT % 1000000)
                      < rate_ppm % 1000000
                 THEN 1 ELSE 0 END)::BIGINT AS n_copies
  FROM documents d JOIN r USING (lang)
)
SELECT lang, count(*)::BIGINT AS n_source_docs,
       sum(n_copies)::BIGINT AS rows_out,
       sum(CASE WHEN n_copies > 0 THEN 1 ELSE 0 END)::BIGINT
         AS docs_sampled,
       (sum(n_copies)::BIGINT * 1000000) // count(*) AS effective_rate_ppm
FROM c GROUP BY 1
"""


def budget_select_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus selection (operators/curation.py::
    budget_select): keep the highest-quality docs fitting a 10,000-
    token budget — per-level token totals (<= 1e6+1 levels), a
    cumulative window over that tiny frame, and an md5-ordered
    prefix cut ONLY inside the single boundary level. No global
    sort; integer outputs only."""
    docs = _t(spark, sf_dir, "documents")
    return CU.budget_select(
        docs, 10_000, TX.quality_score(F.col("text"))
    )


BUDGET_SELECT_SQL = f"""
WITH p0 AS (
  SELECT doc_id, text, ' ' || lower(text) || ' ' AS p FROM documents
), b AS (
  SELECT doc_id,
         length(regexp_split_to_array(trim(text), '\\s+')) AS toks,
         {_STOP_SUM} AS stops,
         length(text) - length(regexp_replace(text, '[\\.\\,\\;\\:\\!\\?]', '', 'g')) AS puncts,
         length(text) AS chars
  FROM p0
), s AS (
  SELECT doc_id, toks::BIGINT AS toks,
         round(round(0.4 * least(1.0, toks::DOUBLE / 100.0)
             + 0.4 * least(1.0, 8.0 * stops::DOUBLE / toks::DOUBLE)
             + 0.2 * (1.0 - least(1.0, 4.0 * puncts::DOUBLE / chars::DOUBLE)), 6)
           * 1000000)::BIGINT AS q_ppm
  FROM b
), lv AS (
  SELECT q_ppm, sum(toks)::BIGINT AS lvl_toks FROM s GROUP BY q_ppm
), c AS (
  SELECT q_ppm, lvl_toks,
         coalesce(sum(lvl_toks) OVER (ORDER BY q_ppm DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
           AS cum_before
  FROM lv
), bnd AS (
  SELECT q_ppm, (10000 - cum_before)::BIGINT AS rem FROM c
  WHERE cum_before < 10000 AND cum_before + lvl_toks > 10000
), bdocs AS (
  SELECT s.doc_id, s.q_ppm, s.toks, bnd.rem,
         sum(s.toks) OVER (PARTITION BY s.q_ppm ORDER BY
           ('0x' || substr(md5('bsel:' || s.doc_id::VARCHAR), 1, 8))::BIGINT % 1000000 ASC,
           s.doc_id ASC)::BIGINT AS run
  FROM s JOIN bnd USING (q_ppm)
)
SELECT s.doc_id, s.q_ppm, s.toks
FROM s JOIN c USING (q_ppm)
WHERE c.cum_before + c.lvl_toks <= 10000
UNION ALL
SELECT doc_id, q_ppm, toks FROM bdocs WHERE run <= rem
"""


def epoch_shuffle_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch-1 global shuffle into 16 training shards:
    md5 draw keyed by (epoch, doc_id) -> shard = draw mod 16, position
    = rank of the draw within the shard. The only shuffle is the
    PER-SHARD rank window (at 100 TB, n_shards is sized so one shard
    is a few GB — the window partition is bounded by construction)."""
    return CU.epoch_shuffle(
        _t(spark, sf_dir, "documents"), n_shards=16, epoch=1
    )


EPOCH_SHUFFLE_SQL = """
WITH h AS (
  SELECT doc_id,
         ('0x' || substr(md5('shuf:ep1:' || doc_id::VARCHAR), 1, 15))::BIGINT AS draw
  FROM documents
)
SELECT doc_id, (draw % 16)::INT AS shard,
       row_number() OVER (PARTITION BY draw % 16 ORDER BY draw, doc_id) AS pos
FROM h
"""


def pmi_bigrams_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: PMI over adjacent token pairs occurring
    >= 5 times (word2phrase shape). Bigrams come from zipping the
    token array against its shift — scan-stage arithmetic; both
    aggregates and the final joins are vocabulary-sized. Double math
    throughout the PMI ratio so counts never overflow at corpus
    scale."""
    return RT.pmi_bigrams(_t(spark, sf_dir, "documents"), min_count=5)


PMI_SQL = """
WITH t AS (
  SELECT string_split(text, ' ') AS ws FROM documents
), uc AS (
  SELECT w, count(*) AS c FROM (SELECT unnest(ws) AS w FROM t) GROUP BY 1
), tot AS (
  SELECT sum(c) AS n_tokens FROM uc
), bc AS (
  SELECT pr['w1'] AS w1, pr['w2'] AS w2, count(*) AS c_ab FROM (
    SELECT unnest(list_transform(generate_series(1, len(ws) - 1),
                  i -> {'w1': ws[i], 'w2': ws[i + 1]})) AS pr
    FROM t WHERE len(ws) >= 2
  ) GROUP BY 1, 2 HAVING count(*) >= 5
)
SELECT w1, w2, c_ab,
       round(ln(c_ab::DOUBLE * n_tokens::DOUBLE
                / (ua.c::DOUBLE * ub.c::DOUBLE)), 6) AS pmi
FROM bc
JOIN uc ua ON ua.w = bc.w1
JOIN uc ub ON ub.w = bc.w2
CROSS JOIN tot
"""


def sliding_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window trending: top-3 event types per 1-hour window
    advancing every 30 minutes (the batch form of the streaming
    sliding-window agg — each event lands in exactly 2 windows).
    Window starts render as strings at the edge."""
    ev = _t(spark, sf_dir, "events")
    counts = (
        ev.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("w_start"),
            "event_type",
            "n_events",
        )
    )
    from pyspark.sql import Window as W

    rk = W.partitionBy("w_start").orderBy(
        F.col("n_events").desc(), F.col("event_type")
    )
    return (
        counts.withColumn("rank", F.row_number().over(rk))
        .filter(F.col("rank") <= 3)
    )


SLIDING_SQL = """
WITH e AS (
  SELECT ts, event_type FROM events
), w AS (
  SELECT unnest([time_bucket(INTERVAL '30 minutes', ts),
                 time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes'])
           AS ws,
         ts, event_type
  FROM e
), f AS (
  SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS w_start, event_type
  FROM w WHERE ts >= ws AND ts < ws + INTERVAL '1 hour'
), c AS (
  SELECT w_start, event_type, count(*) AS n_events FROM f GROUP BY 1, 2
)
SELECT w_start, event_type, n_events, rank FROM (
  SELECT w_start, event_type, n_events,
         row_number() OVER (PARTITION BY w_start
                            ORDER BY n_events DESC, event_type) AS rank
  FROM c
) WHERE rank <= 3
"""


def knn_ivf_sq8_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF cell restriction x int8 scalar quantization composed, with
    exact top-5 rescore — both ANN scale levers in one deterministic,
    fully oracle-checked pipeline (operators/similarity.py::
    knn_ivf_sq8)."""
    return SIM.knn_ivf_sq8(
        _t(spark, sf_dir, "embeddings"),
        _KNN_QUERY_IDS,
        k=5,
        rerank=10,
        dim=64,
        nprobe=2,
    )


KNN_IVF_SQ8_SQL = f"""
WITH v0 AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings
), v AS (
  SELECT vec_id, label, e,
         list_reduce(list_transform(e, x -> x * x), (x, y) -> x + y) AS nv
  FROM v0
), cent0 AS (
  SELECT label AS cl, list(e ORDER BY vec_id) AS vs FROM v GROUP BY label
), cent AS (
  SELECT cl,
         list_transform(
           list_reduce(vs, (a, b) -> list_transform(generate_series(1, len(a)), i -> a[i] + b[i])),
           x -> x / len(vs)) AS c
  FROM cent0
), centn AS (
  SELECT cl, c, list_reduce(list_transform(c, x -> x * x), (x, y) -> x + y) AS nc FROM cent
), assign AS (
  SELECT vec_id, e, cl FROM (
    SELECT v.vec_id, v.e, c.cl,
           row_number() OVER (PARTITION BY v.vec_id ORDER BY
             (v.nv - 2 * list_reduce(list_transform(generate_series(1, len(v.e)), i -> v.e[i] * c.c[i]), (x, y) -> x + y) + c.nc) ASC,
             c.cl ASC) AS r
    FROM v, centn c
  ) WHERE r = 1
), probe AS (
  SELECT vec_id AS query_id, e AS qe, cl AS qcl FROM (
    SELECT v.vec_id, v.e, c.cl,
           row_number() OVER (PARTITION BY v.vec_id ORDER BY
             (v.nv - 2 * list_reduce(list_transform(generate_series(1, len(v.e)), i -> v.e[i] * c.c[i]), (x, y) -> x + y) + c.nc) ASC,
             c.cl ASC) AS r
    FROM v, centn c WHERE v.vec_id < 10
  ) WHERE r <= 2
), st AS (
  SELECT {_SQ8_MN} AS mn, {_SQ8_MX} AS mx FROM v
), coded AS (
  SELECT vec_id, cl,
         list_transform(generate_series(1, 64), i ->
           CASE WHEN mx[i] > mn[i]
                THEN least(255, floor((e[i] - mn[i]) / (mx[i] - mn[i]) * 256))::BIGINT
                ELSE 0 END) AS codes
  FROM assign, st
), probe2 AS (
  SELECT query_id, qcl,
         list_transform(generate_series(1, 64),
                        i -> qe[i] * ((mx[i] - mn[i]) / 256)) AS s,
         list_reduce(list_transform(generate_series(1, 64),
                                    i -> qe[i] * mn[i]),
                     (x, y) -> x + y) AS qmn
  FROM probe, st
), probe3 AS (
  SELECT query_id, qcl, s,
         qmn + 0.5 * list_reduce(s, (x, y) -> x + y) AS qs0
  FROM probe2
), approx AS (
  SELECT query_id, c.vec_id AS neighbor_id,
         qs0 + list_reduce(list_transform(generate_series(1, 64),
                                          i -> s[i] * codes[i]),
                           (x, y) -> x + y) AS approx_dot
  FROM probe3 p JOIN coded c ON c.cl = p.qcl AND c.vec_id <> p.query_id
), cand AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY approx_dot DESC, neighbor_id) AS arank
    FROM approx
  ) WHERE arank <= 10
)
SELECT query_id, neighbor_id, rank, cos_sim FROM (
  SELECT query_id, neighbor_id,
         round(dp / (sqrt(nq) * sqrt(nn)), 6) AS cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(dp / (sqrt(nq) * sqrt(nn)), 6) DESC, neighbor_id) AS rank
  FROM (
    SELECT cand.query_id AS query_id, cand.neighbor_id AS neighbor_id,
           list_reduce(list_transform(generate_series(1, 64), i -> q.e[i] * n.e[i]), (x, y) -> x + y) AS dp,
           q.nv AS nq, n.nv AS nn
    FROM cand
    JOIN v n ON n.vec_id = cand.neighbor_id
    JOIN v q ON q.vec_id = cand.query_id
  )
) WHERE rank <= 5
"""


def funnel_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential funnel view -> click -> purchase (first-touch, each
    hop within 2 h): per-user view count, click-through count,
    conversion count and rate. Each hop is ONE forward as-of join
    (union + descending window, one shuffle on the user key) — never
    a correlated per-user quadratic pairing."""
    ev = _t(spark, sf_dir, "events")
    f = JO.funnel_steps(ev, ["view", "click", "purchase"], horizon_s=7200)
    return f.groupBy("user_id").agg(
        F.count("*").alias("n_views"),
        F.count("ts_1").alias("n_clicked"),
        F.count("ts_2").alias("n_converted"),
        F.round(F.count("ts_2") / F.count("*"), 6).alias("conv_rate"),
    )


FUNNEL_SQL = """
WITH v AS (SELECT user_id, ts AS vts FROM events WHERE event_type = 'view'),
c AS (SELECT user_id, ts AS cts FROM events WHERE event_type = 'click'),
p AS (SELECT user_id, ts AS pts FROM events WHERE event_type = 'purchase'),
s1 AS (
  SELECT v.user_id, vts,
         (SELECT min(cts) FROM c
          WHERE c.user_id = v.user_id AND c.cts > v.vts) AS cts0
  FROM v
), s1m AS (
  SELECT user_id, vts,
         CASE WHEN cts0 <= vts + INTERVAL 7200 SECONDS THEN cts0 END AS cts
  FROM s1
), s2 AS (
  SELECT s.user_id, vts, cts,
         (SELECT min(pts) FROM p
          WHERE p.user_id = s.user_id AND p.pts > s.cts) AS pts0
  FROM s1m s
), s2m AS (
  SELECT user_id, vts, cts,
         CASE WHEN pts0 <= cts + INTERVAL 7200 SECONDS THEN pts0 END AS pts
  FROM s2
)
SELECT user_id, count(*) AS n_views, count(cts) AS n_clicked,
       count(pts) AS n_converted,
       round(count(pts)::DOUBLE / count(*), 6) AS conv_rate
FROM s2m GROUP BY 1
"""


def pagerank_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the verified near-dup graph (4 fixed
    iterations, damping 0.85) — the importance-based alternative to
    min-id/best-quality canonical selection. Bit-reproducible across
    engines: per-node contributions fold in source-id order
    (operators/graph.py), so even the iterated doubles agree."""
    from reader_spark.operators import graph as GR

    docs = _t(spark, sf_dir, "documents")
    base = pin(DD.token_hashes(docs))
    sigs = pin(DD.minhash_signature(base, num_hashes=_MH_K, hashes_col="toks"))
    pairs = DD.lsh_candidate_pairs(sigs, num_hashes=_MH_K, band_size=_MH_BAND)
    verified = DD.jaccard_verify(pairs, docs, threshold=0.8, toks=base)
    pr = GR.pagerank(verified.select("doc_a", "doc_b"), iterations=4)
    return pr.select("node", F.round("pr", 6).alias("pr"))


def _pagerank_sql(iterations: int) -> str:
    head = DEDUP_COMPONENTS_SQL.split(", e AS (")[0] + """
, e AS (
  SELECT doc_a AS s, doc_b AS d FROM vp
  UNION ALL
  SELECT doc_b, doc_a FROM vp
), deg AS (
  SELECT s, count(*) AS dg FROM e GROUP BY 1
), nn AS (
  SELECT count(DISTINCT s) AS n FROM e
), pr0 AS (
  SELECT s AS node, 1.0 / n AS pr FROM (SELECT DISTINCT s FROM e), nn
)"""
    step = """
, pr{i} AS (
  SELECT e.d AS node,
         (1.0 - 0.85) / nn.n
           + 0.85 * list_reduce(list(p.pr / dg.dg ORDER BY e.s),
                                (x, y) -> x + y) AS pr
  FROM e
  JOIN pr{j} p ON p.node = e.s
  JOIN deg dg ON dg.s = e.s
  CROSS JOIN nn
  GROUP BY e.d, nn.n
)"""
    body = "".join(step.format(i=i, j=i - 1) for i in range(1, iterations + 1))
    return head + body + f"\nSELECT node, round(pr, 6) AS pr FROM pr{iterations}"


PAGERANK_SQL = _pagerank_sql(4)


def knn_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantized ANN (m=8 subspaces, label-seeded per-
    subspace codebooks, asymmetric LUT distance) with exact top-5
    rescore — the codebook-compression tier next to SQ8 (operators/
    similarity.py::knn_pq_rescore). Deterministic end-to-end: codes
    via struct-min, ADC partials summed in fixed subspace order."""
    return SIM.knn_pq_rescore(
        _t(spark, sf_dir, "embeddings"),
        _KNN_QUERY_IDS,
        k=5,
        rerank=10,
        m=8,
        dim=64,
    )


KNN_PQ_SQL = """
WITH v0 AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings
), v AS (
  SELECT vec_id, e,
         list_reduce(list_transform(e, x -> x * x), (x, y) -> x + y) AS nv
  FROM v0
), cent0 AS (
  SELECT label AS cw, list(e ORDER BY vec_id) AS vs FROM v0 GROUP BY label
), cent AS (
  SELECT cw,
         list_transform(
           list_reduce(vs, (a, b) -> list_transform(generate_series(1, len(a)), i -> a[i] + b[i])),
           x -> x / len(vs)) AS mv
  FROM cent0
), sp AS (
  SELECT unnest(generate_series(0, 7)) AS s
), books AS (
  SELECT s, cw, list_slice(mv, s * 8 + 1, s * 8 + 8) AS c FROM cent, sp
), pieces AS (
  SELECT vec_id, s, list_slice(e, s * 8 + 1, s * 8 + 8) AS sv FROM v0, sp
), codes AS (
  SELECT vec_id, s, cw AS code FROM (
    SELECT p.vec_id, p.s, b.cw,
           row_number() OVER (PARTITION BY p.vec_id, p.s ORDER BY
             list_reduce(list_transform(generate_series(1, 8),
               i -> (p.sv[i] - b.c[i]) * (p.sv[i] - b.c[i])), (x, y) -> x + y) ASC,
             b.cw ASC) AS r
    FROM pieces p JOIN books b ON b.s = p.s
  ) WHERE r = 1
), q AS (
  SELECT vec_id AS query_id, e AS qe FROM v0 WHERE vec_id < 10
), lut AS (
  SELECT query_id, b.s, b.cw,
         list_reduce(list_transform(generate_series(1, 8),
           i -> qe[b.s * 8 + i] * b.c[i]), (x, y) -> x + y) AS p
  FROM q, books b
), adc AS (
  SELECT c.vec_id AS neighbor_id, l.query_id,
         list_reduce(list(l.p ORDER BY c.s), (x, y) -> x + y) AS approx_dot
  FROM codes c
  JOIN lut l ON l.s = c.s AND l.cw = c.code AND c.vec_id <> l.query_id
  GROUP BY c.vec_id, l.query_id
), cand AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY approx_dot DESC, neighbor_id) AS arank
    FROM adc
  ) WHERE arank <= 10
)
SELECT query_id, neighbor_id, rank, cos_sim FROM (
  SELECT query_id, neighbor_id,
         round(dp / (sqrt(nq) * sqrt(nn)), 6) AS cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(dp / (sqrt(nq) * sqrt(nn)), 6) DESC, neighbor_id) AS rank
  FROM (
    SELECT cand.query_id AS query_id, cand.neighbor_id AS neighbor_id,
           list_reduce(list_transform(generate_series(1, 64), i -> qv.e[i] * nb.e[i]), (x, y) -> x + y) AS dp,
           qv.nv AS nq, nb.nv AS nn
    FROM cand
    JOIN v nb ON nb.vec_id = cand.neighbor_id
    JOIN v qv ON qv.vec_id = cand.query_id
  )
) WHERE rank <= 5
"""


def knn_ivf_pq_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF x PQ — FAISS's `IVFx,PQy` composed from the oracle-checked
    halves (operators/similarity.py::knn_ivf_pq): 2-probe cell
    restriction, 8-byte ADC scoring inside the probed cells, exact
    rescore of the top 10, top 5 emitted."""
    emb = _t(spark, sf_dir, "embeddings")
    return SIM.knn_ivf_pq(emb, _KNN_QUERY_IDS, k=5, rerank=10, m=8, dim=64, nprobe=2)


# IVF assign/probe CTEs from _IVF_PAIRS_CTE (`pairs` goes unused and
# DuckDB prunes it) + the PQ codebook/code/LUT CTEs of KNN_PQ_SQL,
# with the ADC join restricted to each query's probed cells.
KNN_IVF_PQ_SQL = _IVF_PAIRS_CTE + """
, sp AS (
  SELECT unnest(generate_series(0, 7)) AS s
), books AS (
  SELECT s, cl AS cw, list_slice(c, s * 8 + 1, s * 8 + 8) AS bc FROM cent, sp
), pieces AS (
  SELECT vec_id, s, list_slice(e, s * 8 + 1, s * 8 + 8) AS sv FROM v, sp
), codes AS (
  SELECT vec_id, s, cw AS code FROM (
    SELECT p.vec_id, p.s, b.cw,
           row_number() OVER (PARTITION BY p.vec_id, p.s ORDER BY
             list_reduce(list_transform(generate_series(1, 8),
               i -> (p.sv[i] - b.bc[i]) * (p.sv[i] - b.bc[i])), (x, y) -> x + y) ASC,
             b.cw ASC) AS r
    FROM pieces p JOIN books b ON b.s = p.s
  ) WHERE r = 1
), q AS (
  SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 10
), lut AS (
  SELECT query_id, b.s, b.cw,
         list_reduce(list_transform(generate_series(1, 8),
           i -> qe[b.s * 8 + i] * b.bc[i]), (x, y) -> x + y) AS p
  FROM q, books b
), adc AS (
  SELECT c.vec_id AS neighbor_id, pr.query_id,
         list_reduce(list(l.p ORDER BY c.s), (x, y) -> x + y) AS approx_dot
  FROM codes c
  JOIN assign a ON a.vec_id = c.vec_id
  JOIN probe pr ON pr.qcl = a.cl AND c.vec_id <> pr.query_id
  JOIN lut l ON l.query_id = pr.query_id AND l.s = c.s AND l.cw = c.code
  GROUP BY c.vec_id, pr.query_id
), cand AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY approx_dot DESC, neighbor_id) AS arank
    FROM adc
  ) WHERE arank <= 10
)
SELECT query_id, neighbor_id, rank, cos_sim FROM (
  SELECT query_id, neighbor_id,
         round(dp / (sqrt(nq) * sqrt(nn)), 6) AS cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(dp / (sqrt(nq) * sqrt(nn)), 6) DESC, neighbor_id) AS rank
  FROM (
    SELECT cand.query_id AS query_id, cand.neighbor_id AS neighbor_id,
           list_reduce(list_transform(generate_series(1, 64), i -> qv.e[i] * nb.e[i]), (x, y) -> x + y) AS dp,
           qv.nv AS nq, nb.nv AS nn
    FROM cand
    JOIN v nb ON nb.vec_id = cand.neighbor_id
    JOIN v qv ON qv.vec_id = cand.query_id
  )
) WHERE rank <= 5
"""


def reservoir_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-k weighted reservoir per language (A-ES keys
    u^(1/quality), k=5): quality-proportional inclusion with an
    exact per-stratum sample size — one rank window partitioned by
    the stratum (operators/curation.py::reservoir_sample)."""
    docs = _t(spark, sf_dir, "documents")
    return CU.reservoir_sample(
        docs, ["lang"], k=5, weight=TX.quality_score(F.col("text"))
    )


RESERVOIR_SQL = f"""
WITH p0 AS (
  SELECT doc_id, lang, text, ' ' || lower(text) || ' ' AS p FROM documents
), q AS (
  SELECT doc_id, lang,
         round(
         0.4 * least(1.0, length(regexp_split_to_array(trim(text), '\\s+'))::DOUBLE / 100.0)
       + 0.4 * least(1.0, 8.0 * ({_STOP_SUM})::DOUBLE
           / length(regexp_split_to_array(trim(text), '\\s+'))::DOUBLE)
       + 0.2 * (1.0 - least(1.0, 4.0
           * (length(text) - length(regexp_replace(text, '[\\.\\,\\;\\:\\!\\?]', '', 'g')))::DOUBLE
           / length(text)::DOUBLE)), 6) AS quality
  FROM p0
), keyed AS (
  SELECT doc_id, lang,
         round(pow(
           (('0x' || substr(md5('res:' || doc_id::VARCHAR), 1, 8))::BIGINT
            % 1000000) / 1000000.0,
           1.0 / greatest(quality, 0.000001)), 9) AS sample_key
  FROM q
)
SELECT doc_id, lang, sample_key FROM (
  SELECT doc_id, lang, sample_key,
         row_number() OVER (PARTITION BY lang
                            ORDER BY sample_key DESC, doc_id) AS r
  FROM keyed
) WHERE r <= 5
"""


def video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END oracle-checked video path: deterministic PPMV
    containers (3 + id%3 frames of the pixel formula, 2 fps), REAL
    parse + per-frame decode + stat extraction in mapInPandas
    (operators/multimodal.py::synth_video_frames); the oracle reproduces
    every frame's channel means from the pixel formula in SQL."""
    from reader_spark.operators import multimodal as MM

    ids = DD.ensure_parallelism(
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 100)
        .select(F.col("doc_id").alias("media_id"))
    )
    # r12: fused synthesize -> frame-stats kernel (one crossing)
    fr = MM.synth_video_frames(ids)
    return fr.select(
        "media_id",
        "frame_id",
        "ts_ms",
        "width",
        "height",
        F.round("mean_r", 6).alias("mean_r"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("mean_b", 6).alias("mean_b"),
    )


VIDEO_FRAMES_SQL = """
WITH d AS (
  SELECT doc_id AS media_id, 4 + doc_id % 5 AS w, 2 + doc_id % 3 AS h,
         3 + doc_id % 3 AS n_frames
  FROM documents WHERE doc_id < 100
), px AS (
  SELECT media_id, f.f AS frame_id, w, h, c.c AS ch,
         (media_id * 7 + f.f * 41 + y.y * 13 + x.x * 17 + c.c * 29) % 256 AS v
  FROM d,
       (SELECT unnest(generate_series(0, 4)) AS f) f,
       (SELECT unnest(generate_series(0, 3)) AS y) y,
       (SELECT unnest(generate_series(0, 7)) AS x) x,
       (SELECT unnest(generate_series(0, 2)) AS c) c
  WHERE f.f < n_frames AND y.y < h AND x.x < w
)
SELECT media_id, frame_id::INT AS frame_id,
       (frame_id * 500)::BIGINT AS ts_ms,
       max(w)::INT AS width, max(h)::INT AS height,
       round(sum(CASE WHEN ch = 0 THEN v END)::DOUBLE / (max(w) * max(h)), 6) AS mean_r,
       round(sum(CASE WHEN ch = 1 THEN v END)::DOUBLE / (max(w) * max(h)), 6) AS mean_g,
       round(sum(CASE WHEN ch = 2 THEN v END)::DOUBLE / (max(w) * max(h)), 6) AS mean_b
FROM px GROUP BY media_id, frame_id
"""


def source_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source TF-IDF signature terms: tf within the source x
    ln(n_sources / source-df), top-3 per source — the "what is this
    source about" fingerprint a corpus dashboard shows. Vocabulary-
    sized aggregates throughout; the rank window partitions by
    source. Scores rank on their 6 dp rounding so a boundary never
    hinges on libm's last ulp."""
    docs = _t(spark, sf_dir, "documents")
    tok = DD.ensure_parallelism(docs).select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("term")
    )
    tf = tok.groupBy("source", "term").agg(F.count("*").alias("tf"))
    df = tf.groupBy("term").agg(F.count("*").alias("sdf"))
    n_sources = docs.select("source").distinct().count()
    from pyspark.sql import Window as W

    score = F.round(
        F.col("tf") * F.log(F.lit(float(n_sources)) / F.col("sdf")), 6
    )
    w = W.partitionBy("source").orderBy(
        F.col("score").desc(), F.col("term")
    )
    return (
        # broadcast-gate audit (r12): df is a term-vocabulary-sized
        # aggregate, no kernel upstream — estimate stable.
        tf.join(DD.maybe_broadcast(df), "term")
        .withColumn("score", score)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("source", "term", "tf", "score", "rank")
    )


SOURCE_TOP_TERMS_SQL = """
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS term FROM documents
), tf AS (
  SELECT source, term, count(*) AS tf FROM tok GROUP BY 1, 2
), sdf AS (
  SELECT term, count(*) AS sdf FROM tf GROUP BY 1
), ns AS (
  SELECT count(DISTINCT source) AS n FROM documents
)
SELECT source, term, tf, score, rank FROM (
  SELECT source, term, tf,
         round(tf * ln(n::DOUBLE / sdf), 6) AS score,
         row_number() OVER (PARTITION BY source
                            ORDER BY round(tf * ln(n::DOUBLE / sdf), 6) DESC,
                                     term) AS rank
  FROM tf JOIN sdf USING (term) CROSS JOIN ns
) WHERE rank <= 3
"""


def data_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-QA expectation checks (the dbt-test / Deequ verb a
    warehouse loader runs after every transfer): referential
    integrity via anti-joins, domain-range violations, null rates —
    one row per check with its violation count. Each check is a small
    aggregate; the anti-joins broadcast their dimension side.
    At 100 TB every check is a single pass and they share scans where
    Catalyst can collapse them; failed expectations gate the load."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    lineitem = _t(spark, sf_dir, "lineitem")
    events = _t(spark, sf_dir, "events")

    def count_check(name: str, df: DataFrame) -> DataFrame:
        return df.select(
            F.lit(name).alias("check"),
            F.count(F.lit(1)).alias("n_violations"),
        )

    def local_checks(df: DataFrame, conds: list[tuple[str, F.Column]]) -> DataFrame:
        # every scalar expectation on one table comes out of a SINGLE
        # scan: conditional sums, unpivoted to (check, n) rows — never
        # one filter+count pass per rule
        agg = df.agg(
            *[
                F.sum(F.when(c, 1).otherwise(0)).alias(n)
                for n, c in conds
            ]
        )
        pairs = F.array(
            *[
                F.struct(F.lit(n).alias("check"), F.col(n).alias("n_violations"))
                for n, _ in conds
            ]
        )
        return agg.select(F.explode(pairs).alias("e")).select(
            "e.check", "e.n_violations"
        )

    fk_orders = count_check(
        "orders_custkey_fk",
        orders.join(
            F.broadcast(customer.select("c_custkey")),
            orders.o_custkey == customer.c_custkey,
            "left_anti",
        ),
    )
    fk_lineitem = count_check(
        "lineitem_orderkey_fk",
        lineitem.join(
            orders.select("o_orderkey"),
            lineitem.l_orderkey == orders.o_orderkey,
            "left_anti",
        ),
    )
    li_local = local_checks(lineitem, [
        ("lineitem_qty_range",
         (F.col("l_quantity") <= 0) | (F.col("l_quantity") > 60)),
        ("lineitem_discount_range",
         (F.col("l_discount") < 0) | (F.col("l_discount") > 0.2)),
    ])
    orders_local = local_checks(orders, [
        ("orders_null_orderdate", F.col("o_orderdate").isNull()),
    ])
    events_local = local_checks(events, [
        ("events_null_value", F.col("value").isNull()),
    ])
    out = fk_orders
    for c in (fk_lineitem, li_local, orders_local, events_local):
        out = out.unionByName(c)
    return out


QUALITY_REPORT_SQL = """
SELECT 'orders_custkey_fk' AS check, count(*) AS n_violations
FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
UNION ALL
SELECT 'lineitem_orderkey_fk', count(*)
FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
UNION ALL
SELECT 'lineitem_qty_range', count(*)
FROM lineitem WHERE l_quantity <= 0 OR l_quantity > 60
UNION ALL
SELECT 'lineitem_discount_range', count(*)
FROM lineitem WHERE l_discount < 0 OR l_discount > 0.2
UNION ALL
SELECT 'orders_null_orderdate', count(*)
FROM orders WHERE o_orderdate IS NULL
UNION ALL
SELECT 'events_null_value', count(*)
FROM events WHERE value IS NULL
"""


def snapshot_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift between two snapshots of the same column
    (operators/curation.py::drift_report): fixed-width buckets
    anchored on the REFERENCE snapshot's min/max (orders before 1996
    vs from 1996, o_totalprice), per-bucket counts and integer-ppm
    shares for both sides, and the share delta — the check a
    recurring ingest runs before appending a wave to training data.
    TVD = sum(abs(delta_ppm)) // 2; L-inf = max. Exact-integer drift
    metrics, unlike PSI's engine-varying logs. Scale: two map-only
    bucket passes + two 20-row aggregates; the snapshots are never
    joined row-to-row."""
    orders = _t(spark, sf_dir, "orders")
    ref = orders.filter(F.col("o_orderdate") < "1996-01-01")
    cur = orders.filter(F.col("o_orderdate") >= "1996-01-01")
    return CU.drift_report(ref, cur, "o_totalprice", n_buckets=20)


SNAPSHOT_DRIFT_SQL = """
WITH ref AS (
  SELECT o_totalprice AS v FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-01'
), cur AS (
  SELECT o_totalprice AS v FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01'
), st AS (
  SELECT min(v) AS lo, max(v) AS hi FROM ref
), rb AS (
  SELECT CASE WHEN hi = lo THEN 0
              ELSE least(19, greatest(0, floor((v - lo) / ((hi - lo) / 20.0))))::INT
         END AS bucket, count(*) AS ref_n
  FROM ref, st GROUP BY 1
), cb AS (
  SELECT CASE WHEN hi = lo THEN 0
              ELSE least(19, greatest(0, floor((v - lo) / ((hi - lo) / 20.0))))::INT
         END AS bucket, count(*) AS cur_n
  FROM cur, st GROUP BY 1
), j AS (
  SELECT coalesce(rb.bucket, cb.bucket) AS bucket,
         coalesce(ref_n, 0) AS ref_n, coalesce(cur_n, 0) AS cur_n
  FROM rb FULL JOIN cb ON rb.bucket = cb.bucket
), t AS (
  SELECT sum(ref_n) AS ref_total, sum(cur_n) AS cur_total FROM j
)
SELECT bucket, ref_n::BIGINT AS ref_n, cur_n::BIGINT AS cur_n,
       ((ref_n * 1000000) // greatest(ref_total, 1))::BIGINT AS ref_ppm,
       ((cur_n * 1000000) // greatest(cur_total, 1))::BIGINT AS cur_ppm,
       ((cur_n * 1000000) // greatest(cur_total, 1)
        - (ref_n * 1000000) // greatest(ref_total, 1))::BIGINT AS delta_ppm
FROM j, t
"""


def snapshot_drift_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row drift verdict (operators/curation.py::drift_summary)
    over the same orders split as `snapshot_drift`: total-variation
    distance and L-infinity of the bucket share deltas in exact
    integer ppm, the drifted-bucket count at the 50k-ppm alert, and
    both snapshot sizes — the row a scheduler alerts on."""
    orders = _t(spark, sf_dir, "orders")
    ref = orders.filter(F.col("o_orderdate") < "1996-01-01")
    cur = orders.filter(F.col("o_orderdate") >= "1996-01-01")
    return CU.drift_summary(ref, cur, "o_totalprice", n_buckets=20)


_DRIFT_BUCKETS_CTE = SNAPSHOT_DRIFT_SQL.rsplit("SELECT bucket,", 1)[0]

SNAPSHOT_DRIFT_SUMMARY_SQL = _DRIFT_BUCKETS_CTE + """
, rep AS (
  SELECT ((cur_n * 1000000) // greatest(cur_total, 1)
          - (ref_n * 1000000) // greatest(ref_total, 1)) AS delta_ppm,
         ref_n, cur_n
  FROM j, t
)
SELECT (sum(abs(delta_ppm)) // 2)::BIGINT AS tvd_ppm,
       max(abs(delta_ppm))::BIGINT AS linf_ppm,
       sum(CASE WHEN abs(delta_ppm) > 50000 THEN 1 ELSE 0 END)::BIGINT
         AS n_drifted_buckets,
       sum(ref_n)::BIGINT AS n_ref,
       sum(cur_n)::BIGINT AS n_cur
FROM rep
"""


def snapshot_drift_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group drift verdicts (operators/curation.py::
    drift_report_grouped): each order priority gets its own bucket
    anchoring and its own exact-ppm TVD/L-inf row over the same
    before/after-1996 split — the monitoring shape that catches a
    drifting MINORITY group the corpus-level mixture hides."""
    orders = _t(spark, sf_dir, "orders")
    ref = orders.filter(F.col("o_orderdate") < "1996-01-01")
    cur = orders.filter(F.col("o_orderdate") >= "1996-01-01")
    return CU.drift_report_grouped(
        ref, cur, "o_totalprice", "o_orderpriority", n_buckets=20
    )


SNAPSHOT_DRIFT_GROUPED_SQL = """
WITH ref AS (
  SELECT o_orderpriority AS g, o_totalprice AS v FROM orders
  WHERE o_orderdate < TIMESTAMP '1996-01-01'
), cur AS (
  SELECT o_orderpriority AS g, o_totalprice AS v FROM orders
  WHERE o_orderdate >= TIMESTAMP '1996-01-01'
), st AS (
  SELECT g, min(v) AS lo, max(v) AS hi FROM ref GROUP BY g
), rb AS (
  SELECT ref.g, CASE WHEN hi = lo THEN 0
              ELSE least(19, greatest(0, floor((v - lo) / ((hi - lo) / 20.0))))::INT
         END AS bucket, count(*) AS ref_n
  FROM ref JOIN st ON ref.g = st.g GROUP BY 1, 2
), cb AS (
  SELECT cur.g, CASE WHEN hi = lo THEN 0
              ELSE least(19, greatest(0, floor((v - lo) / ((hi - lo) / 20.0))))::INT
         END AS bucket, count(*) AS cur_n
  FROM cur JOIN st ON cur.g = st.g GROUP BY 1, 2
), j AS (
  SELECT coalesce(rb.g, cb.g) AS g, coalesce(rb.bucket, cb.bucket) AS bucket,
         coalesce(ref_n, 0) AS ref_n, coalesce(cur_n, 0) AS cur_n
  FROM rb FULL JOIN cb ON rb.g = cb.g AND rb.bucket = cb.bucket
), t AS (
  SELECT g, sum(ref_n) AS ref_total, sum(cur_n) AS cur_total
  FROM j GROUP BY g
), rep AS (
  SELECT j.g, ref_n, cur_n,
         ((cur_n * 1000000) // greatest(cur_total, 1)
          - (ref_n * 1000000) // greatest(ref_total, 1)) AS delta_ppm
  FROM j JOIN t ON j.g = t.g
)
SELECT g AS o_orderpriority,
       (sum(abs(delta_ppm)) // 2)::BIGINT AS tvd_ppm,
       max(abs(delta_ppm))::BIGINT AS linf_ppm,
       sum(CASE WHEN abs(delta_ppm) > 50000 THEN 1 ELSE 0 END)::BIGINT
         AS n_drifted_buckets,
       sum(ref_n)::BIGINT AS n_ref,
       sum(cur_n)::BIGINT AS n_cur
FROM rep GROUP BY g
"""


def snapshot_drift_categorical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical mix drift (operators/curation.py::
    drift_report_categorical): per-source share deltas between two
    corpus halves, with three sources withheld from the current wave
    — the source/language mix shift a multi-source corpus shows
    FIRST. Categories are the reference's top-12 by count (ties by
    name — deterministic on both engines), the remaining 8 sources
    fold into `__other__`; shares compare in exact integer ppm.
    Scale: one category-cardinality aggregate per side + a broadcast
    K-row fold — the snapshots never join row-to-row."""
    docs = _t(spark, sf_dir, "documents")
    ref = docs.filter(F.col("doc_id") % 2 == 0)
    cur = docs.filter(
        (F.col("doc_id") % 2 == 1)
        & ~F.col("source").isin("src0", "src1", "src2")
    )
    return CU.drift_report_categorical(ref, cur, "source", top_k=12)


SNAPSHOT_DRIFT_CAT_SQL = """
WITH ref AS (
  SELECT coalesce(CAST(source AS VARCHAR), '(null)') AS category
  FROM documents WHERE doc_id % 2 = 0
), cur AS (
  SELECT coalesce(CAST(source AS VARCHAR), '(null)') AS category
  FROM documents
  WHERE doc_id % 2 = 1 AND source NOT IN ('src0', 'src1', 'src2')
), rc AS (
  SELECT category, count(*) AS n FROM ref GROUP BY 1
), top AS (
  SELECT category FROM rc ORDER BY n DESC, category LIMIT 12
), rh AS (
  SELECT CASE WHEN category IN (SELECT category FROM top)
              THEN category ELSE '__other__' END AS category,
         sum(n) AS ref_n
  FROM rc GROUP BY 1
), ch AS (
  SELECT CASE WHEN category IN (SELECT category FROM top)
              THEN category ELSE '__other__' END AS category,
         count(*) AS cur_n
  FROM cur GROUP BY 1
), j AS (
  SELECT coalesce(rh.category, ch.category) AS category,
         coalesce(ref_n, 0) AS ref_n, coalesce(cur_n, 0) AS cur_n
  FROM rh FULL JOIN ch ON rh.category = ch.category
), t AS (
  SELECT sum(ref_n) AS ref_total, sum(cur_n) AS cur_total FROM j
)
SELECT category, ref_n::BIGINT AS ref_n, cur_n::BIGINT AS cur_n,
       ((ref_n * 1000000) // greatest(ref_total, 1))::BIGINT AS ref_ppm,
       ((cur_n * 1000000) // greatest(cur_total, 1))::BIGINT AS cur_ppm,
       ((cur_n * 1000000) // greatest(cur_total, 1)
        - (ref_n * 1000000) // greatest(ref_total, 1))::BIGINT AS delta_ppm
FROM j, t
"""


def snapshot_drift_categorical_summary(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """One-row categorical drift verdict (operators/curation.py::
    drift_summary_categorical) over the same documents split: exact
    integer-ppm TVD / L-infinity of the source-share deltas and the
    drifted-category count at the 50k-ppm alert — the row a
    scheduler alerts on when an upstream source vanishes."""
    docs = _t(spark, sf_dir, "documents")
    ref = docs.filter(F.col("doc_id") % 2 == 0)
    cur = docs.filter(
        (F.col("doc_id") % 2 == 1)
        & ~F.col("source").isin("src0", "src1", "src2")
    )
    return CU.drift_summary_categorical(ref, cur, "source", top_k=12)


_DRIFT_CAT_CTE = SNAPSHOT_DRIFT_CAT_SQL.rsplit("SELECT category,", 1)[0]

SNAPSHOT_DRIFT_CAT_SUMMARY_SQL = _DRIFT_CAT_CTE + """
, rep AS (
  SELECT ((cur_n * 1000000) // greatest(cur_total, 1)
          - (ref_n * 1000000) // greatest(ref_total, 1)) AS delta_ppm,
         ref_n, cur_n
  FROM j, t
)
SELECT (sum(abs(delta_ppm)) // 2)::BIGINT AS tvd_ppm,
       max(abs(delta_ppm))::BIGINT AS linf_ppm,
       sum(CASE WHEN abs(delta_ppm) > 50000 THEN 1 ELSE 0 END)::BIGINT
         AS n_drifted_categories,
       sum(ref_n)::BIGINT AS n_ref,
       sum(cur_n)::BIGINT AS n_cur
FROM rep
"""


def snapshot_drift_categorical_by_group(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-language categorical drift verdicts (operators/
    curation.py::drift_report_categorical_grouped): each language
    gets its own top-3 source anchoring from ITS reference slice and
    its own exact-ppm TVD / L-inf / drifted-category row — a
    minority language's source-mix shift alarms even when the
    corpus-level mixture hides it."""
    docs = _t(spark, sf_dir, "documents")
    ref = docs.filter(F.col("doc_id") % 2 == 0)
    cur = docs.filter(
        (F.col("doc_id") % 2 == 1)
        & ~F.col("source").isin("src0", "src1", "src2")
    )
    return CU.drift_report_categorical_grouped(
        ref, cur, "source", "lang", top_k=3
    )


SNAPSHOT_DRIFT_CAT_GROUPED_SQL = """
WITH ref AS (
  SELECT lang AS g, coalesce(CAST(source AS VARCHAR), '(null)') AS category
  FROM documents WHERE doc_id % 2 = 0
), cur0 AS (
  SELECT lang AS g, coalesce(CAST(source AS VARCHAR), '(null)') AS category
  FROM documents
  WHERE doc_id % 2 = 1 AND source NOT IN ('src0', 'src1', 'src2')
), rc AS (
  SELECT g, category, count(*) AS n FROM ref GROUP BY 1, 2
), cur AS (
  SELECT * FROM cur0 WHERE g IN (SELECT DISTINCT g FROM rc)
), top AS (
  SELECT g, category FROM (
    SELECT g, category,
           row_number() OVER (PARTITION BY g ORDER BY n DESC, category) AS rk
    FROM rc
  ) WHERE rk <= 3
), rh AS (
  SELECT rc.g,
         CASE WHEN EXISTS (SELECT 1 FROM top t
                           WHERE t.g = rc.g AND t.category = rc.category)
              THEN rc.category ELSE '__other__' END AS category,
         sum(n) AS ref_n
  FROM rc GROUP BY 1, 2
), ch AS (
  SELECT cur.g,
         CASE WHEN EXISTS (SELECT 1 FROM top t
                           WHERE t.g = cur.g AND t.category = cur.category)
              THEN cur.category ELSE '__other__' END AS category,
         count(*) AS cur_n
  FROM cur GROUP BY 1, 2
), j AS (
  SELECT coalesce(rh.g, ch.g) AS g,
         coalesce(rh.category, ch.category) AS category,
         coalesce(ref_n, 0) AS ref_n, coalesce(cur_n, 0) AS cur_n
  FROM rh FULL JOIN ch ON rh.g = ch.g AND rh.category = ch.category
), t AS (
  SELECT g, sum(ref_n) AS ref_total, sum(cur_n) AS cur_total
  FROM j GROUP BY g
), rep AS (
  SELECT j.g, ref_n, cur_n,
         ((cur_n * 1000000) // greatest(cur_total, 1)
          - (ref_n * 1000000) // greatest(ref_total, 1)) AS delta_ppm
  FROM j JOIN t ON j.g = t.g
)
SELECT g AS lang,
       (sum(abs(delta_ppm)) // 2)::BIGINT AS tvd_ppm,
       max(abs(delta_ppm))::BIGINT AS linf_ppm,
       sum(CASE WHEN abs(delta_ppm) > 50000 THEN 1 ELSE 0 END)::BIGINT
         AS n_drifted_categories,
       sum(ref_n)::BIGINT AS n_ref,
       sum(cur_n)::BIGINT AS n_cur
FROM rep GROUP BY g
"""


def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width 20-bucket histogram of events.value — the
    distribution profile a curation dashboard draws. One 2-scalar
    aggregate (min/max) broadcast back, then a map-only bucket
    assignment and a 20-row count aggregate; identical IEEE double
    bucket arithmetic on both engines."""
    ev = _t(spark, sf_dir, "events")
    stats = ev.agg(
        F.min("value").alias("lo"), F.max("value").alias("hi")
    )
    width = (F.col("hi") - F.col("lo")) / 20.0
    bucket = F.least(
        F.lit(19),
        F.floor((F.col("value") - F.col("lo")) / width).cast("int"),
    )
    return (
        ev.crossJoin(F.broadcast(stats))
        .select(
            bucket.alias("bucket"),
            (F.col("lo") + bucket * width).alias("b_lo"),
            (F.col("lo") + (bucket + 1) * width).alias("b_hi"),
        )
        .groupBy("bucket")
        .agg(
            F.round(F.first("b_lo"), 6).alias("bucket_lo"),
            F.round(F.first("b_hi"), 6).alias("bucket_hi"),
            F.count(F.lit(1)).alias("n"),
        )
    )


HISTOGRAM_SQL = """
WITH st AS (
  SELECT min(value) AS lo, max(value) AS hi FROM events
), b AS (
  SELECT least(19, floor((value - lo) / ((hi - lo) / 20.0))::INT) AS bucket,
         lo, hi
  FROM events, st
)
SELECT bucket,
       round(lo + bucket * ((hi - lo) / 20.0), 6) AS bucket_lo,
       round(lo + (bucket + 1) * ((hi - lo) / 20.0), 6) AS bucket_hi,
       count(*) AS n
FROM b GROUP BY bucket, lo, hi
"""


def heavy_hitters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT heavy-hitter tokens (cnt * k > total) via per-partition
    Misra-Gries candidate summaries + an exact broadcast-restricted
    recount — O(P*k) shuffle rows, never a vocabulary-wide shuffle;
    the output is partition-layout-invariant (operators/sketches.py).
    The eviction path (vocab >> k) is pytest-covered on a skewed
    stream; the fixture vocabulary is small, so here the sketch is a
    superset pass-through and the exactness contract is what's
    checked."""
    from reader_spark.operators import sketches as SK

    return SK.heavy_hitters(
        _t(spark, sf_dir, "documents"), k=40, ngram=1
    )


HEAVY_HITTERS_SQL = """
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS term FROM documents
), tot AS (
  SELECT count(*)::BIGINT AS total_terms FROM tok
)
SELECT term, count(*)::BIGINT AS cnt, total_terms,
       round(count(*)::DOUBLE / total_terms, 6) AS share
FROM tok, tot
GROUP BY term, total_terms
HAVING count(*) * 40 > total_terms
"""


def bigram_logprob_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean log-prob under an interpolated bigram LM
    trained on the corpus itself — the word-ORDER quality filter
    (shuffled/garbled text scores low even with a normal unigram
    mix). LM tables are vocabulary-sized; scoring is one scan-stage
    pair explode + two table joins (operators/curation.py)."""
    return CU.bigram_logprob(_t(spark, sf_dir, "documents"), lam=0.75)


BIGRAM_LM_SQL = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), pair AS (
  SELECT doc_id,
         unnest([{'w1': w[i], 'w2': w[i + 1]} FOR i IN range(1, len(w))],
                recursive := true)
  FROM t
), uni AS (
  SELECT wt AS w, count(*)::BIGINT AS c
  FROM (SELECT unnest(w) AS wt FROM t) GROUP BY 1
), tot AS (
  SELECT sum(c)::BIGINT AS n_tokens FROM uni
), bi AS (
  SELECT w1, w2, count(*)::BIGINT AS c_ab FROM pair GROUP BY 1, 2
)
SELECT doc_id, count(*)::BIGINT AS n_pairs,
       round(sum(ln(0.75 * (c_ab::DOUBLE / c1)
                  + 0.25 * (c2::DOUBLE / n_tokens))) / count(*), 6)
         AS avg_logprob
FROM pair
JOIN bi USING (w1, w2)
JOIN (SELECT w AS w1, c AS c1 FROM uni) USING (w1)
JOIN (SELECT w AS w2, c AS c2 FROM uni) USING (w2)
CROSS JOIN tot
GROUP BY 1
"""


def pack_sequences_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-fit packing of whole documents into fixed 128-token
    training sequences inside md5 hash buckets — the sample-packing
    layout (doc -> bucket, sequence index, token offset). Sequential
    fill state runs as applyInPandas per bucket; ONE shuffle; the
    oracle replays the same recurrence as a recursive CTE."""
    return CU.pack_sequences(
        _t(spark, sf_dir, "documents"), seq_len=128, n_buckets=8
    )


PACK_SEQ_SQL = """
WITH RECURSIVE d AS (
  SELECT doc_id,
         len(string_split(text, ' '))::BIGINT AS n_tok,
         (('0x' || substr(md5('packbkt:' || doc_id::VARCHAR), 1, 15))::BIGINT
           % 8)::INT AS bucket
  FROM documents
), r AS (
  SELECT doc_id, bucket, n_tok,
         row_number() OVER (PARTITION BY bucket ORDER BY doc_id) AS rn
  FROM d
), s AS (
  SELECT doc_id, bucket, n_tok, rn, 0::BIGINT AS seq_idx, 0::BIGINT AS seq_off
  FROM r WHERE rn = 1
  UNION ALL
  SELECT r.doc_id, r.bucket, r.n_tok, r.rn,
         CASE WHEN s.seq_off + s.n_tok + r.n_tok > 128
              THEN s.seq_idx + 1 ELSE s.seq_idx END,
         CASE WHEN s.seq_off + s.n_tok + r.n_tok > 128
              THEN 0 ELSE s.seq_off + s.n_tok END
  FROM s JOIN r ON r.bucket = s.bucket AND r.rn = s.rn + 1
)
SELECT doc_id, bucket, seq_idx, seq_off, n_tok FROM s
"""


def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention over events: users grouped by their
    first-activity week, distinct active users per (cohort week,
    weeks-since-cohort). Two uniform-key aggregates and one join on
    user_id (partitioning reused from the first agg); countDistinct
    expands to the standard two-phase exact plan."""
    ev = _t(spark, sf_dir, "events")
    cohort = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("week", F.col("ts"))).alias("cw")
    )
    wk = F.date_trunc("week", F.col("ts"))
    return (
        ev.join(cohort, "user_id")
        .select(
            "user_id",
            F.date_format("cw", "yyyy-MM-dd").alias("cohort_week"),
            (F.datediff(wk.cast("date"), F.col("cw").cast("date")) / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


COHORT_SQL = """
WITH cohort AS (
  SELECT user_id, min(date_trunc('week', ts)) AS cw
  FROM events GROUP BY 1
)
SELECT strftime(cw, '%Y-%m-%d') AS cohort_week,
       (datediff('day', cw::DATE, date_trunc('week', ts)::DATE) / 7)::INT
         AS week_offset,
       count(DISTINCT user_id)::BIGINT AS n_users
FROM events JOIN cohort USING (user_id)
GROUP BY 1, 2
"""


def ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC bars per event type: open/close by (ts, event_id)
    order, high/low/count/mean over the bar. The two row_number
    windows and the final aggregate all key on (hour, event_type), so
    one exchange serves all three — the window partitioning is reused
    by the groupBy."""
    from pyspark.sql import Window as W

    ev = _t(spark, sf_dir, "events").select(
        F.date_format("ts", "yyyy-MM-dd HH:00:00").alias("hour"),
        "event_type",
        "ts",
        "event_id",
        "value",
    )
    pk = W.partitionBy("hour", "event_type")
    ra = F.row_number().over(pk.orderBy("ts", "event_id"))
    rd = F.row_number().over(pk.orderBy(F.desc("ts"), F.desc("event_id")))
    return (
        ev.withColumn("ra", ra)
        .withColumn("rd", rd)
        .groupBy("hour", "event_type")
        .agg(
            F.sum(F.when(F.col("ra") == 1, F.col("value"))).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.sum(F.when(F.col("rd") == 1, F.col("value"))).alias("close"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg("value"), 6).alias("mean_value"),
        )
    )


OHLC_SQL = """
WITH e AS (
  SELECT strftime(ts, '%Y-%m-%d %H:00:00') AS hour, event_type, ts,
         event_id, value
  FROM events
), w AS (
  SELECT hour, event_type, value,
         row_number() OVER (PARTITION BY hour, event_type
                            ORDER BY ts, event_id) AS ra,
         row_number() OVER (PARTITION BY hour, event_type
                            ORDER BY ts DESC, event_id DESC) AS rd
  FROM e
)
SELECT hour, event_type,
       sum(CASE WHEN ra = 1 THEN value END) AS open,
       max(value) AS high,
       min(value) AS low,
       sum(CASE WHEN rd = 1 THEN value END) AS close,
       count(*)::BIGINT AS n_events,
       round(avg(value), 6) AS mean_value
FROM w GROUP BY 1, 2
"""


def time_decay_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user time-decayed activity features (the feature-store
    aggregation shape): recency-weighted value sum with a 7-day
    half-life, weights anchored at the corpus max timestamp (one
    1-row aggregate broadcast via crossJoin — deterministic, no
    wall clock). Map-only weighting + one uniform user_id aggregate;
    the float sum follows the unigram/bm25 parity pattern (IEEE
    doubles, identical operand order, round 6 at the edge)."""
    ev = _t(spark, sf_dir, "events")
    anchor = ev.agg(F.max(F.unix_micros("ts")).alias("t_max"))
    age_days = (F.col("t_max") - F.unix_micros("ts")) / F.lit(86_400_000_000.0)
    w = F.pow(F.lit(0.5), age_days / F.lit(7.0))
    return (
        ev.crossJoin(F.broadcast(anchor))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value") * w), 6).alias("decayed_value"),
            F.round(F.max(age_days), 6).alias("oldest_age_days"),
        )
    )


TIME_DECAY_SQL = """
WITH a AS (
  SELECT max(epoch_us(ts)) AS t_max FROM events
)
SELECT user_id, count(*)::BIGINT AS n_events,
       round(sum(value * pow(0.5,
             ((t_max - epoch_us(ts)) / 86400000000.0) / 7.0)), 6)
         AS decayed_value,
       round(max((t_max - epoch_us(ts)) / 86400000000.0), 6)
         AS oldest_age_days
FROM events, a
GROUP BY 1
"""


def events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-anomaly screen over the event stream: hourly counts
    per event type z-scored against that type's own hourly
    distribution; hours with |z| >= 2 flagged. The variance is
    written out as explicit integer-sum arithmetic ((n*sum_sq -
    sum^2) / (n * (n-1))) so both engines compute the identical
    float chain — no engine var_samp/stddev internals in the hash
    path. Two vocabulary-sized aggregates (hour x type, then type);
    nothing corpus-sized leaves the first one."""
    ev = _t(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(
            F.date_format("ts", "yyyy-MM-dd HH:00:00").alias("hour"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    stats = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum("cnt").alias("s1"),
        F.sum(F.col("cnt") * F.col("cnt")).alias("s2"),
    )
    mean = F.col("s1") / F.col("n_hours")
    var = (
        F.col("n_hours") * F.col("s2") - F.col("s1") * F.col("s1")
    ) / (F.col("n_hours") * (F.col("n_hours") - 1))
    z = (F.col("cnt") - mean) / F.sqrt(var)
    return (
        # broadcast-gate audit (r12): stats is a per-event-type
        # K-row aggregate, no kernel upstream — estimate stable.
        hourly.join(DD.maybe_broadcast(stats), "event_type")
        .filter(F.abs(z) >= 2.0)
        .select(
            "hour",
            "event_type",
            F.col("cnt").alias("n_events"),
            F.round(z, 6).alias("zscore"),
        )
    )


EVENTS_ANOMALY_SQL = """
WITH hourly AS (
  SELECT strftime(ts, '%Y-%m-%d %H:00:00') AS hour, event_type,
         count(*)::BIGINT AS cnt
  FROM events GROUP BY 1, 2
), stats AS (
  SELECT event_type, count(*)::BIGINT AS n_hours,
         sum(cnt)::BIGINT AS s1, sum(cnt * cnt)::BIGINT AS s2
  FROM hourly GROUP BY 1
)
SELECT hour, event_type, cnt AS n_events,
       round((cnt - s1 / n_hours) /
             sqrt((n_hours * s2 - s1 * s1)::DOUBLE
                  / (n_hours * (n_hours - 1))), 6) AS zscore
FROM hourly JOIN stats USING (event_type)
WHERE abs((cnt - s1 / n_hours) /
          sqrt((n_hours * s2 - s1 * s1)::DOUBLE
               / (n_hours * (n_hours - 1)))) >= 2.0
"""


def doc_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the fraction of a doc's DISTINCT
    3-grams that appear in no other document — the
    memorization-risk / freshness screen run before adding data to
    an eval-adjacent training mix (low novelty = the doc is mostly
    re-assembled from corpus-common spans; the complement of the
    duplication family's signals). One explode to per-doc distinct
    grams, document frequency on the uniform 60-bit gram key, one
    per-doc aggregate."""
    docs = _t(spark, sf_dir, "documents")
    base = DD.ensure_parallelism(docs).select(
        "doc_id", F.split(F.col("text"), " ").alias("ws")
    )
    grams = (
        base.filter(F.size("ws") >= 3)
        .select(
            "doc_id",
            F.explode(DD.shingles_from(F.col("ws"), 3)).alias("g"),
        )
        .select("doc_id", DD.md5_hash64(F.col("g"), "nv").alias("gh"))
        .distinct()
    )
    from pyspark.sql import Window as W

    wdf = W.partitionBy("gh")
    return (
        grams.withColumn("df", F.count(F.lit(1)).over(wdf))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0)).alias(
                "n_novel"
            ),
            F.round(
                F.sum(F.when(F.col("df") == 1, 1).otherwise(0))
                / F.count(F.lit(1)),
                6,
            ).alias("novelty"),
        )
    )


DOC_NOVELTY_SQL = """
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
), grams AS (
  SELECT DISTINCT doc_id,
         ('0x' || substr(md5('nv:' ||
            array_to_string(ws[i + 1 : i + 3], ' ')), 1, 15))::BIGINT AS gh
  FROM (
    SELECT doc_id, ws, unnest(generate_series(0, len(ws) - 3)) AS i
    FROM base WHERE len(ws) >= 3
  )
), d AS (
  SELECT doc_id, gh, count(*) OVER (PARTITION BY gh) AS df FROM grams
)
SELECT doc_id, count(*)::BIGINT AS n_grams,
       sum(CASE WHEN df = 1 THEN 1 ELSE 0 END)::BIGINT AS n_novel,
       round(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END)::DOUBLE / count(*), 6)
         AS novelty
FROM d GROUP BY 1
"""


def doc_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document TF-IDF keywords: top-3 signature terms per doc
    (tfidf = tf * ln(N / df), ties broken alphabetically) — the
    per-DOCUMENT counterpart of source_top_terms' per-source
    signatures, the labeling pass corpus browsers and weak-label
    pipelines run. One explode + (doc, term) aggregate; df via a
    window over the postings frame (one row per (doc, term), so
    COUNT(*) over term partitions IS df — the bm25_topk trick, no
    second corpus pass); top-k via per-doc window.

    The emitted score columns are the EXACT integers (tf, df) rather
    than the rounded double tf*ln(N/df): ln is a libm call whose last
    ulp is not contractual across engines, and round(double, 6) on a
    near-boundary value is where r4's one hash red came from. The
    ranking still orders by the float score (rank flips would need
    two scores within one ulp — only mathematically-equal (tf, df)
    pairs get there, and those tie-break alphabetically on term)."""
    from pyspark.sql import Window as W

    docs = _t(spark, sf_dir, "documents")
    # corpus-size scalar folded into the SAME job as a broadcast
    # 1-row aggregate, attached to the doc-sized frame BEFORE the
    # explode (the doc x term frame is ~100x bigger — joining there
    # costs a BNLJ over the postings)
    n = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    toks = F.split(F.col("text"), " ")
    tf = (
        DD.ensure_parallelism(docs)
        .crossJoin(F.broadcast(n))
        .select("doc_id", "n_docs", F.explode(toks).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"), F.first("n_docs").alias("n_docs"))
    )
    wdf = W.partitionBy("term")
    scored = tf.withColumn("df", F.count(F.lit(1)).over(wdf)).select(
        "doc_id",
        "term",
        "tf",
        "df",
        (F.col("tf") * F.log(F.col("n_docs") / F.col("df"))).alias(
            "tfidf_raw"
        ),
    )
    w = W.partitionBy("doc_id").orderBy(
        F.col("tfidf_raw").desc(), F.col("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "rank", "term", "tf", "df")
    )


DOC_KEYWORDS_SQL = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2
), n AS (
  SELECT count(*)::DOUBLE AS n_docs FROM documents
), scored AS (
  SELECT doc_id, term, tf,
         count(*) OVER (PARTITION BY term) AS df,
         tf * ln(n_docs / (count(*) OVER (PARTITION BY term)))
           AS tfidf_raw
  FROM tf, n
)
SELECT doc_id, rank, term, tf::BIGINT AS tf, df::BIGINT AS df FROM (
  SELECT doc_id, term, tf, df, tfidf_raw,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY tfidf_raw DESC, term) AS rank
  FROM scored
) WHERE rank <= 3
"""


def _record_linkage_frame(cust: DataFrame) -> DataFrame:
    """Blocked fuzzy matching core (testable on any customer-shaped
    frame): DELETION-NEIGHBORHOOD blocking — every name emits one
    wildcard key per character position (the name with that position
    replaced by '_'), and two names at substitution distance 1 share
    exactly the key that wildcards their differing position.
    Complete for every edit-distance-1 substitution (including the
    first character, which the r4 prefix block missed) AND
    scale-safe: a block holds only the names agreeing on all-but-one
    position, so its size is bounded by the alphabet at that
    position (~10 for digit ids) no matter how the key population is
    distributed. Half-name blocking dies exactly there: dense
    zero-padded ids share their entire high half, collapsing a
    prefix block into one quadratic mega-block (measured 122 s at
    sf0.1 vs ~1 s for this scheme). Identical names share ALL their
    keys — deduped by DISTINCT on the id pair before the verify."""
    cust = cust.select("c_custkey", "c_name", "c_acctbal")
    keyed = cust.select(
        "c_custkey",
        F.expr(
            "explode(transform(sequence(1, length(c_name)), i -> "
            "concat(substring(c_name, 1, i-1), '_', "
            "substring(c_name, i+1, 1000000))))"
        ).alias("blk"),
    )
    a = keyed.alias("a")
    b = keyed.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.c_custkey") < F.col("b.c_custkey")),
        )
        .select(
            F.col("a.c_custkey").alias("cust_a"),
            F.col("b.c_custkey").alias("cust_b"),
        )
        .distinct()
    )
    av = cust.select(
        F.col("c_custkey").alias("cust_a"),
        F.col("c_name").alias("name_a"),
        F.col("c_acctbal").alias("bal_a"),
    )
    bv = cust.select(
        F.col("c_custkey").alias("cust_b"),
        F.col("c_name").alias("name_b"),
        F.col("c_acctbal").alias("bal_b"),
    )
    return (
        pairs.join(av, "cust_a")
        .join(bv, "cust_b")
        .filter(F.levenshtein(F.col("name_a"), F.col("name_b")) <= 1)
        .select(
            "cust_a",
            "cust_b",
            F.levenshtein(F.col("name_a"), F.col("name_b")).alias(
                "name_dist"
            ),
            F.round(F.abs(F.col("bal_a") - F.col("bal_b")), 2).alias(
                "bal_diff"
            ),
        )
    )


def record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution shape: blocked fuzzy matching over the
    customer table — DELETION-NEIGHBORHOOD blocking (one key per
    position: the name with that character replaced by '_'; two
    names within edit distance 1 by substitution share at least one
    key, by construction), then exact Levenshtein <= 1 on the full
    name plus an account-balance proximity score. The
    blocking-then-verify economics are identical to LSH-then-Jaccard
    (coarse keys bound the join fan-out, exact measure decides), and
    levenshtein is engine-identical integer arithmetic, so the whole
    match set has a value oracle.

    Scale: a block's members must agree on EVERY character but the
    wildcard position, so block size is bounded by the per-position
    alphabet — no dense-key mega-block (the half-name alternative
    collapsed to one quadratic block on zero-padded ids: 122 s
    measured; this formulation holds at 100 TB)."""
    return _record_linkage_frame(_t(spark, sf_dir, "customer"))


RECORD_LINKAGE_SQL = """
WITH c AS (
  SELECT c_custkey, c_name, c_acctbal FROM customer
), keyed AS (
  SELECT c_custkey,
         substr(c_name, 1, i - 1) || '_' || substr(c_name, i + 1) AS blk
  FROM (SELECT c_custkey, c_name,
               unnest(generate_series(1, length(c_name))) AS i
        FROM c)
), pairs AS (
  SELECT DISTINCT a.c_custkey AS cust_a, b.c_custkey AS cust_b
  FROM keyed a JOIN keyed b
    ON a.blk = b.blk AND a.c_custkey < b.c_custkey
)
SELECT cust_a, cust_b,
       levenshtein(a.c_name, b.c_name)::INT AS name_dist,
       round(abs(a.c_acctbal - b.c_acctbal), 2) AS bal_diff
FROM pairs
JOIN c a ON a.c_custkey = cust_a
JOIN c b ON b.c_custkey = cust_b
WHERE levenshtein(a.c_name, b.c_name) <= 1
"""


def supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supply-concentration screen: Herfindahl-Hirschman index per
    part — sum over suppliers of (quantity share)^2, flagging
    single-source parts (HHI = 1). The whole ratio is computed as
    (sum of squared DECIMAL quantities) / (squared DECIMAL total) —
    numerator and denominator both exact, ONE double division at the
    edge — so no float-summation order can shift a 6dp rounding
    boundary between engines. Two uniform aggregates."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", F.col("l_quantity").cast(DEC_PRICE).alias("q")
    )
    per_supp = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("q").alias("sq")
    )
    return per_supp.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.round(
            F.sum(F.col("sq") * F.col("sq")).cast("double")
            / (F.sum("sq") * F.sum("sq")).cast("double"),
            6,
        ).alias("hhi"),
    )


SUPPLIER_HHI_SQL = """
WITH per_supp AS (
  SELECT l_partkey, l_suppkey,
         sum(CAST(l_quantity AS DECIMAL(12,2))) AS sq
  FROM lineitem GROUP BY 1, 2
)
SELECT l_partkey, count(*)::BIGINT AS n_suppliers,
       round(sum(sq * sq)::DOUBLE / (sum(sq) * sum(sq))::DOUBLE, 6) AS hhi
FROM per_supp GROUP BY 1
"""


def market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over order baskets: co-purchased part pairs
    with support >= 2 orders, their confidence P(b|a) (directed,
    both directions emitted) and lift P(ab)/(P(a)P(b)). The pair
    join is WITHIN-ORDER (self-join on the order key), so its
    fan-out is bounded by basket size squared — the same blocking
    economics as record_linkage; counts aggregate on uniform part
    keys. The order-count scalar is a broadcast 1-row aggregate
    folded into the SAME job (no driver-side action, no second
    lineitem scan — the customer_rfm anchor pattern), and
    confidence/lift are parts-per-million BIGINTs: pure integer
    division, no engine-sensitive round(double, 6) anywhere."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    n = li.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    a = li.alias("a")
    b = li.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") != F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= 2)
    )
    singles = li.groupBy(F.col("l_partkey")).agg(
        F.count(F.lit(1)).alias("n_one")
    )
    sa = singles.select(F.col("l_partkey").alias("part_a"), F.col("n_one").alias("n_a"))
    sb = singles.select(F.col("l_partkey").alias("part_b"), F.col("n_one").alias("n_b"))
    return (
        # broadcast-gate audit (r12): part-count aggregates over the
        # scan, no kernel upstream — estimates stable.
        pairs.join(DD.maybe_broadcast(sa), "part_a")
        .join(DD.maybe_broadcast(sb), "part_b")
        .crossJoin(F.broadcast(n))
        .select(
            "part_a",
            "part_b",
            "n_ab",
            F.expr("(n_ab * 1000000L) div n_a").alias("confidence_ppm"),
            F.expr(
                "(n_ab * n_orders * 1000000L) div (n_a * n_b)"
            ).alias("lift_ppm"),
        )
    )


MARKET_BASKET_SQL = """
WITH li AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), n AS (
  SELECT count(DISTINCT l_orderkey)::BIGINT AS n_orders FROM li
), pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         count(*)::BIGINT AS n_ab
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
), singles AS (
  SELECT l_partkey, count(*)::BIGINT AS n_one FROM li GROUP BY 1
)
SELECT part_a, part_b, n_ab,
       (n_ab * 1000000) // sa.n_one AS confidence_ppm,
       (n_ab * n_orders * 1000000) // (sa.n_one * sb.n_one) AS lift_ppm
FROM pairs
JOIN singles sa ON sa.l_partkey = part_a
JOIN singles sb ON sb.l_partkey = part_b, n
"""


def customer_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation over orders: per customer — Recency (days
    since last order, anchored at the corpus max date), Frequency
    (order count), Monetary (exact-DECIMAL total, doubled at the
    edge) — each cut into tertiles by exact percentiles (one 1-row
    broadcast), segment code = r*100 + f*10 + m. The classic
    warehouse segmentation verb: two bounded aggregates + map-only
    bucketing."""
    o = _t(spark, sf_dir, "orders")
    anchor = o.agg(F.max("o_orderdate").alias("t_max"))
    per = (
        o.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.col("o_totalprice").cast(DEC_PRICE)).alias("mon_d"),
        )
        .crossJoin(F.broadcast(anchor))
        .select(
            F.col("o_custkey").alias("custkey"),
            F.datediff("t_max", "last_order").alias("recency_days"),
            "frequency",
            F.col("mon_d").cast("double").alias("monetary"),
        )
    )
    cuts = per.agg(
        F.expr("percentile(recency_days, 0.33)").alias("r1"),
        F.expr("percentile(recency_days, 0.67)").alias("r2"),
        F.expr("percentile(frequency, 0.33)").alias("f1"),
        F.expr("percentile(frequency, 0.67)").alias("f2"),
        F.expr("percentile(monetary, 0.33)").alias("m1"),
        F.expr("percentile(monetary, 0.67)").alias("m2"),
    )

    def tertile(c, lo, hi):
        return (
            F.when(F.col(c) < F.col(lo), 1)
            .when(F.col(c) < F.col(hi), 2)
            .otherwise(3)
        )

    return per.crossJoin(F.broadcast(cuts)).select(
        "custkey",
        "recency_days",
        "frequency",
        F.round("monetary", 2).alias("monetary"),
        (
            tertile("recency_days", "r1", "r2") * 100
            + tertile("frequency", "f1", "f2") * 10
            + tertile("monetary", "m1", "m2")
        ).alias("rfm_segment"),
    )


CUSTOMER_RFM_SQL = """
WITH a AS (
  SELECT max(o_orderdate) AS t_max FROM orders
), per AS (
  SELECT o_custkey AS custkey,
         date_diff('day', max(o_orderdate), t_max)::INT AS recency_days,
         count(*)::BIGINT AS frequency,
         (sum(CAST(o_totalprice AS DECIMAL(12,2))))::DOUBLE AS monetary
  FROM orders, a
  GROUP BY 1, t_max
), c AS (
  SELECT quantile_cont(recency_days, 0.33) AS r1,
         quantile_cont(recency_days, 0.67) AS r2,
         quantile_cont(frequency, 0.33) AS f1,
         quantile_cont(frequency, 0.67) AS f2,
         quantile_cont(monetary, 0.33) AS m1,
         quantile_cont(monetary, 0.67) AS m2
  FROM per
)
SELECT custkey, recency_days, frequency,
       round(monetary, 2) AS monetary,
       ((CASE WHEN recency_days < r1 THEN 1
              WHEN recency_days < r2 THEN 2 ELSE 3 END) * 100
        + (CASE WHEN frequency < f1 THEN 1
                WHEN frequency < f2 THEN 2 ELSE 3 END) * 10
        + (CASE WHEN monetary < m1 THEN 1
                WHEN monetary < m2 THEN 2 ELSE 3 END)) AS rfm_segment
FROM per, c
"""


def events_wow_trends(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week volume trends per event type: weekly counts,
    the previous week's count via lag over the per-type sequence,
    and the WoW delta/ratio — the release-health dashboard verb.
    One vocabulary-sized aggregate + a window partitioned by type
    (state bounded by weeks x types)."""
    from pyspark.sql import Window as W

    ev = _t(spark, sf_dir, "events")
    weekly = ev.groupBy(
        F.date_format(F.date_trunc("week", "ts"), "yyyy-MM-dd").alias("week"),
        "event_type",
    ).agg(F.count(F.lit(1)).alias("n"))
    w = W.partitionBy("event_type").orderBy("week")
    prev = F.lag("n").over(w)
    return weekly.select(
        "week",
        "event_type",
        "n",
        prev.alias("prev_n"),
        (F.col("n") - prev).alias("delta"),
        F.round(F.col("n") / prev, 6).alias("wow_ratio"),
    )


WOW_TRENDS_SQL = """
WITH weekly AS (
  SELECT strftime(date_trunc('week', ts), '%Y-%m-%d') AS week,
         event_type, count(*)::BIGINT AS n
  FROM events GROUP BY 1, 2
)
SELECT week, event_type, n,
       lag(n) OVER w AS prev_n,
       n - lag(n) OVER w AS delta,
       round(n::DOUBLE / lag(n) OVER w, 6) AS wow_ratio
FROM weekly
WINDOW w AS (PARTITION BY event_type ORDER BY week)
"""


def kcore_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core of the verified near-dup graph (k=30, 8-round bounded
    peel): the dense-boilerplate detector — nodes surviving the peel
    sit in near-clique template families, a stronger signal than raw
    degree, which single hub documents inflate
    (operators/graph.py::kcore; monotone peel, so the fixed round
    budget is engine-reproducible semantics)."""
    from reader_spark.operators import graph as GR

    docs = _t(spark, sf_dir, "documents")
    base = pin(DD.token_hashes(docs))
    sigs = pin(DD.minhash_signature(base, num_hashes=_MH_K, hashes_col="toks"))
    pairs = DD.lsh_candidate_pairs(sigs, num_hashes=_MH_K, band_size=_MH_BAND)
    verified = DD.jaccard_verify(pairs, docs, threshold=0.8, toks=base)
    return GR.kcore(verified.select("doc_a", "doc_b"), k=30, rounds=8)


def lpa_communities_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronized label propagation over the verified near-dup
    graph, 4 fixed rounds, min-label tie-break (operators/graph.py::
    lpa_communities): splits a connected component into its dense
    template families — CC merges two clusters bridged by one
    accidental pair, LPA keeps them apart unless the bridge carries
    neighborhood mass. Deterministic by construction (synchronized
    rounds, integer counts, total tie order) -> exact oracle."""
    from reader_spark.operators import graph as GR

    docs = _t(spark, sf_dir, "documents")
    base = pin(DD.token_hashes(docs))
    sigs = pin(DD.minhash_signature(base, num_hashes=_MH_K, hashes_col="toks"))
    pairs = DD.lsh_candidate_pairs(sigs, num_hashes=_MH_K, band_size=_MH_BAND)
    verified = DD.jaccard_verify(pairs, docs, threshold=0.8, toks=base)
    return GR.lpa_communities(
        verified.select("doc_a", "doc_b"), iterations=4
    )


def lpa_communities_indexed_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LPA over the MATERIALIZED near-dup graph index
    (operators/dedup.py::neardup_index_write/update/neardup_edges):
    the index is built on 80% of the corpus and incrementally
    updated with the other 20% (update == rebuild exactly — delta
    banding + a band-row equi-join against the stored bands emit the
    same candidate set full LSH does, and the Jaccard verify is the
    same expression), then the 4 label rounds read the parquet edge
    artifact instead of re-deriving minhash -> LSH -> verify. Same
    oracle as `lpa_communities`: the index changes the plan, not the
    answer. At 100 TB the edge materialization replaces the
    in-memory edges checkpoint SCALE.md's LPA probe found to be the
    single-box limit."""
    from reader_spark.operators import graph as GR

    docs = _t(spark, sf_dir, "documents")
    work = _work_dir("ndidx_")
    DD.neardup_index_write(
        docs.filter(F.col("doc_id") % 5 != 0), work,
        num_hashes=_MH_K, band_size=_MH_BAND, threshold=0.8,
    )
    DD.neardup_index_update(
        spark, work, docs.filter(F.col("doc_id") % 5 == 0),
        num_hashes=_MH_K, band_size=_MH_BAND, threshold=0.8,
    )
    return GR.lpa_communities(DD.neardup_edges(spark, work), iterations=4)


def canonical_docs_indexed_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor selection over the MATERIALIZED component map
    (operators/dedup.py::neardup_cc_write/_neardup_cc_update): the
    index is built on 80% of the corpus with its cc/ artifact, then
    incrementally updated with the other 20% — merges are resolved on
    the delta-bounded label graph and applied by rewriting only the
    affected label buckets, never a corpus-wide
    connected-components run. Same oracle as `canonical_docs`: the
    materialization changes the plan (no CC at read time), not the
    answer. The 100 TB story: cluster assignment becomes an O(delta)
    maintenance verb instead of the per-wave full-graph shuffle
    SCALE.md's LPA probe measured as the single-box limit."""
    docs = _t(spark, sf_dir, "documents")
    work = _work_dir("ccidx_")
    DD.neardup_index_write(
        docs.filter(F.col("doc_id") % 5 != 0), work,
        num_hashes=_MH_K, band_size=_MH_BAND, threshold=0.8,
    )
    DD.neardup_cc_write(spark, work, n_buckets=8)
    DD.neardup_index_update(
        spark, work, docs.filter(F.col("doc_id") % 5 == 0),
        num_hashes=_MH_K, band_size=_MH_BAND, threshold=0.8,
    )
    comp = DD.neardup_canonical(spark, work)
    q = docs.select(
        "doc_id", TX.quality_score(F.col("text")).alias("quality")
    )
    members = q.join(comp, "doc_id")
    best = members.groupBy("component_id").agg(
        F.count("*").alias("n_members"),
        F.max(
            F.struct(F.col("quality"), (-F.col("doc_id")).alias("neg_id"))
        ).alias("b"),
    )
    return best.select(
        "component_id",
        (-F.col("b.neg_id")).cast("long").alias("kept_doc_id"),
        "n_members",
        F.col("b.quality").alias("best_quality"),
    )


def component_census_indexed_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """One-row skew census of the materialized component map — the
    engine-neutral core of `neardup_cc_occupancy` (operators/
    dedup.py): corpus size, component count, singleton count, the
    heaviest component (size + min-tiebreak label) and its corpus
    share in exact integer ppm. This is the alarm for the cc/ layout
    hazard: buckets key on label, so a mega near-dup family owns its
    bucket and update economics degrade to rewriting it — top1_share
    is the number a 100 TB operator watches (the per-bucket
    occupancy_ppm view is layout-specific and file-level tested).
    Built over the same 80% write + 20% incremental update as
    `canonical_docs_indexed`."""
    docs = _t(spark, sf_dir, "documents")
    work = _work_dir("ccocc_")
    DD.neardup_index_write(
        docs.filter(F.col("doc_id") % 5 != 0), work,
        num_hashes=_MH_K, band_size=_MH_BAND, threshold=0.8,
    )
    DD.neardup_cc_write(spark, work, n_buckets=8)
    DD.neardup_index_update(
        spark, work, docs.filter(F.col("doc_id") % 5 == 0),
        num_hashes=_MH_K, band_size=_MH_BAND, threshold=0.8,
    )
    occ = DD.neardup_cc_occupancy(spark, work)
    # layout-level facts reduce to engine-neutral ones: every label
    # lives in exactly ONE bucket, so the global max of per-bucket
    # max_label_rows IS the heaviest component's size
    heavy = occ.agg(
        F.sum("n_rows").alias("n_docs"),
        F.max(
            F.struct(
                F.col("max_label_rows"), (-F.col("heaviest_label")).alias("nl")
            )
        ).alias("__m"),
    ).select(
        "n_docs",
        F.col("__m.max_label_rows").alias("top1_members"),
        (-F.col("__m.nl")).cast("long").alias("top1_component"),
    )
    comp = DD.neardup_canonical(spark, work)
    sizes = comp.groupBy("component_id").agg(F.count("*").alias("n"))
    census = sizes.agg(
        F.count("*").alias("n_components"),
        F.sum((F.col("n") == 1).cast("long")).alias("n_singletons"),
    )
    return (
        heavy.crossJoin(F.broadcast(census))
        .select(
            "n_docs",
            "n_components",
            "n_singletons",
            "top1_component",
            "top1_members",
            F.expr(
                "(top1_members * 1000000) div greatest(n_docs, 1)"
            ).alias("top1_share_ppm"),
        )
    )


COMPONENT_CENSUS_SQL = _COMP_CTES + """
, compmap AS (
  SELECT docs.doc_id, coalesce(mr.comp, docs.doc_id) AS component_id
  FROM documents docs
  LEFT JOIN (SELECT n, min(m) AS comp FROM reach GROUP BY n) mr
    ON mr.n = docs.doc_id
), sizes AS (
  SELECT component_id, count(*) AS n FROM compmap GROUP BY 1
), heavy AS (
  SELECT n AS top1_members, component_id AS top1_component
  FROM sizes ORDER BY n DESC, component_id ASC LIMIT 1
)
SELECT (SELECT sum(n) FROM sizes)::BIGINT AS n_docs,
       (SELECT count(*) FROM sizes)::BIGINT AS n_components,
       (SELECT sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) FROM sizes)::BIGINT
         AS n_singletons,
       top1_component,
       top1_members::BIGINT AS top1_members,
       ((top1_members * 1000000) // greatest((SELECT sum(n) FROM sizes), 1))::BIGINT
         AS top1_share_ppm
FROM heavy
"""


def _lpa_sql(iterations: int) -> str:
    head = DEDUP_COMPONENTS_SQL.split(", e AS (")[0] + """
, e AS (
  SELECT doc_a AS s, doc_b AS d FROM vp
  UNION ALL
  SELECT doc_b, doc_a FROM vp
), l0 AS (
  SELECT DISTINCT s AS node, s AS lbl FROM e
)"""
    step = """
, l{i} AS (
  SELECT node, lbl FROM (
    SELECT e.d AS node, p.lbl,
           row_number() OVER (PARTITION BY e.d
                              ORDER BY count(*) DESC, p.lbl ASC) AS r
    FROM e JOIN l{j} p ON p.node = e.s
    GROUP BY e.d, p.lbl
  ) WHERE r = 1
)"""
    body = "".join(step.format(i=i, j=i - 1) for i in range(1, iterations + 1))
    return (
        head
        + body
        + f"\nSELECT node, lbl AS community FROM l{iterations}"
    )


LPA_SQL = _lpa_sql(4)


def _kcore_sql(k: int, rounds: int) -> str:
    # MATERIALIZED CTEs are load-bearing: each peel round references
    # the previous round twice (degree + restriction), so DuckDB's
    # default per-reference CTE inlining would expand the whole
    # minhash pipeline 2^rounds times ("too many open files" on the
    # parquet scans long before any work happens).
    prefix = DEDUP_COMPONENTS_SQL.split(", e AS (")[0].replace(
        ", vp AS (", ", vp AS MATERIALIZED (", 1
    )
    parts = [
        """, ke0 AS MATERIALIZED (
  SELECT doc_a AS s, doc_b AS d FROM vp WHERE doc_a <> doc_b
  UNION
  SELECT doc_b, doc_a FROM vp WHERE doc_a <> doc_b
)"""
    ]
    for i in range(1, rounds + 1):
        parts.append(f""", kd{i} AS (
  SELECT s, count(*) AS c FROM ke{i - 1} GROUP BY 1
), ka{i} AS MATERIALIZED (
  SELECT s FROM kd{i} WHERE c >= {k}
), ke{i} AS MATERIALIZED (
  SELECT e.s, e.d FROM ke{i - 1} e
  JOIN ka{i} x ON e.s = x.s
  JOIN ka{i} y ON e.d = y.s
)""")
    parts.append(f"""
SELECT s AS node, count(*)::BIGINT AS core_degree
FROM ke{rounds} GROUP BY 1 HAVING count(*) >= {k}
""")
    return prefix + "".join(parts)


KCORE_SQL = _kcore_sql(30, 8)


def vector_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-QA for the EMBEDDING table (the vector analogue of
    data_quality_report): per label partition — vector count, dim
    census, L2-norm distribution (mean/min/max), zero-vector and
    non-finite counts. The checks that catch the classic embedding-
    pipeline failures (all-zero rows from a crashed encoder, NaNs
    from fp16 overflow, ragged dims from a schema drift) before an
    index build bakes them in. Map-only per-row arithmetic + one
    group-space aggregate."""
    from reader_spark.operators.similarity import dot

    emb = _t(spark, sf_dir, "embeddings")
    vec = F.col("embedding").cast("array<double>")
    norm2 = dot(vec, vec)
    is_finite = F.aggregate(
        vec,
        F.lit(True),
        lambda acc, x: acc & ~F.isnan(x) & (F.abs(x) < float("inf")),
    )
    per = DD.ensure_parallelism(emb).select(
        "label",
        F.size(vec).alias("dim"),
        F.sqrt(norm2).alias("nrm"),
        (norm2 == 0.0).cast("long").alias("is_zero"),
        (~is_finite).cast("long").alias("is_bad"),
    )
    return per.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.countDistinct("dim").alias("n_dims_seen"),
        F.round(F.avg("nrm"), 6).alias("mean_norm"),
        F.round(F.min("nrm"), 6).alias("min_norm"),
        F.round(F.max("nrm"), 6).alias("max_norm"),
        F.sum("is_zero").alias("n_zero"),
        F.sum("is_bad").alias("n_nonfinite"),
    )


VECTOR_QA_SQL = f"""
WITH v AS (
  SELECT label, embedding::DOUBLE[] AS e FROM embeddings
), per AS (
  SELECT label, len(e) AS dim,
         sqrt({_KNN_DOT.format(a="e", b="e")}) AS nrm,
         CASE WHEN {_KNN_DOT.format(a="e", b="e")} = 0.0
              THEN 1 ELSE 0 END AS is_zero,
         CASE WHEN list_reduce(list_transform(e,
                x -> CASE WHEN isnan(x) OR NOT isfinite(x)
                          THEN 1 ELSE 0 END), (a, b) -> a + b) > 0
              THEN 1 ELSE 0 END AS is_bad
  FROM v
)
SELECT label, count(*)::BIGINT AS n_vecs,
       count(DISTINCT dim)::BIGINT AS n_dims_seen,
       round(avg(nrm), 6) AS mean_norm,
       round(min(nrm), 6) AS min_norm,
       round(max(nrm), 6) AS max_norm,
       sum(is_zero)::BIGINT AS n_zero,
       sum(is_bad)::BIGINT AS n_nonfinite
FROM per GROUP BY 1
"""


def bloom_seen_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter seen-set gate (operators/sketches.py
    bloom_tiles/bloom_probe): build the filter over 90% of the
    corpus's doc ids (the "already ingested" set), probe every id,
    and report the membership-verdict census against ground truth.
    The Bloom guarantee is asserted by value: n_false_negative MUST
    be 0 (a definitely-new verdict is always safe to ingest), and
    false positives are the priced, bounded cost of replacing a
    corpus-sized anti-join with a KB-scale broadcast bitmap — the
    canonical 100 TB dedup-at-ingest primitive. Fully relational
    (md5 positions + bit_or words + bit-test join), so the oracle
    reproduces every bit."""
    from reader_spark.operators import sketches as SK

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    seen = docs.filter(F.col("doc_id") % 10 != 0)
    bloom = pin(SK.bloom_tiles(seen, "doc_id"))
    v = SK.bloom_probe(docs, bloom, "doc_id")
    truly_seen = F.col("doc_id") % 10 != 0
    return v.agg(
        F.count(F.lit(1)).alias("n_probed"),
        F.count(F.when(F.col("maybe_seen"), 1)).alias("n_maybe_seen"),
        F.count(F.when(~F.col("maybe_seen"), 1)).alias(
            "n_definitely_new"
        ),
        F.count(
            F.when(F.col("maybe_seen") & ~truly_seen, 1)
        ).alias("n_false_positive"),
        F.count(
            F.when(~F.col("maybe_seen") & truly_seen, 1)
        ).alias("n_false_negative"),
    )


BLOOM_SQL = """
WITH spos AS (
  SELECT ('0x'||substr(md5('bloom'||i::VARCHAR||':'||doc_id::VARCHAR),1,15))::BIGINT % 245760 AS p
  FROM (SELECT doc_id FROM documents WHERE doc_id % 10 != 0), range(5) t(i)
), words AS (
  SELECT p // 60 AS word,
         bit_or(1::BIGINT << (p % 60)::INT) AS bits
  FROM spos GROUP BY 1
), ppos AS (
  SELECT doc_id,
         ('0x'||substr(md5('bloom'||i::VARCHAR||':'||doc_id::VARCHAR),1,15))::BIGINT % 245760 AS p
  FROM documents, range(5) t(i)
), verdict AS (
  SELECT d.doc_id,
         (sum(CASE WHEN coalesce(w.bits, 0) & (1::BIGINT << (d.p % 60)::INT) != 0
                   THEN 1 ELSE 0 END) = 5) AS maybe_seen
  FROM ppos d LEFT JOIN words w ON w.word = d.p // 60
  GROUP BY d.doc_id
)
SELECT count(*) AS n_probed,
       count(*) FILTER (WHERE maybe_seen) AS n_maybe_seen,
       count(*) FILTER (WHERE NOT maybe_seen) AS n_definitely_new,
       count(*) FILTER (WHERE maybe_seen AND doc_id % 10 = 0) AS n_false_positive,
       count(*) FILTER (WHERE NOT maybe_seen AND doc_id % 10 != 0) AS n_false_negative
FROM verdict
"""


def bloom_tuning_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Bloom geometry knob table — `lsh_tuning_table`'s pattern
    applied to the seen-set gate: ONE row per m_words sweeping the
    filter size at fixed k, with the MEASURED false-positive count
    over the known-new probe set (ids the filter never saw). Small
    m saturates (every probe collides), production m drives fp to
    ~zero; choosing the size is reading a table, not rerunning
    ingest. Integer-only outputs (counts, not float rates) so the
    oracle compares exactly; the whole sweep is ONE Spark action
    (per-geometry one-row aggregates unioned — the
    lsh_tuning_report lesson)."""
    from reader_spark.functions.localrel import local_df
    from reader_spark.operators import sketches as SK

    # r12 sweep collapse (the lsh_tuning_report lesson, second
    # application): the per-geometry bloom_tiles + 5-broadcast-join
    # bloom_probe + aggregate chains were ~41 stages of ~KB work.
    # Tag every tile and probe row with its geometry instead: ONE
    # bit_or exchange builds all three word tables, ONE chain of 5
    # broadcast joins (keyed on geometry + word) probes all three,
    # and ONE grouped aggregate yields the table — collected into a
    # LocalTableScan so row order stays the sweep order. Identical
    # integer outputs; bloom_probe's NULL-key coalesce semantics
    # reproduced (probe keys here are non-NULL doc ids either way).
    geoms = (16, 256, 4096)
    k_hashes = 5
    docs = pin(_t(spark, sf_dir, "documents").select("doc_id"))
    seen = docs.filter(F.col("doc_id") % 10 != 0)
    new = docs.filter(F.col("doc_id") % 10 == 0)
    wb = SK.BLOOM_WORD_BITS
    tile_parts, probe_parts = [], []
    for m_words in geoms:
        pos = SK.bloom_positions(F.col("doc_id"), m_words, k_hashes)
        tile_parts.append(
            seen.select(
                F.lit(m_words).alias("g"),
                F.explode(F.array(*pos)).alias("p"),
            ).select(
                "g",
                (F.col("p") / wb).cast("long").alias("word"),
                F.expr(
                    f"shiftleft(CAST(1 AS BIGINT), CAST(p % {wb} AS INT))"
                ).alias("m"),
            )
        )
        probe_parts.append(
            new.select(
                F.lit(m_words).alias("g"),
                F.col("doc_id"),
                *[p.alias(f"__p{i}") for i, p in enumerate(pos)],
            )
        )
    tiles_rows = tile_parts[0]
    for t in tile_parts[1:]:
        tiles_rows = tiles_rows.unionByName(t)
    tiles = pin(
        tiles_rows.groupBy("g", "word").agg(F.bit_or("m").alias("bits"))
    )
    out = probe_parts[0]
    for pr in probe_parts[1:]:
        out = out.unionByName(pr)
    wm = [F.col("g"), F.col("doc_id")]
    for i in range(k_hashes):
        wm.append(
            (F.col(f"__p{i}") / wb).cast("long").alias(f"__w{i}")
        )
        wm.append(
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), "
                f"CAST(__p{i} % {wb} AS INT))"
            ).alias(f"__m{i}")
        )
    out = out.select(*wm)
    hit = None
    for i in range(k_hashes):
        side = F.broadcast(
            tiles.select(
                F.col("g"),
                F.col("word").alias(f"__w{i}"),
                F.col("bits").alias(f"__b{i}"),
            )
        )
        out = out.join(side, ["g", f"__w{i}"], "left")
        h = (
            F.coalesce(F.col(f"__b{i}"), F.lit(0)).bitwiseAND(
                F.col(f"__m{i}")
            )
            != 0
        )
        hit = h if hit is None else (hit & h)
    maybe_seen = F.coalesce(hit, F.lit(False))
    agg = (
        out.groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("n_probed_new"),
            F.count(F.when(maybe_seen, 1)).alias("n_false_positive"),
        )
        .collect()
    )
    by_g = {
        int(r["g"]): (int(r["n_probed_new"]), int(r["n_false_positive"]))
        for r in agg
    }
    return local_df(
        spark,
        [(m, k_hashes, *by_g.get(m, (0, 0))) for m in geoms],
        "m_words int, k_hashes int, n_probed_new long, "
        "n_false_positive long",
    )


def _bloom_sweep_duck(m_words: int) -> str:
    m_bits = m_words * 60
    return f"""
SELECT {m_words} AS m_words, 5 AS k_hashes,
       count(*) AS n_probed_new,
       count(*) FILTER (WHERE maybe_seen) AS n_false_positive
FROM (
  SELECT d.doc_id,
         (sum(CASE WHEN coalesce(w.bits, 0)
                        & (1::BIGINT << (d.p % 60)::INT) != 0
                   THEN 1 ELSE 0 END) = 5) AS maybe_seen
  FROM (
    SELECT doc_id,
           ('0x'||substr(md5('bloom'||i::VARCHAR||':'||doc_id::VARCHAR),1,15))::BIGINT % {m_bits} AS p
    FROM documents, range(5) t(i) WHERE doc_id % 10 = 0
  ) d
  LEFT JOIN (
    SELECT p // 60 AS word, bit_or(1::BIGINT << (p % 60)::INT) AS bits
    FROM (
      SELECT ('0x'||substr(md5('bloom'||i::VARCHAR||':'||doc_id::VARCHAR),1,15))::BIGINT % {m_bits} AS p
      FROM documents, range(5) t(i) WHERE doc_id % 10 != 0
    ) GROUP BY 1
  ) w ON w.word = d.p // 60
  GROUP BY d.doc_id
) v
"""


BLOOM_TUNING_SQL = "\nUNION ALL\n".join(
    _bloom_sweep_duck(m) for m in (16, 256, 4096)
)


def bloom_autosize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r12 seen-set autosizer as ONE relational row: the geometry
    `bloom_write` derives for a KNOWN corpus size (the
    `expected_keys=n` path; the unknown-size first-wave path
    additionally multiplies n by BLOOM_AUTOSIZE_HEADROOM before this
    same arithmetic) — distinct key count of the corpus, optimal
    m_bits = ceil(n x bits-per-key) with the margined bits-per-key
    fixed as an integer micro-scaled constant
    (sketches._bits_per_key_micro — float math happens ONCE in
    python, both engines see the same literal), 60-bit word count,
    and the rounded-optimal k. Pure integer arithmetic after the
    constant, so the oracle lands on the same ceil boundary; one
    count-distinct aggregate over the corpus, K=1 rows out."""
    from reader_spark.operators import sketches as SK

    micro = SK._bits_per_key_micro(1e-6)
    _, k_h = SK.bloom_geometry(1, 1e-6)
    return (
        _t(spark, sf_dir, "documents")
        .agg(F.count_distinct(F.col("doc_id")).alias("n_keys"))
        .select(
            "n_keys",
            F.lit(micro).alias("bits_per_key_micro"),
            F.expr(
                f"(n_keys * {micro}L + 999999) DIV 1000000"
            ).alias("m_bits"),
            F.expr(
                f"((n_keys * {micro}L + 999999) DIV 1000000 "
                f"+ {SK.BLOOM_WORD_BITS - 1}) DIV {SK.BLOOM_WORD_BITS}"
            ).alias("m_words"),
            F.lit(k_h).cast("int").alias("k_hashes"),
        )
    )


def _bloom_autosize_sql() -> str:
    from reader_spark.operators import sketches as SK

    micro = SK._bits_per_key_micro(1e-6)
    _, k_h = SK.bloom_geometry(1, 1e-6)
    return f"""
WITH n AS (SELECT count(DISTINCT doc_id)::BIGINT AS n_keys FROM documents)
SELECT n_keys,
       {micro}::BIGINT AS bits_per_key_micro,
       (n_keys * {micro} + 999999) // 1000000 AS m_bits,
       ((n_keys * {micro} + 999999) // 1000000
        + {SK.BLOOM_WORD_BITS - 1}) // {SK.BLOOM_WORD_BITS} AS m_words,
       {k_h}::INT AS k_hashes
FROM n
"""


BLOOM_AUTOSIZE_SQL = _bloom_autosize_sql()


def kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch per event type:
    keep the k = 64 smallest md5 hash values of the key; estimate =
    (k - 1) / kth_min (hashes scaled to [0, 1)). Unlike HLL (whose
    row is contract-graded), KMV on a deterministic hash is
    bit-reproducible — the oracle computes the IDENTICAL estimate,
    so the sketch itself is value-checked, plus the exact count and
    relative error beside it.

    Scale: the k-smallest selection is a per-group sort bounded by
    the group's hash count — at 100 TB swap the window for a
    map-side bounded min-k (same mapInPandas combine as
    knn_bruteforce's _local_topk); KMV sketches MERGE by unioning
    hash sets and re-truncating to k, which is why warehouses use
    exactly this shape for mergeable distinct tiles."""
    from pyspark.sql import Window as W

    k = 64
    ev = _t(spark, sf_dir, "events")
    hashed = ev.select(
        "event_type",
        F.conv(
            F.substring(F.md5(F.concat(F.lit("kmv:"), F.col("user_id").cast("string"))), 1, 15),
            16,
            10,
        )
        .cast("long")
        .alias("h"),
    ).distinct()
    w = W.partitionBy("event_type").orderBy("h")
    kth = (
        hashed.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == k)
        .select("event_type", F.col("h").alias("kth"))
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    scale = float(1 << 60)
    est = F.round((k - 1) / (F.col("kth") / F.lit(scale)), 6)
    # LEFT join: a group with < k distinct keys has no kth value —
    # its sketch columns are null (at tiny SFs), never a dropped row
    return exact.join(kth, "event_type", "left").select(
        "event_type",
        "exact_distinct",
        est.alias("kmv_estimate"),
        F.round(
            F.abs(est - F.col("exact_distinct")) / F.col("exact_distinct"), 6
        ).alias("rel_err"),
    )


def source_overlap_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source content overlap from KMV sketches alone
    (operators/sketches.py::kmv_tiles + kmv_overlap): per source,
    the k = 64 smallest md5 text hashes; per source pair, the KMV
    resemblance estimate as integer ppm. The bounded-state sibling of
    `source_overlap` — that one JOINS the corpora (near-dup pipeline,
    shuffle proportional to the data); this one compares
    kilobyte sketches, the shape a 100 TB provenance audit runs
    FIRST to decide which source pairs deserve the exact pass.
    Deterministic md5 hashes make the sketch itself value-checked
    against the oracle, not just the query around it."""
    from reader_spark.operators import sketches as SK

    docs = _t(spark, sf_dir, "documents")
    tiles = SK.kmv_tiles(docs, ["source"], "text", k=64)
    out = SK.kmv_overlap(tiles, "source", k=64)
    return out.select(
        F.col("key_a").alias("source_a"),
        F.col("key_b").alias("source_b"),
        "m",
        "n_common",
        "jaccard_est_ppm",
    )


SOURCE_OVERLAP_KMV_SQL = """
WITH h AS (
  SELECT DISTINCT source,
         ('0x' || substr(md5('kmv:' || text), 1, 15))::BIGINT AS h
  FROM documents
), sk AS (
  SELECT source, list(h ORDER BY h) AS kmv FROM (
    SELECT source, h,
           row_number() OVER (PARTITION BY source ORDER BY h) AS r
    FROM h
  ) WHERE r <= 64 GROUP BY source
), pr AS (
  SELECT a.source AS source_a, b.source AS source_b,
         a.kmv AS ka, b.kmv AS kb,
         list_slice(list_sort(list_distinct(a.kmv || b.kmv)), 1, 64) AS u
  FROM sk a JOIN sk b ON a.source < b.source
)
SELECT source_a, source_b,
       len(u)::BIGINT AS m,
       len(list_intersect(list_intersect(u, ka), kb))::BIGINT AS n_common,
       (len(list_intersect(list_intersect(u, ka), kb)) * 1000000) // len(u)
         AS jaccard_est_ppm
FROM pr
"""


KMV_SQL = """
WITH h AS (
  SELECT DISTINCT event_type,
         ('0x' || substr(md5('kmv:' || user_id::VARCHAR), 1, 15))::BIGINT AS h
  FROM events
), kth AS (
  SELECT event_type, h AS kth FROM (
    SELECT event_type, h,
           row_number() OVER (PARTITION BY event_type ORDER BY h) AS r
    FROM h
  ) WHERE r = 64
), ex AS (
  SELECT event_type, count(DISTINCT user_id)::BIGINT AS exact_distinct
  FROM events GROUP BY 1
)
SELECT event_type, exact_distinct,
       round(63 / (kth / 1152921504606846976.0), 6) AS kmv_estimate,
       round(abs(round(63 / (kth / 1152921504606846976.0), 6)
                 - exact_distinct)::DOUBLE / exact_distinct, 6) AS rel_err
FROM ex LEFT JOIN kth USING (event_type)
"""


def price_outliers_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (median/MAD) outlier screen per group — the data-QA
    verb that survives the outliers it hunts (mean/std z-scores get
    dragged by the very tail they flag): per returnflag, median
    price, MAD = median(|x - med|), outliers = |x - med| >
    3 * 1.4826 * MAD. Two grouped exact-percentile aggregates with a
    broadcast rejoin between them; the approximate-percentile swap
    is the 100 TB path (same plan, percentile_approx)."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.col("l_extendedprice").alias("x")
    )
    med = li.groupBy("l_returnflag").agg(
        F.expr("percentile(x, 0.5)").alias("med")
    )
    j = li.join(F.broadcast(med), "l_returnflag")
    mad = j.groupBy("l_returnflag").agg(
        F.expr("percentile(abs(x - med), 0.5)").alias("mad"),
        F.first("med").alias("med"),
    )
    j2 = li.join(F.broadcast(mad), "l_returnflag")
    is_out = F.abs(F.col("x") - F.col("med")) > 3 * 1.4826 * F.col("mad")
    return j2.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(is_out.cast("long")).alias("n_outliers"),
        F.round(F.sum(is_out.cast("long")) / F.count(F.lit(1)), 6).alias(
            "outlier_frac"
        ),
        F.round(F.first("med"), 6).alias("med"),
        F.round(F.first("mad"), 6).alias("mad"),
    )


PRICE_MAD_SQL = """
WITH med AS (
  SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS med
  FROM lineitem GROUP BY 1
), mad AS (
  SELECT l.l_returnflag,
         quantile_cont(abs(l.l_extendedprice - m.med), 0.5) AS mad,
         any_value(m.med) AS med
  FROM lineitem l JOIN med m USING (l_returnflag)
  GROUP BY 1
)
SELECT l.l_returnflag AS l_returnflag,
       count(*)::BIGINT AS n_rows,
       sum(CASE WHEN abs(l.l_extendedprice - m.med) > 3 * 1.4826 * m.mad
                THEN 1 ELSE 0 END)::BIGINT AS n_outliers,
       round(sum(CASE WHEN abs(l.l_extendedprice - m.med) > 3 * 1.4826 * m.mad
                      THEN 1 ELSE 0 END)::DOUBLE / count(*), 6)
         AS outlier_frac,
       round(any_value(m.med), 6) AS med,
       round(any_value(m.mad), 6) AS mad
FROM lineitem l JOIN mad m USING (l_returnflag)
GROUP BY 1
"""


def quality_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-stratified mixture planning: corpus split into exact
    quality QUARTILES (one 3-cut percentile aggregate, broadcast),
    then per-bucket token budgets/sampling rates for an upweighted-
    high-quality target mix (10/20/30/40% of a 500k-token budget) —
    the DoReMi-flavoured counterpart of the source-keyed
    mixture_plan. Quartile cuts are computed on ROUNDED quality
    scores so both engines cut at identical doubles; everything
    after the two tiny aggregates is literal arithmetic."""
    docs = _t(spark, sf_dir, "documents")
    budget = 500_000
    per = docs.select(
        TX.quality_score(F.col("text")).alias("qs"),
        TX.token_count_ws(F.col("text")).alias("toks"),
    )
    cuts = per.agg(
        F.expr("percentile(qs, 0.25)").alias("q1"),
        F.expr("percentile(qs, 0.5)").alias("q2"),
        F.expr("percentile(qs, 0.75)").alias("q3"),
    )
    bucket = (
        F.when(F.col("qs") < F.col("q1"), 0)
        .when(F.col("qs") < F.col("q2"), 1)
        .when(F.col("qs") < F.col("q3"), 2)
        .otherwise(3)
        .cast("long")
    )
    have = (
        per.crossJoin(F.broadcast(cuts))
        .select(bucket.alias("bucket"), "toks")
        .groupBy("bucket")
        .agg(F.sum("toks").cast("long").alias("tokens_have"))
    )
    w = F.element_at(
        F.array(F.lit(0.1), F.lit(0.2), F.lit(0.3), F.lit(0.4)),
        F.col("bucket").cast("int") + 1,
    )
    need = F.round(w * budget)
    return have.select(
        "bucket",
        "tokens_have",
        need.cast("long").alias("tokens_needed"),
    ).select(
        "*",
        F.expr("(tokens_needed * 1000000L) div tokens_have").alias(
            "rate_ppm"
        ),
        F.expr("(tokens_needed + tokens_have - 1) div tokens_have").alias(
            "n_epochs"
        ),
    )


QUALITY_MIX_SQL = f"""
WITH p0 AS (
  SELECT doc_id, text, ' ' || lower(text) || ' ' AS p FROM documents
), b0 AS (
  SELECT doc_id,
         length(regexp_split_to_array(trim(text), '\\s+')) AS toks,
         {{stop_sum}} AS stops,
         length(text) - length(regexp_replace(text,
             '[\\.\\,\\;\\:\\!\\?]', '', 'g')) AS puncts,
         length(text) AS chars
  FROM p0
), q AS (
  SELECT doc_id, toks,
         round(0.4 * least(1.0, toks::DOUBLE / 100.0)
             + 0.4 * least(1.0, 8.0 * stops::DOUBLE / toks::DOUBLE)
             + 0.2 * (1.0 - least(1.0, 4.0 * puncts::DOUBLE / chars::DOUBLE)),
               6) AS qs
  FROM b0
), c AS (
  SELECT quantile_cont(qs, 0.25) AS q1, quantile_cont(qs, 0.5) AS q2,
         quantile_cont(qs, 0.75) AS q3
  FROM q
), bk AS (
  SELECT (CASE WHEN qs < q1 THEN 0 WHEN qs < q2 THEN 1
               WHEN qs < q3 THEN 2 ELSE 3 END)::BIGINT AS bucket, toks
  FROM q, c
), h AS (
  SELECT bucket, sum(toks)::BIGINT AS tokens_have FROM bk GROUP BY 1
)
SELECT bucket, tokens_have, tokens_needed,
       (tokens_needed * 1000000) // tokens_have AS rate_ppm,
       (tokens_needed + tokens_have - 1) // tokens_have AS n_epochs
FROM (SELECT bucket, tokens_have,
             CAST(round(CASE bucket WHEN 0 THEN 0.1 WHEN 1 THEN 0.2
                                    WHEN 2 THEN 0.3 ELSE 0.4 END
                        * 500000) AS BIGINT) AS tokens_needed
      FROM h)
""".replace("{stop_sum}", _STOP_SUM)


def dataset_split_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (90/5/5) via the
    md5-uniform draw — a doc's split never changes as the corpus
    grows, and the assignment is identical under any partitioning
    (operators/curation.py::dataset_split)."""
    return CU.dataset_split(_t(spark, sf_dir, "documents"))


DATASET_SPLIT_SQL = """
SELECT doc_id,
       CASE WHEN u < 0.9 THEN 'train'
            WHEN u < 0.95 THEN 'val'
            ELSE 'test' END AS split
FROM (
  SELECT doc_id,
         (('0x' || substr(md5('split:' || doc_id::VARCHAR), 1, 8))::BIGINT
          % 1000000) / 1000000.0 AS u
  FROM documents
)
"""


def incremental_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concurrent (watermark-interleaved) snapshot merge, end-to-end:
    the orders fixture becomes a chunked snapshot whose chunks are cut
    at increasing log positions, a deterministic CDC edit script is
    derived in-frame (updates straddling the cut boundaries, an
    at-the-cut delete that must NOT win, always-later updates and
    deletes, post-snapshot inserts), and
    `plans/snapshot.py::interleaved_snapshot_merge` reconciles them —
    events replay iff strictly PAST their row's chunk cut. The oracle
    reproduces the rule with a window + full outer join; no
    driver-side synthesis (everything is column logic)."""
    from reader_spark.plans.snapshot import interleaved_snapshot_merge

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )
    key = F.col("o_orderkey")
    cut = (F.lit(1000) + F.floor(key / 2500) * 10).cast("long")
    chunks = o.select(
        key.alias("pk"), "o_custkey", "o_orderstatus", cut.alias("chunk_pos")
    )
    ev = F.lit
    e1 = o.filter(key % 7 == 1).select(
        key.alias("pk"), ev("u").alias("op"),
        (F.lit(995) + key % 30).cast("long").alias("pos"),
        (F.col("o_custkey") + 100000).alias("o_custkey"),
        F.col("o_orderstatus"),
    )
    e2 = o.filter(key % 11 == 0).select(
        key.alias("pk"), ev("u").alias("op"),
        F.lit(99999).cast("long").alias("pos"),
        F.col("o_custkey"), ev("Z").alias("o_orderstatus"),
    )
    e3 = o.filter(key % 13 == 0).select(  # AT the cut: must be ignored
        key.alias("pk"), ev("d").alias("op"), cut.alias("pos"),
        F.col("o_custkey"), F.col("o_orderstatus"),
    )
    e4 = o.filter(key % 17 == 0).select(  # post-snapshot inserts
        (key + 1000000).alias("pk"), ev("c").alias("op"),
        F.lit(50).cast("long").alias("pos"),
        (F.col("o_custkey") + 5).alias("o_custkey"),
        ev("N").alias("o_orderstatus"),
    )
    e5 = o.filter(key % 19 == 0).select(  # late deletes (lose to e2)
        key.alias("pk"), ev("d").alias("op"),
        F.lit(99998).cast("long").alias("pos"),
        F.col("o_custkey"), F.col("o_orderstatus"),
    )
    events = e1.union(e2).union(e3).union(e4).union(e5)
    return interleaved_snapshot_merge(
        chunks, events, "pk", ["o_custkey", "o_orderstatus"],
        tiebreak_cols=["op"],
    )


INCR_SNAPSHOT_SQL = """
WITH snap AS (
  SELECT o_orderkey AS pk, o_custkey, o_orderstatus,
         (1000 + (o_orderkey // 2500) * 10)::BIGINT AS cpos
  FROM orders
), ev AS (
  SELECT o_orderkey AS pk, 'u' AS op,
         (995 + o_orderkey % 30)::BIGINT AS pos,
         o_custkey + 100000 AS o_custkey, o_orderstatus
  FROM orders WHERE o_orderkey % 7 = 1
  UNION ALL
  SELECT o_orderkey, 'u', 99999, o_custkey, 'Z'
  FROM orders WHERE o_orderkey % 11 = 0
  UNION ALL
  SELECT o_orderkey, 'd', (1000 + (o_orderkey // 2500) * 10)::BIGINT,
         o_custkey, o_orderstatus
  FROM orders WHERE o_orderkey % 13 = 0
  UNION ALL
  SELECT o_orderkey + 1000000, 'c', 50, o_custkey + 5, 'N'
  FROM orders WHERE o_orderkey % 17 = 0
  UNION ALL
  SELECT o_orderkey, 'd', 99998, o_custkey, o_orderstatus
  FROM orders WHERE o_orderkey % 19 = 0
), latest AS (
  SELECT pk, op, pos, o_custkey, o_orderstatus FROM (
    SELECT *, row_number() OVER (PARTITION BY pk ORDER BY pos DESC, op) AS rn
    FROM ev
  ) WHERE rn = 1
)
SELECT pk,
       CASE WHEN win THEN e_ck ELSE s_ck END AS o_custkey,
       CASE WHEN win THEN e_st ELSE s_st END AS o_orderstatus
FROM (
  SELECT coalesce(snap.pk, latest.pk) AS pk,
         latest.pos IS NOT NULL
           AND (snap.cpos IS NULL OR latest.pos > snap.cpos) AS win,
         latest.op AS e_op, latest.o_custkey AS e_ck,
         latest.o_orderstatus AS e_st,
         snap.o_custkey AS s_ck, snap.o_orderstatus AS s_st,
         snap.cpos
  FROM snap FULL JOIN latest ON snap.pk = latest.pk
)
WHERE CASE WHEN win THEN e_op <> 'd' ELSE TRUE END
"""


def triangles_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the verified near-dup graph —
    the local-clustering signal that separates template-family
    cliques (collapse hard) from chains of borderline matches.
    Degree-ordered orientation bounds the wedge join's fan-out by
    O(sqrt(m)) per node (operators/graph.py)."""
    from reader_spark.operators import graph as GR

    docs = _t(spark, sf_dir, "documents")
    base = pin(DD.token_hashes(docs))
    sigs = pin(DD.minhash_signature(base, num_hashes=_MH_K, hashes_col="toks"))
    pairs = DD.lsh_candidate_pairs(sigs, num_hashes=_MH_K, band_size=_MH_BAND)
    verified = DD.jaccard_verify(pairs, docs, threshold=0.8, toks=base)
    return GR.triangle_counts(verified.select("doc_a", "doc_b"))


TRIANGLES_SQL = DEDUP_COMPONENTS_SQL.split(", e AS (")[0] + """
, te AS (
  SELECT DISTINCT least(doc_a, doc_b) AS a, greatest(doc_a, doc_b) AS b
  FROM vp WHERE doc_a <> doc_b
), dg AS (
  SELECT v, count(*) AS dg
  FROM (SELECT a AS v FROM te UNION ALL SELECT b FROM te) GROUP BY 1
), o AS (
  SELECT CASE WHEN (da.dg < db.dg) OR (da.dg = db.dg AND a < b)
              THEN a ELSE b END AS u,
         CASE WHEN (da.dg < db.dg) OR (da.dg = db.dg AND a < b)
              THEN b ELSE a END AS w
  FROM te
  JOIN dg da ON da.v = te.a
  JOIN dg db ON db.v = te.b
), wedge AS (
  SELECT o1.u AS u, o1.w AS x, o2.w AS y
  FROM o o1 JOIN o o2 ON o1.u = o2.u AND o1.w < o2.w
), tri AS (
  SELECT u, x, y FROM wedge JOIN te ON te.a = wedge.x AND te.b = wedge.y
)
SELECT node, count(*)::BIGINT AS n_tri
FROM (
  SELECT u AS node FROM tri
  UNION ALL SELECT x FROM tri
  UNION ALL SELECT y FROM tri
)
GROUP BY 1
"""


def vocab_coverage_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document OOV rate against the corpus' own top-20 word
    vocabulary — tokenizer-design metric. The vocabulary is a
    TakeOrderedAndProject (partial top-V per partition, no global
    sort); the scoring pass is one broadcast left join + doc_id
    aggregate (operators/curation.py)."""
    return CU.vocab_coverage(_t(spark, sf_dir, "documents"), vocab_size=20)


VOCAB_COVERAGE_SQL = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
), vc AS (
  SELECT term, count(*) AS cf FROM tok GROUP BY 1
), vocab AS (
  SELECT term FROM vc ORDER BY cf DESC, term LIMIT 20
)
SELECT doc_id, count(*)::BIGINT AS n_tokens,
       sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_oov,
       round(sum(CASE WHEN v.term IS NULL THEN 1.0 ELSE 0.0 END)
             / count(*), 6) AS oov_rate
FROM tok LEFT JOIN vocab v ON v.term = tok.term
GROUP BY 1
"""


def scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing-dimension build from an event stream:
    each user event opens a validity interval [eff_from, eff_to)
    closed by the next event; the last interval per user is open
    (is_current = 1). This is the warehouse-side materialization the
    CDC transfer path feeds — history-preserving MERGE instead of
    overwrite — expressed as ONE lead() window per user.

    Scale: a single shuffle on the uniform user key; the window
    partition is one user's events. At 100 TB the same plan runs
    incrementally per micro-batch with the previous open intervals
    unioned in (maintain_rollup's shape)."""
    from pyspark.sql import Window as W

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 500)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return ev.select(
        "user_id",
        F.col("event_type").alias("state"),
        "ts",
        "event_id",
    ).select(
        "user_id",
        "state",
        _fmt_ts(F.col("ts"), "eff_from"),
        _fmt_ts(nxt, "eff_to"),
        F.when(nxt.isNull(), 1).otherwise(0).cast("long").alias(
            "is_current"
        ),
    )


SCD2_SQL = """
WITH e AS (
  SELECT user_id, event_type AS state, ts, event_id
  FROM events WHERE user_id < 500
)
SELECT user_id, state,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS eff_from,
       strftime(lead(ts) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id),
                '%Y-%m-%d %H:%M:%S') AS eff_to,
       (CASE WHEN lead(ts) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) IS NULL
             THEN 1 ELSE 0 END)::BIGINT AS is_current
FROM e
"""


def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: for every (event_type -> next event_type) edge, the
    observed count and the transition probability in ppm (integer
    floor division — the SCALE.md r5 float rule). The
    clickstream-modeling verb behind "what do users do after X".

    Scale: one lead() window on the user key (same exchange shape as
    scd2), then a type-pair aggregate whose cardinality is the
    event-type space squared — tiny; the probability normalization
    is a window over that tiny frame."""
    from pyspark.sql import Window as W

    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select("user_id", "ts", "event_id", "event_type")
        .withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = F.sum("n").over(W.partitionBy("event_type"))
    return pairs.withColumn("row_total", tot).select(
        "event_type",
        "next_type",
        "n",
        F.expr("(n * 1000000L) div row_total").alias("prob_ppm"),
    )


EVENT_TRANSITIONS_SQL = """
WITH p AS (
  SELECT event_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next_type
  FROM events
), c AS (
  SELECT event_type, next_type, count(*)::BIGINT AS n
  FROM p WHERE next_type IS NOT NULL GROUP BY 1, 2
)
SELECT event_type, next_type, n,
       ((n * 1000000) // sum(n) OVER (PARTITION BY event_type))::BIGINT
         AS prob_ppm
FROM c
"""


def events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series exponential smoothing — the order-SENSITIVE
    sequential fold the engine's float-parity convention exists for:
    each (user, event_type) series folds ewma = 0.125*x + 0.875*acc
    over its (ts, event_id)-ordered values, seeded with the first
    value. alpha = 1/8 is dyadic, and both engines evaluate the
    identical left fold, so the smoothed doubles match bit-for-bit;
    the emitted value is floor(ewma * 1e6) per the SCALE.md r5 rule.

    Scale: state is per-SERIES (one user's one event type — dozens
    of rows), so the sorted collect_list is bounded by series length,
    never corpus size; the one shuffle keys on the uniform series
    key. The same fold runs incrementally in a stateful stream
    (applyInPandasWithState carrying (acc, last_ts))."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 300)
    vals = F.transform(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("ts").alias("t"),
                    F.col("event_id").alias("i"),
                    F.col("value").alias("v"),
                )
            )
        ),
        lambda s: s.getField("v"),
    )
    ewma = F.aggregate(
        F.slice(vals, 2, 2_000_000_000),
        F.get(vals, 0),
        lambda acc, x: F.lit(0.125) * x + F.lit(0.875) * acc,
    )
    return ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.floor(ewma * 1_000_000).cast("long").alias("ewma_ppm"),
    )


EWMA_SQL = """
SELECT user_id, event_type,
       count(*)::BIGINT AS n_events,
       CAST(floor(list_reduce(list(value ORDER BY ts, event_id),
                              (acc, x) -> 0.125 * x + 0.875 * acc)
                  * 1000000) AS BIGINT) AS ewma_ppm
FROM events WHERE user_id < 300
GROUP BY 1, 2
"""


def cms_term_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch point estimates vs exact counts for the
    corpus' 30 most frequent tokens (operators/sketches.py::
    count_min_tiles / count_min_estimate): one corpus pass builds a
    256x4 counter frame — state bounded by the sketch size, never
    the vocabulary — and every estimate is the classic CMS upper
    bound (est >= exact, slack = hash collisions only).
    Deterministic md5 row hashes make the sketch VALUE
    oracle-checkable, the same contract as kmv_distinct."""
    from reader_spark.operators import sketches as SK
    from pyspark.sql import Window as W

    docs = _t(spark, sf_dir, "documents")
    tok = DD.ensure_parallelism(docs).select(
        F.explode(F.split(F.col("text"), " ")).alias("term")
    )
    exact = tok.groupBy("term").agg(F.count(F.lit(1)).alias("exact"))
    top = (
        exact.withColumn(
            "r",
            F.row_number().over(
                W.orderBy(F.col("exact").desc(), F.col("term"))
            ),
        )
        .filter(F.col("r") <= 30)
        .drop("r")
    )
    tiles = SK.count_min_tiles(tok, width=256, depth=4)
    est = SK.count_min_estimate(tiles, top.select("term"), width=256, depth=4)
    return top.join(est, "term").select("term", "exact", "cms_est")


CMS_SQL = """
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS term FROM documents
), exact AS (
  SELECT term, count(*)::BIGINT AS exact FROM tok GROUP BY 1
), top AS (
  SELECT term, exact FROM exact ORDER BY exact DESC, term LIMIT 30
), cells AS (
  SELECT j.j AS row,
         ('0x' || substr(md5('cms' || j.j || ':' || term), 1, 8))::BIGINT
           % 256 AS col,
         count(*)::BIGINT AS cnt
  FROM tok, (SELECT unnest([0, 1, 2, 3]) AS j) j
  GROUP BY 1, 2
)
SELECT term, exact, min(coalesce(cnt, 0))::BIGINT AS cms_est
FROM (
  SELECT t.term, t.exact, j.j AS row,
         ('0x' || substr(md5('cms' || j.j || ':' || t.term), 1, 8))::BIGINT
           % 256 AS col
  FROM top t, (SELECT unnest([0, 1, 2, 3]) AS j) j
) p
LEFT JOIN cells USING (row, col)
GROUP BY 1, 2
"""


def contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training pair generation: for each anchor vector,
    k=5 POSITIVES (exact cosine top-k — the retrieval ground truth)
    and m=5 deterministic random NEGATIVES (smallest md5 draw keyed
    by (anchor, candidate), excluding the anchor and its positives).
    The output is the (anchor, partner, role, rank) table an
    embedding-model trainer consumes; md5 draws make the negative
    sample reproducible under any partitioning and shardable without
    RNG state — the same determinism contract as the samplers.

    Scale: positives ride the existing bounded kNN pipeline; the
    negative draw is a map-only hash over (anchor x corpus-ID) pairs
    — two LONG columns, never vectors — with a per-anchor top-m
    window. At extreme corpus sizes, pre-gate with
    `hash < m * 2^60 * safety / N` so only ~m*safety candidates per
    anchor reach the window (the reservoir_sample trick)."""
    from pyspark.sql import Window as W

    emb = _t(spark, sf_dir, "embeddings")
    qids = list(range(10))
    pos = SIM.knn_bruteforce(emb, qids, k=5).select(
        "query_id",
        "neighbor_id",
        F.lit("pos").alias("role"),
        "rank",
    )
    ids = emb.select("vec_id")
    anchors = ids.filter(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("query_id")
    )
    draw = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit("neg:"),
                    F.col("query_id").cast("string"),
                    F.lit(":"),
                    F.col("vec_id").cast("string"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    cand = (
        ids.crossJoin(F.broadcast(anchors))
        .filter(F.col("vec_id") != F.col("query_id"))
        .join(
            pos.select(
                "query_id", F.col("neighbor_id").alias("vec_id")
            ),
            ["query_id", "vec_id"],
            "left_anti",
        )
        .withColumn("draw", draw)
    )
    w = W.partitionBy("query_id").orderBy("draw", "vec_id")
    neg = (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.lit("neg").alias("role"),
            "rank",
        )
    )
    return pos.unionByName(neg)


CONTRASTIVE_SQL = f"""
WITH v0 AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), v AS (
  SELECT vec_id, e,
         {_KNN_DOT.format(a="e", b="e")} AS nv
  FROM v0
), q AS (
  SELECT vec_id AS query_id, e AS qe, nv AS nq FROM v WHERE vec_id < 10
), pairs AS (
  SELECT query_id, v.vec_id AS neighbor_id,
         {_KNN_DOT.format(a="qe", b="e")} AS dp, nq, v.nv AS nn
  FROM q, v WHERE v.vec_id != q.query_id
), pos AS (
  SELECT query_id, neighbor_id, 'pos' AS role, rank FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY dp / (sqrt(nq) * sqrt(nn)) DESC,
                                       neighbor_id) AS rank
    FROM pairs
  ) WHERE rank <= 5
), cand AS (
  SELECT qa.query_id, vv.vec_id,
         ('0x' || substr(md5('neg:' || qa.query_id::VARCHAR || ':'
                             || vv.vec_id::VARCHAR), 1, 15))::BIGINT AS draw
  FROM (SELECT DISTINCT query_id FROM q) qa, (SELECT vec_id FROM v) vv
  WHERE vv.vec_id != qa.query_id
    AND NOT EXISTS (SELECT 1 FROM pos p
                    WHERE p.query_id = qa.query_id
                      AND p.neighbor_id = vv.vec_id)
), neg AS (
  SELECT query_id, vec_id AS neighbor_id, 'neg' AS role, rank FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY draw, vec_id) AS rank
    FROM cand
  ) WHERE rank <= 5
)
SELECT * FROM pos UNION ALL SELECT * FROM neg
"""


def join_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-join skew diagnosis over the join keys the engine actually
    shuffles on (lineitem.l_orderkey / l_partkey, orders.o_custkey,
    events.user_id): per key space — distinct keys, total rows, the
    heaviest key's row count, the skew ratio in ppm
    (max*1e6 div avg = max*keys*1e6 div rows, pure integer), and the
    heaviest key itself (deterministic min-id tiebreak). This is the
    operational input to the salting decision: a ratio around 1e6
    means uniform (hash-partition freely), orders of magnitude above
    means the hot key serializes a join task (reach for key salting
    or AQE skew handling).

    Scale: one count-per-key aggregate per key space (map-side
    combined), then a 1-row struct-max — never a sort; the four
    spaces union into one tiny frame."""
    def space(df: DataFrame, table: str, key: str) -> DataFrame:
        per = df.groupBy(F.col(key).alias("k")).agg(
            F.count(F.lit(1)).alias("n")
        )
        return per.agg(
            F.lit(f"{table}.{key}").alias("key_space"),
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("n").alias("n_rows"),
            F.max("n").alias("max_rows"),
            F.max(F.struct(F.col("n"), (-F.col("k")).alias("nk"))).alias(
                "__m"
            ),
        ).select(
            "key_space",
            "n_keys",
            "n_rows",
            "max_rows",
            F.expr("(max_rows * n_keys * 1000000L) div n_rows").alias(
                "skew_ppm"
            ),
            (-F.col("__m.nk")).cast("long").alias("heaviest_key"),
        )

    li = _t(spark, sf_dir, "lineitem")
    return (
        space(li, "lineitem", "l_orderkey")
        .unionByName(space(li, "lineitem", "l_partkey"))
        .unionByName(
            space(_t(spark, sf_dir, "orders"), "orders", "o_custkey")
        )
        .unionByName(
            space(_t(spark, sf_dir, "events"), "events", "user_id")
        )
    )


JOIN_SKEW_SQL = """
WITH s1 AS (
  SELECT 'lineitem.l_orderkey' AS key_space, l_orderkey AS k,
         count(*)::BIGINT AS n FROM lineitem GROUP BY 2
), s2 AS (
  SELECT 'lineitem.l_partkey', l_partkey, count(*)::BIGINT
  FROM lineitem GROUP BY 2
), s3 AS (
  SELECT 'orders.o_custkey', o_custkey, count(*)::BIGINT
  FROM orders GROUP BY 2
), s4 AS (
  SELECT 'events.user_id', user_id, count(*)::BIGINT
  FROM events GROUP BY 2
), u AS (
  SELECT * FROM s1 UNION ALL SELECT * FROM s2
  UNION ALL SELECT * FROM s3 UNION ALL SELECT * FROM s4
)
SELECT key_space,
       count(*)::BIGINT AS n_keys,
       sum(n)::BIGINT AS n_rows,
       max(n)::BIGINT AS max_rows,
       (max(n)::BIGINT * count(*)::BIGINT * 1000000) // sum(n)::BIGINT
         AS skew_ppm,
       min(k) FILTER (WHERE n = (SELECT max(n) FROM u u2
                                 WHERE u2.key_space = u.key_space))
         AS heaviest_key
FROM u GROUP BY 1
"""


def knn_binary_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-bit binary-quantized kNN with exact rescore
    (operators/similarity.py::knn_binary): sign codes packed into two
    32-bit words (16 B/vector — 32x below float64), Hamming pre-rank
    via XOR+popcount integer arithmetic, generous rerank, exact
    cosine top-5. The coarsest ANN tier, below SQ8/PQ; fully
    oracle-exact because the approximate pass is pure integers."""
    return SIM.knn_binary(
        _t(spark, sf_dir, "embeddings"), _KNN_QUERY_IDS, k=5, rerank=30
    )


_BQ_WORD_LO = (
    "list_reduce(list_transform(generate_series(1, 32), i -> "
    "CASE WHEN {e}[i] > 0 THEN (1::BIGINT << (i - 1)) ELSE 0::BIGINT END),"
    " (x, y) -> x + y)"
)
_BQ_WORD_HI = (
    "list_reduce(list_transform(generate_series(33, 64), i -> "
    "CASE WHEN {e}[i] > 0 THEN (1::BIGINT << (i - 33)) ELSE 0::BIGINT END),"
    " (x, y) -> x + y)"
)

KNN_BINARY_SQL = f"""
WITH v0 AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), v AS (
  SELECT vec_id, e,
         {_KNN_DOT.format(a="e", b="e")} AS nv,
         {_BQ_WORD_LO.format(e="e")} AS lo,
         {_BQ_WORD_HI.format(e="e")} AS hi
  FROM v0
), q AS (
  SELECT vec_id AS query_id, lo AS qlo, hi AS qhi FROM v WHERE vec_id < 10
), approx AS (
  SELECT query_id, v.vec_id AS neighbor_id,
         bit_count(xor(v.lo, qlo)) + bit_count(xor(v.hi, qhi)) AS hamming
  FROM q, v WHERE v.vec_id != q.query_id
), cand AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY hamming ASC, neighbor_id) AS arank
    FROM approx
  ) WHERE arank <= 30
)
SELECT query_id, neighbor_id, rank, cos_sim FROM (
  SELECT query_id, neighbor_id,
         round(dp / (sqrt(nq) * sqrt(nn)), 6) AS cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(dp / (sqrt(nq) * sqrt(nn)), 6)
                                     DESC, neighbor_id) AS rank
  FROM (
    SELECT cand.query_id AS query_id, cand.neighbor_id AS neighbor_id,
           {_KNN_DOT.format(a="nq_.e", b="nn_.e")} AS dp,
           nq_.nv AS nq, nn_.nv AS nn
    FROM cand
    JOIN v nn_ ON nn_.vec_id = cand.neighbor_id
    JOIN v nq_ ON nq_.vec_id = cand.query_id
  )
) WHERE rank <= 5
"""


def curation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document explainability for the clean_corpus pipeline:
    every input doc labeled with WHY it survived or fell —
    'dropped_lang' / 'dropped_length' / 'dropped_quality' (first
    failing gate, in gate order) / 'dropped_exact_dup' (gates passed
    but a lower-id doc has identical text; kept_doc_id names it) /
    'kept'. The audit a data steward asks for before signing off a
    filtering config — and the regression diff between two configs.

    Scale: same 2-shuffle shape as clean_corpus (the content-hash
    keep-min is a window over the gated subset keyed by the uniform
    hash) plus ONE map-only labeling pass; the gates short-circuit in
    order so each doc carries exactly one reason."""
    from pyspark.sql import Window as W

    docs = _t(spark, sf_dir, "documents")
    q = TX.quality_score(F.col("text"))
    gate = (
        F.when(F.col("lang") != "en", F.lit("dropped_lang"))
        .when(
            (F.col("n_chars") < 50) | (F.col("n_chars") > 5000),
            F.lit("dropped_length"),
        )
        .when(q < 0.5, F.lit("dropped_quality"))
    )
    labeled = docs.select("doc_id", "text", gate.alias("gate_fail"))
    passed = labeled.filter(F.col("gate_fail").isNull())
    w = W.partitionBy(F.md5("text"))
    dedup = passed.withColumn("keep_id", F.min("doc_id").over(w))
    return (
        labeled.filter(F.col("gate_fail").isNotNull())
        .select(
            "doc_id",
            F.col("gate_fail").alias("status"),
            F.lit(None).cast("long").alias("kept_doc_id"),
        )
        .unionByName(
            dedup.select(
                "doc_id",
                F.when(
                    F.col("doc_id") == F.col("keep_id"), F.lit("kept")
                )
                .otherwise(F.lit("dropped_exact_dup"))
                .alias("status"),
                F.when(
                    F.col("doc_id") != F.col("keep_id"), F.col("keep_id")
                ).alias("kept_doc_id"),
            )
        )
    )


CURATION_AUDIT_SQL = f"""
WITH p0 AS (
  SELECT doc_id, text, n_chars, lang, ' ' || lower(text) || ' ' AS p
  FROM documents
), b AS (
  SELECT doc_id, text, n_chars, lang,
         length(regexp_split_to_array(trim(text), '\\s+')) AS toks,
         {{stop_sum}} AS stops,
         length(text) - length(regexp_replace(text,
             '[\\.\\,\\;\\:\\!\\?]', '', 'g')) AS puncts,
         length(text) AS chars
  FROM p0
), g AS (
  SELECT doc_id, text,
         CASE WHEN lang != 'en' THEN 'dropped_lang'
              WHEN n_chars < 50 OR n_chars > 5000 THEN 'dropped_length'
              WHEN 0.4 * least(1.0, toks::DOUBLE / 100.0)
                 + 0.4 * least(1.0, 8.0 * stops::DOUBLE / toks::DOUBLE)
                 + 0.2 * (1.0 - least(1.0,
                       4.0 * puncts::DOUBLE / chars::DOUBLE)) < 0.5
                   THEN 'dropped_quality'
         END AS gate_fail
  FROM b
), passed AS (
  SELECT doc_id, text,
         min(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
  FROM g WHERE gate_fail IS NULL
)
SELECT doc_id, gate_fail AS status, NULL::BIGINT AS kept_doc_id
FROM g WHERE gate_fail IS NOT NULL
UNION ALL
SELECT doc_id,
       CASE WHEN doc_id = keep_id THEN 'kept'
            ELSE 'dropped_exact_dup' END AS status,
       CASE WHEN doc_id != keep_id THEN keep_id END AS kept_doc_id
FROM passed
""".replace("{stop_sum}", _STOP_SUM)


def props_key_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured schema census: per (event_type, JSON key in
    props) — occurrence count and the share of that event type's
    rows carrying the key (ppm integer). The schema-drift watchdog
    for payload columns: a key's share collapsing (or a new key
    appearing) between runs is how producer-side contract breaks
    surface before they corrupt downstream parsing. JSON stays
    JVM-side (from_json -> map_keys, no Python)."""
    ev = _t(spark, sf_dir, "events")
    keys = ev.select(
        "event_type",
        F.explode(
            F.map_keys(F.from_json(F.col("props"), "map<string,string>"))
        ).alias("key"),
    )
    per = keys.groupBy("event_type", "key").agg(
        F.count(F.lit(1)).alias("n_with_key")
    )
    tot = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_rows"))
    return per.join(tot, "event_type").select(
        "event_type",
        "key",
        "n_with_key",
        F.expr("(n_with_key * 1000000L) div n_rows").alias("share_ppm"),
    )


PROPS_CENSUS_SQL = """
WITH k AS (
  SELECT event_type, unnest(json_keys(props)) AS key FROM events
), per AS (
  SELECT event_type, key, count(*)::BIGINT AS n_with_key
  FROM k GROUP BY 1, 2
), tot AS (
  SELECT event_type, count(*)::BIGINT AS n_rows FROM events GROUP BY 1
)
SELECT event_type, key, n_with_key,
       (n_with_key * 1000000) // n_rows AS share_ppm
FROM per JOIN tot USING (event_type)
"""


def split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test contamination THROUGH near-duplicates: verified
    near-dup pairs (the dedup_near_dup pipeline) whose members land
    in different dataset_split assignments, counted per unordered
    split pair — the leak exact-match decontamination misses (a test
    doc's near-verbatim twin sitting in train inflates eval). The
    diagonal is benign intra-split duplication; every off-diagonal
    row is leaked eval signal. Run it BEFORE training; fix = split
    by near-dup component (canonical_docs), not by raw doc id.

    Scale: the pair list is the standard banded pipeline; the split
    labeling is two broadcast joins of the md5-derived assignment
    (computed, not stored — no second table)."""
    docs = _t(spark, sf_dir, "documents")
    base = pin(DD.token_hashes(docs))
    sigs = pin(DD.minhash_signature(base, num_hashes=_MH_K, hashes_col="toks"))
    pairs = DD.lsh_candidate_pairs(sigs, num_hashes=_MH_K, band_size=_MH_BAND)
    verified = DD.jaccard_verify(pairs, docs, threshold=0.8, toks=base)
    splits = CU.dataset_split(docs).select("doc_id", "split")
    la = splits.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("sp_a"))
    lb = splits.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("sp_b"))
    return (
        verified.join(F.broadcast(la), "doc_a")
        .join(F.broadcast(lb), "doc_b")
        .select(
            F.least("sp_a", "sp_b").alias("split_a"),
            F.greatest("sp_a", "sp_b").alias("split_b"),
        )
        .groupBy("split_a", "split_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


SPLIT_LEAKAGE_SQL = _MH_CTE + """
, vp AS (
  SELECT doc_a, doc_b FROM (
    SELECT doc_a, doc_b,
           len(list_intersect(ta.hs, tb.hs))::DOUBLE /
           (len(ta.hs) + len(tb.hs) - len(list_intersect(ta.hs, tb.hs))) AS jac
    FROM cand
    JOIN hm ta ON ta.doc_id = doc_a
    JOIN hm tb ON tb.doc_id = doc_b
  ) WHERE jac >= 0.8
), sp AS (
  SELECT doc_id,
         CASE WHEN u < 0.9 THEN 'train'
              WHEN u < 0.95 THEN 'val'
              ELSE 'test' END AS split
  FROM (
    SELECT doc_id,
           (('0x' || substr(md5('split:' || doc_id::VARCHAR), 1, 8))::BIGINT
            % 1000000) / 1000000.0 AS u
    FROM documents
  )
)
SELECT least(sa.split, sb.split) AS split_a,
       greatest(sa.split, sb.split) AS split_b,
       count(*)::BIGINT AS n_pairs
FROM vp
JOIN sp sa ON sa.doc_id = vp.doc_a
JOIN sp sb ON sb.doc_id = vp.doc_b
GROUP BY 1, 2
"""


def decontaminate_train_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY paired with split_leakage's report: drop from the
    train split every document with a verified near-dup in val or
    test (threshold 0.8 — covers exact dups, jaccard 1), returning
    the surviving train ids. The pre-training decontamination pass
    exact-match filters miss: a test doc's near-verbatim twin in
    train inflates eval.

    Scale: the standard banded near-dup pipeline plus two broadcast
    split-label joins and one anti-join — no new shuffle class. The
    md5-derived split assignment is computed, not stored (same as
    dataset_split / split_leakage)."""
    docs = _t(spark, sf_dir, "documents")
    base = pin(DD.token_hashes(docs))
    sigs = pin(DD.minhash_signature(base, num_hashes=_MH_K, hashes_col="toks"))
    pairs = DD.lsh_candidate_pairs(sigs, num_hashes=_MH_K, band_size=_MH_BAND)
    verified = DD.jaccard_verify(pairs, docs, threshold=0.8, toks=base)
    splits = CU.dataset_split(docs).select("doc_id", "split")
    la = splits.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("sp_a"))
    lb = splits.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("sp_b"))
    lab = verified.join(F.broadcast(la), "doc_a").join(F.broadcast(lb), "doc_b")
    # ONE pass over the labeled pair stream: each pair contributes
    # its train-side id(s) through an explode instead of two union
    # branches that would each re-read the verified-pair cache and
    # re-run both label joins (r12: the branches were the only
    # consumers of `lab`, so the union literally doubled the
    # label-attach work). explode drops NULLs via the filter; the
    # distinct is unchanged, so the leaked id SET is identical.
    leaked = (
        lab.select(
            F.explode(
                F.array(
                    F.when(
                        (F.col("sp_a") == "train")
                        & (F.col("sp_b") != "train"),
                        F.col("doc_a"),
                    ),
                    F.when(
                        (F.col("sp_b") == "train")
                        & (F.col("sp_a") != "train"),
                        F.col("doc_b"),
                    ),
                )
            ).alias("doc_id")
        )
        .filter(F.col("doc_id").isNotNull())
        .distinct()
    )
    return (
        splits.filter(F.col("split") == "train")
        .join(leaked, "doc_id", "anti")
        .select("doc_id")
    )


DECONTAMINATE_SQL = _MH_CTE + """
, vp AS (
  SELECT doc_a, doc_b FROM (
    SELECT doc_a, doc_b,
           len(list_intersect(ta.hs, tb.hs))::DOUBLE /
           (len(ta.hs) + len(tb.hs) - len(list_intersect(ta.hs, tb.hs))) AS jac
    FROM cand
    JOIN hm ta ON ta.doc_id = doc_a
    JOIN hm tb ON tb.doc_id = doc_b
  ) WHERE jac >= 0.8
), sp AS (
  SELECT doc_id,
         CASE WHEN u < 0.9 THEN 'train'
              WHEN u < 0.95 THEN 'val'
              ELSE 'test' END AS split
  FROM (
    SELECT doc_id,
           (('0x' || substr(md5('split:' || doc_id::VARCHAR), 1, 8))::BIGINT
            % 1000000) / 1000000.0 AS u
    FROM documents
  )
), leaked AS (
  SELECT vp.doc_a AS doc_id FROM vp
  JOIN sp sa ON sa.doc_id = vp.doc_a
  JOIN sp sb ON sb.doc_id = vp.doc_b
  WHERE sa.split = 'train' AND sb.split != 'train'
  UNION
  SELECT vp.doc_b FROM vp
  JOIN sp sa ON sa.doc_id = vp.doc_a
  JOIN sp sb ON sb.doc_id = vp.doc_b
  WHERE sb.split = 'train' AND sa.split != 'train'
)
SELECT doc_id FROM sp
WHERE split = 'train'
  AND doc_id NOT IN (SELECT doc_id FROM leaked)
"""


def decontaminate_incremental_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Decontaminate-at-INGEST (operators/dedup.py::
    decontaminate_incremental): the benchmark side (val+test) is
    banded ONCE into a materialized near-dup index, then the train
    wave filters against it — one delta signature pass + a band-row
    equi-join + the exact verify, instead of re-shingling the static
    benchmark corpus on every run (what `decontaminate_train` does).
    The cross-pair candidate set equals corpus-wide banding's
    (train x benchmark) pairs — two docs band-collide by their own
    signatures alone — so the oracle IS `DECONTAMINATE_SQL`."""
    docs = _t(spark, sf_dir, "documents")
    splits = CU.dataset_split(docs).select("doc_id", "split")
    bench = docs.join(
        splits.filter(F.col("split") != "train").select("doc_id"),
        "doc_id", "left_semi",
    )
    train = docs.join(
        splits.filter(F.col("split") == "train").select("doc_id"),
        "doc_id", "left_semi",
    )
    idx = _work_dir("declidx_")
    DD.neardup_index_write(
        bench, idx, num_hashes=_MH_K, band_size=_MH_BAND, threshold=0.8
    )
    return DD.decontaminate_incremental(spark, train, idx).select("doc_id")


def event_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence mining one step past the Markov matrix: the top-20
    3-step event paths (two lead windows over per-user order),
    ranked by frequency with deterministic tiebreaks — the
    user-journey summary behind funnel design ("what actually
    happens between view and purchase").

    Scale: the same single user-keyed exchange serves both leads;
    the path aggregate is |event_types|^3-bounded."""
    from pyspark.sql import Window as W

    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    paths = (
        ev.select("user_id", "ts", "event_id", "event_type")
        .withColumn("e2", F.lead("event_type", 1).over(w))
        .withColumn("e3", F.lead("event_type", 2).over(w))
        .filter(F.col("e3").isNotNull())
        .groupBy(
            F.col("event_type").alias("step1"),
            F.col("e2").alias("step2"),
            F.col("e3").alias("step3"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w2 = W.orderBy(F.col("n").desc(), "step1", "step2", "step3")
    return (
        paths.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= 20)
    )


EVENT_PATHS_SQL = """
WITH p AS (
  SELECT event_type AS step1,
         lead(event_type, 1) OVER w AS step2,
         lead(event_type, 2) OVER w AS step3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), c AS (
  SELECT step1, step2, step3, count(*)::BIGINT AS n
  FROM p WHERE step3 IS NOT NULL GROUP BY 1, 2, 3
)
SELECT step1, step2, step3, n, rank FROM (
  SELECT *, row_number() OVER (ORDER BY n DESC, step1, step2, step3)
            AS rank
  FROM c
) WHERE rank <= 20
"""


def sampled_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile estimation from a mergeable bottom-k uniform sample
    (operators/sketches.py::bottomk_sample_tiles): per event_type,
    p50/p95 of `value` read off a k=128 deterministic sample, beside
    the exact percentiles and the sample size — the mergeable-tile
    quantile the warehouse stores per (hour, dimension) cell where
    exact percentiles would need the full value stream. Completes
    the sketch quartet (KMV distinct / CMS frequency / Misra-Gries
    top-k / bottom-k quantiles), all deterministic and
    value-oracle-checked."""
    from reader_spark.operators import sketches as SK

    ev = _t(spark, sf_dir, "events")
    tiles = SK.bottomk_sample_tiles(
        ev, ["event_type"], "value", k=128, id_col="event_id"
    )
    est = SK.quantiles_from_tiles(tiles, [0.5, 0.95])
    # Nearest-rank exact percentiles (rank ceil(p*n) of the ascending
    # sort): every emitted number is an actual input datum, so the
    # oracle compares parquet-read doubles for exact equality — no
    # interpolated double at the query edge (SCALE.md float rule).
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy("value")
    wn = Window.partitionBy("event_type")
    ranked = (
        ev.select("event_type", "value")
        .withColumn("r", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(wn))
    )
    exact = ranked.groupBy("event_type").agg(
        F.max(
            F.when(
                F.col("r")
                == F.greatest(
                    F.lit(1), F.ceil(F.lit(0.5) * F.col("n")).cast("int")
                ),
                F.col("value"),
            )
        ).alias("exact_p50"),
        F.max(
            F.when(
                F.col("r")
                == F.greatest(
                    F.lit(1), F.ceil(F.lit(0.95) * F.col("n")).cast("int")
                ),
                F.col("value"),
            )
        ).alias("exact_p95"),
    )
    return est.join(exact, "event_type")


SAMPLED_QUANTILES_SQL = """
WITH dv AS (
  SELECT event_type, value AS v,
         ('0x' || substr(md5('bks:' || event_id::VARCHAR), 1, 15))::BIGINT AS d
  FROM events
), ranked AS (
  SELECT event_type, v,
         row_number() OVER (PARTITION BY event_type ORDER BY d, v) AS r
  FROM dv
), samp AS (
  SELECT event_type, v,
         row_number() OVER (PARTITION BY event_type ORDER BY v) AS vr,
         count(*) OVER (PARTITION BY event_type) AS vn
  FROM ranked WHERE r <= 128
), est AS (
  SELECT event_type, count(*)::BIGINT AS n_sampled,
         max(CASE WHEN vr = greatest(1, ceil(0.5 * vn)) THEN v END) AS p50,
         max(CASE WHEN vr = greatest(1, ceil(0.95 * vn)) THEN v END) AS p95
  FROM samp GROUP BY 1
), exr AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value) AS r,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM events
), ex AS (
  SELECT event_type,
         max(CASE WHEN r = greatest(1, ceil(0.5 * n)) THEN value END)
           AS exact_p50,
         max(CASE WHEN r = greatest(1, ceil(0.95 * n)) THEN value END)
           AS exact_p95
  FROM exr GROUP BY 1
)
SELECT est.event_type, n_sampled, p50, p95, exact_p50, exact_p95
FROM est JOIN ex ON ex.event_type = est.event_type
"""


def embedding_drift_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-distribution drift (operators/similarity.py::
    embedding_drift_report): per-dimension mean deltas between a
    reference wave (labels 0-6) and a current wave (labels 7-9) —
    the drift a new encoder version or a shifted source mix leaves
    on a vector corpus. Scale: posexplode + map-side-combined
    groupBy, so the shuffle carries D(=64) rows per input partition
    regardless of corpus size; the waves never join row-to-row."""
    emb = _t(spark, sf_dir, "embeddings")
    ref = emb.filter(F.col("label") <= 6)
    cur = emb.filter(F.col("label") >= 7)
    return SIM.embedding_drift_report(ref, cur, "embedding")


EMBEDDING_DRIFT_SQL = """
WITH r AS (
  SELECT unnest(embedding::DOUBLE[]) AS v,
         unnest(range(0, len(embedding))) AS dim
  FROM embeddings WHERE label <= 6
), c AS (
  SELECT unnest(embedding::DOUBLE[]) AS v,
         unnest(range(0, len(embedding))) AS dim
  FROM embeddings WHERE label >= 7
), rm AS (
  SELECT dim, avg(v) AS m FROM r GROUP BY dim
), cm AS (
  SELECT dim, avg(v) AS m FROM c GROUP BY dim
)
SELECT coalesce(rm.dim, cm.dim)::INT AS dim,
       round(rm.m, 6) AS mean_ref,
       round(cm.m, 6) AS mean_cur,
       round(abs(rm.m - cm.m), 6) AS delta
FROM rm FULL JOIN cm ON rm.dim = cm.dim
ORDER BY dim
"""


def embedding_drift_summary_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row embedding drift verdict (operators/similarity.py::
    embedding_drift_summary): wave sizes, max/mean per-dimension
    delta, mean L2 norm per wave (a rescaled encoder moves norms
    while keeping directions), and the drifted flag at 0.05 — the
    row a scheduler alerts on before retraining on a drifted
    corpus."""
    emb = _t(spark, sf_dir, "embeddings")
    ref = emb.filter(F.col("label") <= 6)
    cur = emb.filter(F.col("label") >= 7)
    return SIM.embedding_drift_summary(ref, cur, "embedding", alert_delta=0.05)


EMBEDDING_DRIFT_SUMMARY_SQL = """
WITH r AS (
  SELECT unnest(embedding::DOUBLE[]) AS v,
         unnest(range(0, len(embedding))) AS dim
  FROM embeddings WHERE label <= 6
), c AS (
  SELECT unnest(embedding::DOUBLE[]) AS v,
         unnest(range(0, len(embedding))) AS dim
  FROM embeddings WHERE label >= 7
), rm AS (
  SELECT dim, avg(v) AS m FROM r GROUP BY dim
), cm AS (
  SELECT dim, avg(v) AS m FROM c GROUP BY dim
), rep AS (
  SELECT round(abs(rm.m - cm.m), 6) AS delta
  FROM rm FULL JOIN cm ON rm.dim = cm.dim
), stats AS (
  SELECT count(*)::BIGINT AS n_dims, max(delta) AS max_delta,
         round(avg(delta), 6) AS mean_delta
  FROM rep
), nr AS (
  SELECT count(*)::BIGINT AS n_ref,
         round(avg(sqrt(list_sum(
           list_transform(embedding::DOUBLE[], x -> x*x)))), 6) AS norm_ref
  FROM embeddings WHERE label <= 6
), nc AS (
  SELECT count(*)::BIGINT AS n_cur,
         round(avg(sqrt(list_sum(
           list_transform(embedding::DOUBLE[], x -> x*x)))), 6) AS norm_cur
  FROM embeddings WHERE label >= 7
)
SELECT n_ref, n_cur, n_dims, max_delta, mean_delta, norm_ref, norm_cur,
       CASE WHEN n_ref = 0 OR n_cur = 0 THEN TRUE
            ELSE max_delta > 0.05 END AS drifted
FROM stats, nr, nc
"""


def lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH screen acceptance gate (operators/dedup.py::
    lsh_recall_report): on a deterministic 64-doc sample, exact
    all-pairs Jaccard ground truth vs the banded MinHash candidates —
    recall of real near-dup pairs and the screen's verify-rate, in
    integer ppm. The near-dup analogue of `ann_recall_report`; the
    ground truth is sample-bounded by construction (the all-pairs
    stage is the reason this is an AUDIT, not the pipeline).

    The number is the banding S-curve made observable: at the
    production default k=128/r=8 (b=16 bands), P(candidate | j) =
    1-(1-j^8)^16 is ~0.95 AT j=0.8 — the fixture reads 99%+ because
    most of its true-pair mass sits above the threshold. The knob
    was chosen BY this gauge (`lsh_tuning_table`): the old (16, 8)
    default's b=2 curve promised ~0.31 and measured ~46% here;
    more hashes at fixed r climbs the curve without collapsing
    per-band selectivity, where widening bands at fixed k trades
    recall for a candidate explosion."""
    docs = _t(spark, sf_dir, "documents")
    return DD.lsh_recall_report(
        docs, num_hashes=_MH_K, band_size=_MH_BAND,
        threshold=0.8, sample=64,
    )


_MH_SAMPLED_CTE = _MH_CTE.replace(
    "FROM documents",
    "FROM (SELECT doc_id, text FROM documents "
    "ORDER BY md5(doc_id::VARCHAR), doc_id LIMIT 64)",
)

LSH_RECALL_SQL = _MH_SAMPLED_CTE + """
, jac AS (
  SELECT ta.doc_id AS doc_a, tb.doc_id AS doc_b,
         round(len(list_intersect(ta.hs, tb.hs))::DOUBLE /
               (len(ta.hs) + len(tb.hs)
                - len(list_intersect(ta.hs, tb.hs))), 6) AS j
  FROM hm ta JOIN hm tb ON ta.doc_id < tb.doc_id
), truth AS (
  SELECT doc_a, doc_b FROM jac WHERE j >= 0.8
), hits AS (
  SELECT doc_a, doc_b FROM truth INTERSECT SELECT doc_a, doc_b FROM cand
)
SELECT (SELECT count(*) FROM hm)::BIGINT AS n_sample,
       (SELECT count(*) FROM truth)::BIGINT AS n_true,
       (SELECT count(*) FROM cand)::BIGINT AS n_candidates,
       (SELECT count(*) FROM hits)::BIGINT AS n_hits,
       ((SELECT count(*) FROM hits) * 1000000
        // greatest((SELECT count(*) FROM truth), 1))::BIGINT AS recall_ppm,
       ((SELECT count(*) FROM hits) * 1000000
        // greatest((SELECT count(*) FROM cand), 1))::BIGINT
         AS screen_precision_ppm
"""


_LSH_TUNING_CONFIGS = (
    ("classic", 16, 8),
    ("classic", 16, 4),
    ("classic", 64, 8),
    ("classic", 128, 8),
    ("oph", 128, 8),
)


def lsh_tuning_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The banding knob sweep (operators/dedup.py::lsh_tuning_report)
    that CHOSE the production default: recall and screen-precision of
    four (num_hashes, band_size) configurations — plus the
    one-permutation scheme at the chosen banding — against one shared
    64-doc sample and exact ground truth. The table shows why
    (classic, 128, 8) is the default: more hashes at fixed r=8 climbs
    the S-curve to 99%+ recall at j=0.8 while (16, 4) buys its recall
    by collapsing per-band selectivity, and the OPH row prices the
    O(tokens) signature swap (same recall, more candidates to verify
    on short docs)."""
    docs = _t(spark, sf_dir, "documents")
    return DD.lsh_tuning_report(
        docs, configs=_LSH_TUNING_CONFIGS, threshold=0.8, sample=64
    )


_SAMPLED64 = (
    "FROM (SELECT doc_id, text FROM documents "
    "ORDER BY md5(doc_id::VARCHAR), doc_id LIMIT 64)"
)


def _lsh_tuning_block(scheme: str, k: int, band: int) -> str:
    cte_fn = _oph_cte if scheme == "oph" else _mh_cte
    cte = cte_fn(k, band).replace("FROM documents", _SAMPLED64)
    return f"""SELECT * FROM (
{cte}
, jac AS (
  SELECT ta.doc_id AS doc_a, tb.doc_id AS doc_b,
         round(len(list_intersect(ta.hs, tb.hs))::DOUBLE /
               (len(ta.hs) + len(tb.hs)
                - len(list_intersect(ta.hs, tb.hs))), 6) AS j
  FROM hm ta JOIN hm tb ON ta.doc_id < tb.doc_id
), truth AS (
  SELECT doc_a, doc_b FROM jac WHERE j >= 0.8
), hits AS (
  SELECT doc_a, doc_b FROM truth INTERSECT SELECT doc_a, doc_b FROM cand
)
SELECT '{scheme}' AS scheme,
       {k}::INT AS num_hashes, {band}::INT AS band_size,
       (SELECT count(*) FROM hm)::BIGINT AS n_sample,
       (SELECT count(*) FROM truth)::BIGINT AS n_true,
       (SELECT count(*) FROM cand)::BIGINT AS n_candidates,
       (SELECT count(*) FROM hits)::BIGINT AS n_hits,
       ((SELECT count(*) FROM hits) * 1000000
        // greatest((SELECT count(*) FROM truth), 1))::BIGINT AS recall_ppm,
       ((SELECT count(*) FROM hits) * 1000000
        // greatest((SELECT count(*) FROM cand), 1))::BIGINT
         AS screen_precision_ppm
)"""


LSH_TUNING_SQL = "\nUNION ALL\n".join(
    _lsh_tuning_block(s, k, b) for s, k, b in _LSH_TUNING_CONFIGS
)


def lsh_recall_audit_oph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`lsh_recall_audit` for the ONE-PERMUTATION signature scheme
    (operators/dedup.py::oph_signature): same 64-doc sample, same
    exact ground truth, the O(tokens) signature pass instead of the
    classic O(k*tokens) mixes. The pair of audits prices the scheme
    choice: OPH keeps recall (measured 100% here — densification
    borrows only ADD band-collision ways) while giving up screen
    precision on short docs (empty buckets borrow in a correlated
    way, ~2x the candidates at this fixture's ~200-token docs); at
    real-corpus token counts (10^3+) buckets fill, the borrowing
    vanishes, and the k-times-cheaper signature pass is the win."""
    docs = _t(spark, sf_dir, "documents")
    return DD.lsh_recall_report(
        docs, num_hashes=_MH_K, band_size=_MH_BAND,
        threshold=0.8, sample=64, scheme="oph",
    )


LSH_RECALL_OPH_SQL = _oph_cte(_MH_K, _MH_BAND).replace(
    "FROM documents",
    "FROM (SELECT doc_id, text FROM documents "
    "ORDER BY md5(doc_id::VARCHAR), doc_id LIMIT 64)",
) + """
, jac AS (
  SELECT ta.doc_id AS doc_a, tb.doc_id AS doc_b,
         round(len(list_intersect(ta.hs, tb.hs))::DOUBLE /
               (len(ta.hs) + len(tb.hs)
                - len(list_intersect(ta.hs, tb.hs))), 6) AS j
  FROM hm ta JOIN hm tb ON ta.doc_id < tb.doc_id
), truth AS (
  SELECT doc_a, doc_b FROM jac WHERE j >= 0.8
), hits AS (
  SELECT doc_a, doc_b FROM truth INTERSECT SELECT doc_a, doc_b FROM cand
)
SELECT (SELECT count(*) FROM hm)::BIGINT AS n_sample,
       (SELECT count(*) FROM truth)::BIGINT AS n_true,
       (SELECT count(*) FROM cand)::BIGINT AS n_candidates,
       (SELECT count(*) FROM hits)::BIGINT AS n_hits,
       ((SELECT count(*) FROM hits) * 1000000
        // greatest((SELECT count(*) FROM truth), 1))::BIGINT AS recall_ppm,
       ((SELECT count(*) FROM hits) * 1000000
        // greatest((SELECT count(*) FROM cand), 1))::BIGINT
         AS screen_precision_ppm
"""


def embedding_drift_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding drift verdicts (operators/similarity.py::
    embedding_drift_grouped): each label compares its own
    per-dimension means between waves — a minority slice's shift (or
    disappearance: labels 8-9 are withheld from the current wave
    here, and a vanished group IS the drift) alarms even when
    corpus-level means hide it. G x D rows cross the shuffle per
    partition; never corpus-sized."""
    emb = _t(spark, sf_dir, "embeddings")
    ref = emb.filter(F.col("vec_id") % 4 != 0)
    cur = emb.filter(
        (F.col("vec_id") % 4 == 0) & (F.col("label") <= 7)
    )
    return SIM.embedding_drift_grouped(ref, cur, "embedding", "label")


EMBEDDING_DRIFT_GROUPED_SQL = """
WITH r AS (
  SELECT label AS g, unnest(embedding::DOUBLE[]) AS v,
         unnest(range(0, len(embedding))) AS dim
  FROM embeddings WHERE vec_id % 4 <> 0
), c AS (
  SELECT label AS g, unnest(embedding::DOUBLE[]) AS v,
         unnest(range(0, len(embedding))) AS dim
  FROM embeddings WHERE vec_id % 4 = 0 AND label <= 7
), rm AS (
  SELECT g, dim, avg(v) AS m FROM r GROUP BY g, dim
), cm AS (
  SELECT g, dim, avg(v) AS m FROM c GROUP BY g, dim
), per AS (
  SELECT coalesce(rm.g, cm.g) AS g,
         round(abs(rm.m - cm.m), 6) AS delta
  FROM rm FULL JOIN cm ON rm.g = cm.g AND rm.dim = cm.dim
), agg AS (
  SELECT g, count(*)::BIGINT AS n_dims, max(delta) AS max_delta,
         round(avg(delta), 6) AS mean_delta
  FROM per GROUP BY g
), nr AS (
  SELECT label AS g, count(*)::BIGINT AS n
  FROM embeddings WHERE vec_id % 4 <> 0 GROUP BY 1
), nc AS (
  SELECT label AS g, count(*)::BIGINT AS n
  FROM embeddings WHERE vec_id % 4 = 0 AND label <= 7 GROUP BY 1
)
SELECT agg.g::INT AS label,
       coalesce(nr.n, 0)::BIGINT AS n_ref,
       coalesce(nc.n, 0)::BIGINT AS n_cur,
       n_dims, max_delta, mean_delta,
       CASE WHEN coalesce(nr.n, 0) = 0 OR coalesce(nc.n, 0) = 0
            THEN TRUE ELSE max_delta > 0.05 END AS drifted
FROM agg
LEFT JOIN nr ON nr.g = agg.g
LEFT JOIN nc ON nc.g = agg.g
ORDER BY label
"""


def snapshot_drift_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile drift (operators/curation.py::drift_report_quantiles)
    between two event waves: exact interpolated p50/p90/p99 of
    `value` per wave and the absolute shift — the tail movement the
    bucketed `snapshot_drift` histogram blurs. One percentile
    aggregate per wave; no window, no row-to-row join (the 100 TB
    swap — percentile_approx or the maintained bottom-k tiles — is
    documented on the operator)."""
    ev = _t(spark, sf_dir, "events")
    ref = ev.filter(F.col("event_id") % 2 == 0)
    cur = ev.filter(F.col("event_id") % 2 == 1)
    return CU.drift_report_quantiles(ref, cur, "value", (0.5, 0.9, 0.99))


SNAPSHOT_DRIFT_QUANTILES_SQL = """
WITH r AS (
  SELECT quantile_cont(value, 0.5) AS q50, quantile_cont(value, 0.9) AS q90,
         quantile_cont(value, 0.99) AS q99
  FROM events WHERE event_id % 2 = 0
), c AS (
  SELECT quantile_cont(value, 0.5) AS q50, quantile_cont(value, 0.9) AS q90,
         quantile_cont(value, 0.99) AS q99
  FROM events WHERE event_id % 2 = 1
)
SELECT 0.5::DOUBLE AS q, round(r.q50, 6) AS ref_v, round(c.q50, 6) AS cur_v,
       round(abs(r.q50 - c.q50), 6) AS delta FROM r, c
UNION ALL
SELECT 0.9::DOUBLE, round(r.q90, 6), round(c.q90, 6),
       round(abs(r.q90 - c.q90), 6) FROM r, c
UNION ALL
SELECT 0.99::DOUBLE, round(r.q99, 6), round(c.q99, 6),
       round(abs(r.q99 - c.q99), 6) FROM r, c
"""


def source_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stream freshness/lag monitor — the reference's one
    operational gauge (publish lag, lib/kafkalib/writer.go:131) as a
    query over event time: per event_type, row count, last-seen
    timestamp, lag behind the corpus high-water mark in exact whole
    seconds (microsecond-integer arithmetic — no float time math),
    trailing-24h volume, and a stale flag at 1h. Scale: two
    partial-agg passes + a broadcast 1-row high-water join; event
    waves never join row-to-row."""
    ev = _t(spark, sf_dir, "events")
    mx = ev.agg(F.max("ts").alias("corpus_max"))
    per = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max("ts").alias("last_ts"),
    )
    recent = (
        ev.crossJoin(F.broadcast(mx))
        .filter(F.col("ts") >= F.col("corpus_max") - F.expr("INTERVAL 1 DAY"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_last_day"))
    )
    lag_s = (
        (F.unix_micros("corpus_max") - F.unix_micros("last_ts"))
        / F.lit(1_000_000)
    ).cast("long")
    return (
        per.crossJoin(F.broadcast(mx))
        .join(recent, "event_type", "left")
        .select(
            "event_type",
            "n_events",
            F.date_format("last_ts", "yyyy-MM-dd HH:mm:ss").alias(
                "last_seen"
            ),
            lag_s.alias("lag_s"),
            F.coalesce(F.col("n_last_day"), F.lit(0)).alias("n_last_day"),
            (lag_s > F.lit(3600)).alias("stale"),
        )
        .orderBy("event_type")
    )


SOURCE_FRESHNESS_SQL = """
WITH mx AS (
  SELECT max(ts) AS m FROM events
), per AS (
  SELECT event_type, count(*) AS n_events, max(ts) AS last_ts
  FROM events GROUP BY 1
), recent AS (
  SELECT event_type, count(*) AS n_last_day
  FROM events, mx WHERE ts >= m - INTERVAL 1 DAY GROUP BY 1
)
SELECT p.event_type,
       p.n_events::BIGINT AS n_events,
       strftime(p.last_ts, '%Y-%m-%d %H:%M:%S') AS last_seen,
       ((epoch_us(mx.m) - epoch_us(p.last_ts)) // 1000000)::BIGINT AS lag_s,
       coalesce(r.n_last_day, 0)::BIGINT AS n_last_day,
       ((epoch_us(mx.m) - epoch_us(p.last_ts)) // 1000000) > 3600 AS stale
FROM per p CROSS JOIN mx LEFT JOIN recent r ON r.event_type = p.event_type
ORDER BY p.event_type
"""


# ---------------------------------------------------------------------------
# catalog

CATALOG: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {
    # -- driver window (first 50). The driver's oracle checks CATALOG in
    # declaration order and stops at 50. r1 verified the classic analytics
    # block (green rows in CORRECTNESS_r01.json); r2's window carries the
    # reference-surface ops, every LLM-pipeline/temporal/CDC operator that
    # had no r1 verdict, and the 16 queries whose decimal/hugeint edges
    # were canonicalized this round.
    # r4 rotation: the round-4 additions (heavy hitters, bigram LM,
    # sequence packing, cohort retention, OHLC bars) enter the window
    # immediately (never driver-checked); rotated out are
    # s1/p5/c10/p2/p3 — hash-green in r1, r2 AND r3 with code
    # untouched since.
    "heavy_hitters": (heavy_hitters_q, HEAVY_HITTERS_SQL),
    "bigram_logprob": (bigram_logprob_q, BIGRAM_LM_SQL),
    "pack_sequences": (pack_sequences_q, PACK_SEQ_SQL),
    "cohort_retention": (cohort_retention, COHORT_SQL),
    "ohlc_bars": (ohlc_bars, OHLC_SQL),
    # r4b: the concurrent-snapshot merge enters the window (new);
    # rotated out: k3_transfer_dedupe (green r2+r3, untouched —
    # cdc_e2e_pipeline exercises the same transfer MERGE in-window)
    "incremental_snapshot": (incremental_snapshot, INCR_SNAPSHOT_SQL),
    # LLM-data-pipeline
    # r4c: the cross-source contamination matrix enters the window
    # (new — it runs the whole dedup_near_dup pipeline and then
    # labels/aggregates, so the LSH+Jaccard path stays driver-
    # checked); dedup_near_dup itself rotates out (r3 hash-green,
    # untouched)
    "source_overlap": (source_overlap, SOURCE_OVERLAP_SQL),
    # video_frames (real PPMV frame extraction, new) enters the
    # window; dedup_minhash_lsh rotates out (r1+r3 hash-green,
    # untouched; near_dup exercises the same LSH path in-window)
    "video_frames": (video_frames, VIDEO_FRAMES_SQL),
    # r4c: overlapping-window exact-substring dedup enters the
    # window (new); knn_ivf rotates out (r3 hash-green, untouched —
    # knn_ivf_sq8 / knn_pq / knn_sq8 keep the ANN tier in-window)
    "duplicate_spans": (duplicate_spans_q, DUP_SPANS_SQL),
    "remove_dup_spans": (remove_dup_spans_q, REMOVE_DUP_SPANS_SQL),
    # knn_pq enters the window (new this round); dedup_components
    # rotates out — r3 hash-green, untouched, and canonical_docs (in
    # window) exercises the same components code path end-to-end
    "knn_pq": (knn_pq, KNN_PQ_SQL),
    "knn_ivf_pq": (knn_ivf_pq_q, KNN_IVF_PQ_SQL),
    # r4: dataset-QA verbs enter the window (rotated out: dedup_ngram
    # / embedding_near_dup — r3 hash-green, code untouched)
    "data_quality_report": (data_quality_report, QUALITY_REPORT_SQL),
    "value_histogram": (value_histogram, HISTOGRAM_SQL),
    "snapshot_drift": (snapshot_drift, SNAPSHOT_DRIFT_SQL),
    "snapshot_drift_summary": (
        snapshot_drift_summary, SNAPSHOT_DRIFT_SUMMARY_SQL,
    ),
    "snapshot_drift_by_group": (
        snapshot_drift_by_group, SNAPSHOT_DRIFT_GROUPED_SQL,
    ),
    # r9: categorical drift family (top-K + OTHER source-mix shares)
    "snapshot_drift_categorical": (
        snapshot_drift_categorical, SNAPSHOT_DRIFT_CAT_SQL,
    ),
    "snapshot_drift_categorical_summary": (
        snapshot_drift_categorical_summary, SNAPSHOT_DRIFT_CAT_SUMMARY_SQL,
    ),
    "snapshot_drift_categorical_by_group": (
        snapshot_drift_categorical_by_group, SNAPSHOT_DRIFT_CAT_GROUPED_SQL,
    ),
    # r9: embedding-distribution drift (the vector-side member of the
    # drift family; per-dim mean deltas + one-row norm/delta verdict)
    "embedding_drift": (embedding_drift_q, EMBEDDING_DRIFT_SQL),
    "embedding_drift_summary": (
        embedding_drift_summary_q, EMBEDDING_DRIFT_SUMMARY_SQL,
    ),
    # r9: quantile drift (tail movement histograms blur) + the
    # freshness/lag gauge (kafkalib/writer.go:131) as a query
    "snapshot_drift_quantiles": (
        snapshot_drift_quantiles, SNAPSHOT_DRIFT_QUANTILES_SQL,
    ),
    "source_freshness": (source_freshness, SOURCE_FRESHNESS_SQL),
    "embedding_drift_by_group": (
        embedding_drift_by_group, EMBEDDING_DRIFT_GROUPED_SQL,
    ),
    "lsh_recall_audit": (lsh_recall_audit, LSH_RECALL_SQL),
    # r10: the knob sweep that chose the k=128/r=8 production banding
    "lsh_tuning_table": (lsh_tuning_table, LSH_TUNING_SQL),
    # r10: the one-permutation scheme's recall audit (O(tokens)
    # signatures — the long-document swap, priced by this gauge)
    "lsh_recall_audit_oph": (lsh_recall_audit_oph, LSH_RECALL_OPH_SQL),
    # r4c: image perceptual-hash dedup enters the window (new);
    # multimodal_features rotates out (r3 hash-green, untouched —
    # image_phash_dedup exercises the same synthesize/decode path
    # end-to-end and multimodal_resize stays in-window)
    "image_phash_dedup": (image_phash_dedup, IMAGE_PHASH_SQL),
    # (pagerank_neardup replaces term_stats in the window —
    # term_stats is r3 hash-green with untouched code)
    "pagerank_neardup": (pagerank_neardup, PAGERANK_SQL),
    # r5 rotation: the round-4 additions enter the window immediately
    # (never driver-checked); rotated out are dedup_exact /
    # dedup_simhash / dedup_simhash_pairs / knn_bruteforce /
    # text_quality / text_tokens / asof_join_orders — r3 hash-green,
    # code untouched this round.
    "doc_chunks": (doc_chunks, CHUNKS_SQL),
    "canonical_docs": (canonical_docs, CANONICAL_SQL),
    "mixture_plan": (mixture_plan_q, MIXTURE_SQL),
    "epoch_shuffle": (epoch_shuffle_q, EPOCH_SHUFFLE_SQL),
    "pmi_bigrams": (pmi_bigrams_q, PMI_SQL),
    "sliding_trending": (sliding_trending, SLIDING_SQL),
    "knn_ivf_sq8": (knn_ivf_sq8_q, KNN_IVF_SQ8_SQL),
    # temporal / range / CDC audit
    # (funnel_events replaces range_join_bands in the window —
    # range_join_bands is r3 hash-green with untouched code)
    "funnel_events": (funnel_events, FUNNEL_SQL),
    # r4c: the materialized-inverted-index search enters the window
    # (new); cdc_reconcile rotates out (hash-green r1+r2+r3,
    # untouched — cdc_e2e_pipeline keeps the CDC sink path in-window)
    "text_bm25_indexed": (text_bm25_indexed, BM25_SQL),
    # r4c: the native session_window aggregate enters the window
    # (new); cdc_e2e_pipeline rotates out (hash-green r2+r3,
    # untouched this round)
    "session_window_native": (session_window_native, SESSION_NATIVE_SQL),
    # source_top_terms (new) enters the window; q1 rotates out
    # (hash-green r2+r3, code untouched — entry() still smokes it
    # at sf0.001 every round)
    "source_top_terms": (source_top_terms, SOURCE_TOP_TERMS_SQL),
    # r4b: triangle counting + vocab coverage enter the window
    # (new, never driver-checked); rotated out: q3_shipping_priority
    # (green r1-r3, untouched) and c5_schema_asof (green r2+r3,
    # untouched — cdc_e2e_pipeline exercises the same schema-history
    # code path in-window)
    "triangles_neardup": (triangles_neardup, TRIANGLES_SQL),
    "vocab_coverage": (vocab_coverage_q, VOCAB_COVERAGE_SQL),
    # q21 re-enters the window (its aggregation was restructured this
    # round — two-stage rollup); q5 rotates out (r1-r3 hash-green,
    # code untouched)
    "q21_waiting_supplier": (q21_waiting_supplier, Q21_SQL),
    # analytics first entering the window
    # r4 rotation: the five catalog entries that had never had a
    # driver verdict enter the window (r2 verdict task 2); rotated out
    # are s2/b1/p1/p4/p7 — two rounds hash-green, code untouched.
    "json_props_stats": (json_props_stats, JSON_PROPS_SQL),
    "clean_corpus": (clean_corpus, CLEAN_CORPUS_SQL),
    "array_functions": (array_functions, ARRAY_FUNCS_SQL),
    "text_shard_pack": (text_shard_pack, SHARD_PACK_SQL),
    "text_weighted_sample": (text_weighted_sample, WEIGHTED_SAMPLE_SQL),
    # r4 additions: corpus-curation layer (operators/curation.py) —
    # new this round, so they enter the window immediately; rotated
    # out are q8/q9/q10/q11/q12 (r3 hash-green, code untouched).
    "quality_repetition": (quality_repetition, REPETITION_SQL),
    "contamination_check": (contamination_check, CONTAMINATION_SQL),
    "stratified_sample": (stratified_sample, STRATIFIED_SQL),
    # reservoir_sample (exact-k A-ES) enters the window — new this
    # round; rotated out: text_winnowing (r3 hash-green, untouched)
    "reservoir_sample": (reservoir_sample_q, RESERVOIR_SQL),
    "temperature_resample": (temperature_resample, TEMPERATURE_SQL),
    "semantic_dedup": (semantic_dedup, SEMANTIC_DEDUP_SQL),
    "embedding_clusters": (embedding_clusters, EMBEDDING_CLUSTERS_SQL),
    "cluster_sample": (cluster_sample, CLUSTER_SAMPLE_SQL),
    "semdedup_prune": (semdedup_prune_q, SEMDEDUP_PRUNE_SQL),
    "cluster_health": (cluster_health_q, CLUSTER_HEALTH_SQL),
    "knn_sq8": (knn_sq8, KNN_SQ8_SQL),
    # r4 additions: retrieval + PII scrubbing (rotated out to make
    # room: q6/q15/q19 — two rounds hash-green, code untouched)
    "text_bm25": (text_bm25, BM25_SQL),
    "pii_scrub": (pii_scrub, PII_SCRUB_SQL),
    # r4 additions: passage dedup, unigram LM scoring, and the
    # oracle-checked multimodal decode/resize/spectrum paths
    # (rotated out: q7/q18/q22/events_cube - two rounds hash-green,
    # code untouched)
    "passage_dedup": (passage_dedup, PASSAGE_SQL),
    "unigram_logprob": (unigram_logprob_q, UNIGRAM_SQL),
    "multimodal_resize": (multimodal_resize, MULTIMODAL_RESIZE_SQL),
    "audio_spectrum": (audio_spectrum_q, AUDIO_SPECTRUM_SQL),
    # r4 additions: containment dedup + materialized shard packs
    # (rotated out: events_rollup_multigrain / window_frames - two
    # rounds hash-green, code untouched)
    "dedup_containment": (dedup_containment, CONTAINMENT_PAIRS_SQL),
    "shard_pack_concat": (shard_pack_concat, SHARD_CONCAT_SQL),
    # r4 addition: per-source curation report (rotated out:
    # text_fingerprint - two rounds hash-green, function untouched)
    "source_quality_report": (source_quality_report, SOURCE_REPORT_SQL),
    # r4 addition: delta-vs-corpus incremental dedup (rotated out:
    # text_lang_id - two rounds hash-green, function untouched)
    "dedup_incremental": (dedup_incremental, INCREMENTAL_SQL),
    # -- past the driver window. First in line for the r5 rotation
    # (with `term_stats`, the one pre-r4 entry still lacking a
    # driver verdict): new this round, locally oracle-checked at
    # sf0.01 AND sf0.001, no window slot left — the r4 window is
    # 100% never-driver-checked entries.
    "time_decay_features": (time_decay_features, TIME_DECAY_SQL),
    "events_anomaly": (events_anomaly, EVENTS_ANOMALY_SQL),
    "dataset_split": (dataset_split_q, DATASET_SPLIT_SQL),
    "dedup_exact_normalized": (dedup_exact_normalized, DEDUP_EXACT_NORM_SQL),
    "hybrid_search_rrf": (hybrid_search_rrf, HYBRID_RRF_SQL),
    "quality_mixture": (quality_mixture, QUALITY_MIX_SQL),
    "price_outliers_mad": (price_outliers_mad, PRICE_MAD_SQL),
    "knn_filtered": (knn_filtered, KNN_FILTERED_SQL),
    "kmv_distinct": (kmv_distinct, KMV_SQL),
    "bloom_seen_filter": (bloom_seen_filter, BLOOM_SQL),
    "bloom_tuning_table": (bloom_tuning_table, BLOOM_TUNING_SQL),
    "bloom_autosize": (bloom_autosize, BLOOM_AUTOSIZE_SQL),
    "source_overlap_kmv": (source_overlap_kmv, SOURCE_OVERLAP_KMV_SQL),
    "kcore_neardup": (kcore_neardup, KCORE_SQL),
    "lpa_communities": (lpa_communities_q, LPA_SQL),
    "lpa_communities_indexed": (lpa_communities_indexed_q, LPA_SQL),
    "canonical_docs_indexed": (canonical_docs_indexed_q, CANONICAL_SQL),
    # r9: component-map skew census (neardup_cc_occupancy core)
    "component_census": (component_census_indexed_q, COMPONENT_CENSUS_SQL),
    "split_by_component": (split_by_component_q, SPLIT_BY_COMPONENT_SQL),
    "record_linkage": (record_linkage, RECORD_LINKAGE_SQL),
    "doc_keywords": (doc_keywords, DOC_KEYWORDS_SQL),
    "doc_novelty": (doc_novelty, DOC_NOVELTY_SQL),
    "audio_fingerprint_dedup": (audio_fingerprint_dedup, AUDIO_FP_SQL),
    "video_fingerprint_dedup": (video_fingerprint_dedup, VIDEO_FP_SQL),
    "frame_match_search": (frame_match_search, FRAME_MATCH_SQL),
    "trigram_search": (trigram_search_q, TRIGRAM_SQL),
    "trigram_search_indexed": (trigram_search_indexed_q, TRIGRAM_SQL),
    "mixture_apply": (mixture_apply_q, MIXTURE_APPLY_SQL),
    "budget_select": (budget_select_q, BUDGET_SELECT_SQL),
    "vector_quality_report": (vector_quality_report, VECTOR_QA_SQL),
    "events_wow_trends": (events_wow_trends, WOW_TRENDS_SQL),
    "customer_rfm": (customer_rfm, CUSTOMER_RFM_SQL),
    "market_basket": (market_basket, MARKET_BASKET_SQL),
    "supplier_hhi": (supplier_hhi, SUPPLIER_HHI_SQL),
    # r1/r3-green, unchanged since
    "multimodal_features": (multimodal_features, MULTIMODAL_SQL),
    "knn_ivf": (knn_ivf, KNN_IVF_SQL),
    "ann_recall_report": (ann_recall_report_q, ANN_RECALL_SQL),
    "cdc_reconcile": (cdc_reconcile, CDC_RECONCILE_SQL),
    "cdc_e2e_pipeline": (cdc_e2e_pipeline, CDC_E2E_SQL),
    "dedup_near_dup": (dedup_near_dup, NEAR_DUP_SQL),
    "q3_shipping_priority": (q3_shipping_priority, Q3_SQL),
    "c5_schema_asof": (c5_schema_asof, C5_ASOF_SQL),
    "k3_transfer_dedupe": (k3_transfer_dedupe, K3_SQL),
    "s1_snapshot_scan": (s1_snapshot_scan, S1_SQL),
    "p5_envelope": (p5_envelope, P5_SQL),
    "c10_json_extract": (c10_json_extract, C10_SQL),
    "p2_value_parse": (p2_value_parse, P2_SQL),
    "p3_wire_converters": (p3_wire_converters, P3_SQL),
    "dedup_exact": (dedup_exact, DEDUP_EXACT_SQL),
    "dedup_minhash_lsh": (dedup_minhash_lsh, MINHASH_SQL),
    "dedup_degenerate_docs": (dedup_degenerate_docs, DEGENERATE_SQL),
    "oph_density_report": (oph_density_report, OPH_DENSITY_SQL),
    "text_winnowing": (text_winnowing, WINNOW_SQL),
    "dedup_components": (dedup_components, DEDUP_COMPONENTS_SQL),
    "dedup_ngram": (dedup_ngram, NGRAM_SQL),
    "embedding_near_dup": (embedding_near_dup, EMB_NEAR_DUP_SQL),
    "dedup_simhash": (dedup_simhash, SIMHASH_SQL),
    "dedup_simhash_pairs": (dedup_simhash_pairs, SIMHASH_PAIRS_SQL),
    "knn_bruteforce": (knn_bruteforce, KNN_SQL),
    "text_quality": (text_quality, QUALITY_SQL),
    "text_tokens": (text_tokens, TOKENS_SQL),
    "asof_join_orders": (asof_join_orders, ASOF_SQL),
    "range_join_bands": (range_join_bands, RANGE_SQL),
    "term_stats": (term_stats_q, TERM_STATS_SQL),
    "s2_pk_bounds": (s2_pk_bounds, S2_SQL),
    "b1_chunked_scan": (b1_chunked_scan, B1_SQL),
    "p1_projection": (p1_projection, P1_SQL),
    "p4_invalid_nulling": (p4_invalid_nulling, P4_SQL),
    "p7_ddl_filter": (p7_ddl_filter, P7_SQL),
    "q2_min_supplier": (q2_min_supplier, Q2_SQL),
    "q4_order_priority": (q4_order_priority, Q4_SQL),
    "q6_forecast_revenue": (q6_forecast_revenue, Q6_SQL),
    "q7_volume_shipping": (q7_volume_shipping, Q7_SQL),
    "q1_pricing_summary": (q1_pricing_summary, Q1_SQL),
    "q5_local_supplier": (q5_local_supplier, Q5_SQL),
    "q18_large_volume": (q18_large_volume, Q18_SQL),
    "q22_global_sales": (q22_global_sales, Q22_SQL),
    "events_cube": (events_cube, CUBE_SQL),
    "text_lang_id": (text_lang_id, LANG_SQL),
    "text_fingerprint": (text_fingerprint, FINGERPRINT_SQL),
    "events_rollup_multigrain": (events_rollup_multigrain, ROLLUP_MULTI_SQL),
    "window_frames": (window_frames, WINDOW_FRAMES_SQL),
    "q8_market_share": (q8_market_share, Q8_SQL),
    "q14_promo_effect": (q14_promo_effect, Q14_SQL),
    "q15_top_supplier": (q15_top_supplier, Q15_SQL),
    "q19_discounted_revenue": (q19_discounted_revenue, Q19_SQL),
    "q9_product_profit": (q9_product_profit, Q9_SQL),
    "q10_returned_items": (q10_returned_items, Q10_SQL),
    "q11_important_parts": (q11_important_parts, Q11_SQL),
    "q12_ship_priority": (q12_ship_priority, Q12_SQL),
    "q13_customer_distribution": (q13_customer_distribution, Q13_SQL),
    "q16_supplier_count": (q16_supplier_count, Q16_SQL),
    "q20_excess_supply": (q20_excess_supply, Q20_SQL),
    "topk_per_group": (topk_per_group, TOPK_SQL),
    "events_hourly": (events_hourly, HOURLY_SQL),
    "sessionization": (sessionization, SESSION_SQL),
    "rollup_sales": (rollup_sales, ROLLUP_SQL),
    "anti_join_customers": (anti_join_customers, ANTI_SQL),
    "semi_join_customers": (semi_join_customers, SEMI_SQL),
    "set_ops_customers": (set_ops_customers, SETOPS_SQL),
    "percentiles": (percentiles, PERCENTILES_SQL),
    "pivot_status": (pivot_status, PIVOT_SQL),
    "small_quantity_orders": (small_quantity_orders, SMALLQTY_SQL),
    "string_functions": (string_functions, STRINGS_SQL),
    "date_functions": (date_functions, DATES_SQL),
    "running_totals": (running_totals, RUNNING_SQL),
    "lead_lag_events": (lead_lag_events, LEADLAG_SQL),
    "max_order_per_customer": (max_order_per_customer, MAX_ORDER_SQL),
    "approx_distinct_users": (approx_distinct_users, APPROX_DISTINCT_SQL),
    "sample_hash_mod": (sample_hash_mod, SAMPLE_SQL),
    "events_resample_locf": (events_resample_locf, RESAMPLE_SQL),
    # r5 additions (enter the driver window at the r6 rotation)
    "scd2_user_state": (scd2_user_state, SCD2_SQL),
    "event_transitions": (event_transitions, EVENT_TRANSITIONS_SQL),
    "events_ewma": (events_ewma, EWMA_SQL),
    "cms_term_freq": (cms_term_freq, CMS_SQL),
    "contrastive_pairs": (contrastive_pairs, CONTRASTIVE_SQL),
    "join_skew_report": (join_skew_report, JOIN_SKEW_SQL),
    "knn_binary": (knn_binary_q, KNN_BINARY_SQL),
    "curation_audit": (curation_audit, CURATION_AUDIT_SQL),
    "props_key_census": (props_key_census, PROPS_CENSUS_SQL),
    "split_leakage": (split_leakage, SPLIT_LEAKAGE_SQL),
    "decontaminate_train": (decontaminate_train_q, DECONTAMINATE_SQL),
    # r10: decontaminate-at-ingest — benchmark banded once into a
    # materialized index, each train wave filters against it; same
    # answer (and oracle) as the batch form by the cross-pair
    # candidate-set identity
    "decontaminate_incremental": (
        decontaminate_incremental_q, DECONTAMINATE_SQL,
    ),
    "event_path_trigrams": (event_path_trigrams, EVENT_PATHS_SQL),
    "sampled_quantiles": (sampled_quantiles, SAMPLED_QUANTILES_SQL),
}

# Edge canonicalization (no DECIMAL/array/map/struct leaves any catalog
# query — the driver's pandas canonicalizer mishandles both) is inlined
# in each query function's outermost select, NOT applied via a runtime
# wrapper: the old `_canon_entry` wrapper's `df.schema` probe cost a
# full second plan analysis per query (measured 1-2 s on lambda-heavy
# plans, bench r2). `tests/test_plans.py` enforces the contract
# catalog-wide at test time, where the analysis is free.


def _fresh_entry(
    fn: Callable[[SparkSession, str], DataFrame],
) -> Callable[[SparkSession, str], DataFrame]:
    """Drop the PREVIOUS catalog query's persisted frames on entry.

    Every `persist()` registers its analyzed plan in the session's
    CacheManager, and planning of each later query walks those
    entries for subtree matches. Across a 50-query driver session the
    leaked entries compound: the window loop measured 245 s with the
    leaks vs 56 s cleared (SCALE.md round-4 probe). Catalog entries
    are self-contained, so whatever the previous entry cached is dead
    weight by the time the next one is built — clearing here keeps
    the intra-query persist wins (shared dedup passes) without the
    cross-query planning tax. Unlike the retired `_canon_entry`, this
    triggers no plan analysis — `clearCache()` is a catalog op,
    O(live cache entries)."""

    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        release_pins()
        try:
            spark.catalog.clearCache()
        except Exception:  # pragma: no cover - foreign session quirk
            pass
        return fn(spark, sf_dir)

    wrapped.__name__ = fn.__name__
    wrapped.__doc__ = fn.__doc__
    return wrapped


# --- r12 driver-window rotation --------------------------------------
# The complete 21-query r7-stale cohort FIRST (4 driver-rounds stale —
# the r11 verdict's watch item #4 and its own task #3), then every
# query whose code path moved this round (the occupancy caps sit under
# semantic_dedup/semdedup_prune with new is_capped output columns; the
# kmeans family self-joins sit behind should_broadcast_pinned and the
# arrow column-order alignment; the bloom pair sits behind the probe
# NULL coalesce + autosized writes), then the stalest r8 greens to
# fill 50 (computed from CORRECTNESS_r0*.json keys as usual).
_WINDOW_R12 = [
    # new this round (never driver-sampled)
    "bloom_autosize",
    # r7-stale cohort, complete (last driver-sampled round 7)
    "heavy_hitters", "hybrid_search_rrf", "image_phash_dedup",
    "join_skew_report", "kmv_distinct", "knn_binary", "knn_filtered",
    "knn_ivf_pq", "knn_ivf_sq8", "knn_pq", "knn_sq8", "mixture_plan",
    "props_key_census", "record_linkage", "remove_dup_spans",
    "sampled_quantiles", "scd2_user_state", "semdedup_prune",
    "text_bm25", "text_bm25_indexed", "trigram_search_indexed",
    # code paths changed this round (caps / pinned-broadcast / bloom)
    "semantic_dedup", "embedding_near_dup", "cluster_sample",
    "cluster_health", "embedding_clusters", "budget_select",
    "bloom_seen_filter", "bloom_tuning_table",
    # stalest r8 greens fill the remainder
    "anti_join_customers", "approx_distinct_users", "asof_join_orders",
    "b1_chunked_scan", "c10_json_extract", "date_functions",
    "dedup_exact", "dedup_simhash", "dedup_simhash_pairs",
    "events_hourly", "events_resample_locf", "knn_bruteforce",
    "lead_lag_events", "max_order_per_customer", "multimodal_features",
    "p1_projection", "p2_value_parse", "p3_wire_converters",
    "p5_envelope", "q13_customer_distribution",
]
assert len(_WINDOW_R12) == 50 and set(_WINDOW_R12) <= set(CATALOG)
CATALOG = {
    **{k: CATALOG[k] for k in _WINDOW_R12},
    **{k: v for k, v in CATALOG.items() if k not in _WINDOW_R12},
}

CATALOG = {k: (_fresh_entry(fn), sql) for k, (fn, sql) in CATALOG.items()}
