"""MongoDB source helpers: canonical Extended JSON row model.

Reference: Mongo rows are emitted as canonical Extended JSON strings
preserving type tags like {"$oid": ...}, {"$date": ...}
(lib/mongo/message.go:49-53); change events are decoded to op r/c/u/d
with before/after ext-JSON and an `_id` partition key
(lib/mongo/change_event.go:18-155).

Spark-first: the Mongo Spark connector (format "mongodb") does the
snapshot/stream reads when its jar is present (not in this container
— gated behind import-try); the ext-JSON projection + change-event
shaping below are plain column expressions and run anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Mongo change stream operationType -> Debezium op
OP_MAP = {
    "insert": "c",
    "update": "u",
    "replace": "u",
    "delete": "d",
}


def snapshot_pipeline(
    min_id: str | None = None,
    max_id: str | None = None,
    id_field: str = "_id",
) -> str:
    """Aggregation-pipeline JSON for a bounded snapshot scan — the
    connector's `aggregation.pipeline` option; the `$match` runs
    server-side exactly like the reference's cursor filter
    (sources/mongo/snapshot.go:48-69: {_id: {$gte: min, $lte: max}}).

    Partitioned parallelism comes from the connector's partitioner on
    top of this bound; bounds use ext-JSON so ObjectId/typed ids
    round-trip."""
    import json as _json

    bounds = {}
    if min_id is not None:
        bounds["$gte"] = min_id
    if max_id is not None:
        bounds["$lte"] = max_id
    if not bounds:
        return "[]"
    return _json.dumps([{"$match": {id_field: bounds}}])


def snapshot_read_options(
    uri: str,
    database: str,
    collection: str,
    min_id: str | None = None,
    max_id: str | None = None,
    partitioner_field: str = "_id",
) -> dict[str, str]:
    """Options for spark.read.format("mongodb") — S9 snapshot scan."""
    return {
        "connection.uri": uri,
        "database": database,
        "collection": collection,
        "aggregation.pipeline": snapshot_pipeline(min_id, max_id),
        "partitioner.options.partition.field": partitioner_field,
    }


def ext_json_value(c: Column, dt, oid: bool = False) -> Column:
    """Typed column -> canonical Extended JSON v2 SHAPE (type tags
    preserved: $numberLong/$numberInt/$numberDouble/$numberDecimal/
    $date/$binary/$oid), ready for one to_json. This states the
    contract the reference gets from bson.MarshalExtJSON(canonical)
    (lib/mongo/message.go:49-53): numeric width and date-ness survive
    the JSON round trip instead of collapsing to bare literals.

    oid=True wraps a hex string as {"$oid": ...}. Arrays and structs
    recurse; strings and booleans are bare per the spec."""
    from pyspark.sql import types as T

    if oid:
        return F.struct(c.cast("string").alias("$oid"))
    if isinstance(dt, T.LongType):
        return F.struct(c.cast("string").alias("$numberLong"))
    if isinstance(dt, (T.IntegerType, T.ShortType, T.ByteType)):
        return F.struct(c.cast("string").alias("$numberInt"))
    if isinstance(dt, (T.DoubleType, T.FloatType)):
        return F.struct(c.cast("double").cast("string").alias("$numberDouble"))
    if isinstance(dt, T.DecimalType):
        return F.struct(c.cast("string").alias("$numberDecimal"))
    if isinstance(dt, T.TimestampType):
        return F.struct(
            F.struct(F.unix_millis(c).cast("string").alias("$numberLong")).alias("$date")
        )
    if isinstance(dt, T.DateType):
        return F.struct(
            F.struct(
                (F.unix_date(c).cast("long") * 86_400_000).cast("string")
                .alias("$numberLong")
            ).alias("$date")
        )
    if isinstance(dt, T.BinaryType):
        return F.struct(
            F.struct(
                F.base64(c).alias("base64"), F.lit("00").alias("subType")
            ).alias("$binary")
        )
    if isinstance(dt, T.ArrayType):
        return F.transform(c, lambda x: ext_json_value(x, dt.elementType))
    if isinstance(dt, T.StructType):
        return F.struct(
            *[
                ext_json_value(c.getField(f.name), f.dataType).alias(f.name)
                for f in dt.fields
            ]
        )
    return c  # string / boolean are bare in canonical ext JSON


def canonical_ext_json(df_schema_field, c: Column, oid_fields: set[str] | None = None) -> Column:
    """Struct column -> canonical Extended JSON STRING. `oid_fields`
    names top-level fields that carry ObjectId hex strings (the Spark
    connector surfaces ObjectId as its hex — the tag must be
    restored)."""
    from pyspark.sql import types as T

    oids = oid_fields or set()
    assert isinstance(df_schema_field, T.StructType)
    shaped = F.struct(
        *[
            ext_json_value(
                c.getField(f.name), f.dataType, oid=f.name in oids
            ).alias(f.name)
            for f in df_schema_field.fields
        ]
    )
    return F.to_json(shaped, {"ignoreNullFields": "false"})


def pk_id_string(c: Column, dt, oid: bool = False) -> Column:
    """The reference's partition-key idString switch
    (message.go:55-80): ObjectId -> {"$oid":"hex"}, string -> raw,
    integral -> decimal string, anything else -> its ext-JSON."""
    from pyspark.sql import types as T

    if oid:
        return F.concat(F.lit('{"$oid":"'), c.cast("string"), F.lit('"}'))
    if isinstance(dt, T.StringType):
        return c
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return c.cast("string")
    return F.to_json(ext_json_value(c, dt))


def mongo_message(
    df: DataFrame,
    database: str,
    collection: str,
    id_col: str = "_id",
    op_col: str | None = None,
    before_col: str | None = None,
    ts_col: Column | None = None,
    topic_prefix: str = "cdc",
    oid_id: bool = True,
    oid_fields: set[str] | None = None,
) -> DataFrame:
    """(topic, key, value) in the reference's Mongo wire contract
    (message.go:24-41): value = {"schema":{},"payload":{before,after,
    source{db,collection,ts_ms},op}} — Mongo events carry an EMPTY
    schema block ("MongoDB wouldn't include the schema") and after/
    before are canonical ext-JSON STRINGS, not structs; key payload is
    {"id": idString}."""
    from pyspark.sql import types as T

    doc_fields = [
        f for f in df.schema.fields if f.name not in (op_col, before_col)
    ]
    doc_schema = T.StructType(doc_fields)
    doc = F.struct(*[F.col(f.name).alias(f.name) for f in doc_fields])
    after = canonical_ext_json(
        doc_schema, doc, (oid_fields or set()) | ({id_col} if oid_id else set())
    )
    id_dt = df.schema[id_col].dataType
    key = F.to_json(
        F.struct(pk_id_string(F.col(id_col), id_dt, oid=oid_id).alias("id"))
    )
    ts = ts_col if ts_col is not None else F.unix_millis(F.current_timestamp())
    op = F.col(op_col) if op_col else F.lit("r")
    before = (
        F.col(before_col).cast("string") if before_col else F.lit(None).cast("string")
    )
    payload = F.struct(
        before.alias("before"),
        after.alias("after"),
        F.struct(
            F.lit(database).alias("db"),
            F.lit(collection).alias("collection"),
            ts.cast("long").alias("ts_ms"),
        ).alias("source"),
        op.alias("op"),
    )
    return df.select(
        F.lit(f"{topic_prefix}.{database}.{collection}").alias("topic"),
        F.concat(F.lit('{"schema":{},"payload":'), key, F.lit("}")).alias("key"),
        F.concat(
            F.lit('{"schema":{},"payload":'),
            F.to_json(payload, {"ignoreNullFields": "false"}),
            F.lit("}"),
        ).alias("value"),
    )


def op_column(operation_type: Column) -> Column:
    m = F.create_map(*[F.lit(x) for kv in OP_MAP.items() for x in kv])
    return m.getItem(operation_type)


def id_partition_key(id_json: Column) -> Column:
    """Partition key from the document `_id` (message.go:43-100):
    the key payload is {"id": <ext-json _id>}."""
    return F.to_json(F.struct(id_json.alias("id")))


def change_event_frame(
    raw: DataFrame,
    op_col: str = "operationType",
    full_doc: str = "fullDocument",
    pre_image: str = "fullDocumentBeforeChange",
    doc_key: str = "documentKey",
) -> DataFrame:
    """Shape a Mongo change-stream DataFrame (connector output or
    file-replayed fixtures) into the canonical (op, before, after,
    key) frame consumed by reader_spark.envelope.cdc_envelope.

    before/after stay Extended-JSON STRINGS (the reference's row
    model) — structure is recovered with from_json only when a query
    needs it. `documentKey` may arrive as a struct (connector) or an
    ext-JSON string (file-replayed fixtures)."""
    from pyspark.sql import types as T

    dk = raw.schema[doc_key].dataType
    key_json = (
        F.col(doc_key) if isinstance(dk, T.StringType) else F.to_json(F.col(doc_key))
    )
    return raw.select(
        op_column(F.col(op_col)).alias("op"),
        F.col(pre_image).cast("string").alias("before"),
        F.col(full_doc).cast("string").alias("after"),
        id_partition_key(key_json).alias("key"),
    )
