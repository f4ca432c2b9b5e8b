"""Sinks (reference §2.6): Kafka publisher contract + file fallback.

The reference's Kafka writer (lib/kafkalib/writer.go:21-193) JSON-
serializes envelope+key, gzips, splits batches at 1 MiB, and retries
with jitter. On Spark, every one of those is a sink/client option on
`write.format("kafka")` — the engine's job is only to present
(topic, key, value) columns, which reader_spark.envelope already
does.

kafka_available() gates the real sink: without the Kafka connector
on the classpath, envelopes land as parquet through `write_parquet`,
the one file writer for envelope frames; with it, a publish error
fails the job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# Mirrors the reference's operational defaults (BASELINE.md):
KAFKA_DEFAULTS = {
    "kafka.compression.type": "gzip",            # writer.go:32
    "kafka.max.request.size": str(1024 * 1024),  # writer.go:36 (1 MiB)
    "kafka.request.timeout.ms": "5000",          # writer.go:35
    "kafka.retries": "10",                       # writer.go:121
    "kafka.retry.backoff.ms": "100",
}


def kafka_available(spark: SparkSession) -> bool:
    """True when the Kafka connector is on the session's classpath."""
    try:
        jvm = spark._jvm  # noqa: SLF001
        jvm.Class.forName(
            "org.apache.spark.sql.kafka010.KafkaSourceProvider"
        )
        return True
    except Exception:
        return False


def write_kafka(
    env: DataFrame, bootstrap_servers: str, extra: dict[str, str] | None = None
) -> None:
    """Batch publish. `env` must carry (topic, key, value) string
    columns — the envelope contract (lib/kafkalib/message.go:9-31)."""
    writer = (
        env.selectExpr(
            "topic", "CAST(key AS BINARY) AS key", "CAST(value AS BINARY) AS value"
        )
        .write.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
    )
    for k, v in {**KAFKA_DEFAULTS, **(extra or {})}.items():
        writer = writer.option(k, v)
    writer.save()


# Envelope `key`/`value` are JSON documents: unique per row, so a
# dictionary only fills up and falls back to PLAIN, and they share a
# several-hundred-byte schema prefix, so min/max statistics cost a long
# byte compare per value and prune nothing; both are executor CPU spent
# on every value for no gain. `topic` (one value per table) keeps its
# dictionary and statistics.
_ENVELOPE_OPTIONS = {
    f"{opt}#{col}": "false"
    for col in ("key", "value")
    for opt in (
        "parquet.enable.dictionary",
        "parquet.column.statistics.enabled",
        "parquet.size.statistics.enabled",
    )
}


def write_parquet(env: DataFrame, path: str) -> None:
    """Append an envelope frame (topic, key, value) to `path` as
    parquet."""
    env.write.mode("append").options(**_ENVELOPE_OPTIONS).parquet(path)
