"""Composed MySQL-binlog-shaped CDC pipeline (reference §3.2).

Wires the pieces end-to-end the way sources/mysql/streaming does:

  logtail source (C1: shards-as-partitions, checkpointed offsets)
    -> gate chain (`_gated_changes`): route DDL / DML / bookkeeping
       (C2, P7), replicate filter on db and table (P8), GTID dedupe
       (C4), schema-history as-of gate: drop DML older than the first
       schema version (C5 / dml.go:44-52)
    -> one JSON decode of the before/after row images against the
       active columns (`_decoded_images`)
    -> Debezium envelope (P5/P6) -> sink (K1/K2 contract:
       topic/key/value), or a bucketed Transfer MERGE (K3)

The DDL branch mutates the SchemaAdapter on the DRIVER between
micro-batches (schema changes are rare control events; the reference
does the same single-threaded mutation) and persists the JSONL
history for replay-on-boot (iterator.go:26-70).
"""

from __future__ import annotations

import json
import logging

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from reader_spark.envelope import cdc_envelope
from reader_spark.functions.localrel import local_df
from reader_spark.operators.transfer import TransferWriter
from reader_spark.sinks import write_parquet
from reader_spark.streaming.binlog import gtid_dedupe_batch, gtid_highwater_filter
from reader_spark.streaming.log_source import LogTailDataSource, LogTailStreamReader
from reader_spark.streaming.schema_history import SchemaAdapter

# Raw record shape emitted by a binlog decoder into the log files.
BINLOG_SCHEMA = (
    "seq string, ts_ms string, db string, tbl string, kind string, "
    "op string, gtid_sid string, gtid_tx string, statement string, "
    "before string, after string"
)


def open_stream(
    spark: SparkSession,
    path: str,
    start_offsets: dict | None = None,
    max_per_trigger: int | None = None,
    statedir: str | None = None,
) -> DataFrame:
    """`max_per_trigger` caps how many records one micro-batch may
    consume (B3: the reference batches up to batchSize events per
    iteration, iterator.go:149-233) — the back-pressure knob that
    bounds per-batch sink transactions and state growth. `statedir`
    persists the source's committed floor (the reference's
    offset-YAML pattern) so the cap holds from the first
    post-restart trigger; the pipelines place it INSIDE the
    checkpoint dir so the two share a lifecycle."""
    spark.dataSource.register(LogTailDataSource)
    reader = (
        spark.readStream.format("logtail")
        .schema(BINLOG_SCHEMA)
        .option("path", path)
    )
    if start_offsets:
        reader = reader.option("startoffsets", json.dumps(start_offsets))
    if max_per_trigger:
        reader = reader.option("maxrecordspertrigger", str(max_per_trigger))
    if statedir:
        reader = reader.option("statedir", statedir)
    return reader.load()


def log_position(log_dir: str) -> dict:
    """Current end-of-log position {file: n_records} — what the
    reference records as Position when a snapshot is cut
    (sources/mysql/streaming/offset.go:12-79). A stream started from
    this position sees exactly the events AFTER the snapshot."""
    return LogTailStreamReader.lengths(log_dir)


def _apply_ddl_batch(
    batch: DataFrame,
    adapter: SchemaAdapter,
    db: str,
    history_path: str | None,
) -> None:
    """Apply a micro-batch's DDL rows to the schema registry, gated
    like DML (reference ShouldReplicate, sources/mysql/streaming/
    dml.go:24-40): rows whose binlog schema context names another
    database are dropped here, and the adapter's own qualifier check
    catches `ALTER TABLE otherdb.t ...` issued from a replicated-db
    session. Null db (fixtures, older logs) passes through to the
    qualifier check."""
    if adapter.database is None:
        adapter.database = db
    ddl = (
        batch.filter(
            (F.col("kind") == "ddl")
            & (F.col("db").isNull() | (F.col("db") == db))
        )
        .select("seq", "ts_ms", "statement")
        .orderBy(F.col("seq").cast("long"))
        .collect()
    )
    for r in ddl:
        adapter.apply_ddl(
            r["statement"], int(r["ts_ms"] or 0), seq=int(r["seq"] or -1)
        )
    if history_path and ddl:
        adapter.dump(history_path)


def _gated_changes(
    batch: DataFrame,
    adapter: SchemaAdapter,
    db: str,
    tables: list[str],
    history_path: str | None,
    gtid_highwater: dict[str, int] | None,
    quarantine_path: str | None,
) -> dict[str, tuple[list[str], DataFrame]]:
    """The CDC gate chain both batch bodies share: apply the batch's
    DDL first (ordered by seq — control events are few and collected
    to the driver, as in the reference), then gate the DML. Returns
    {table: (active columns, that table's gated DML rows)} for every
    requested table the schema registry knows."""
    _apply_ddl_batch(batch, adapter, db, history_path)
    # A DDL statement against a replicated table that matched NO
    # dispatcher rule is a potential missed schema mutation — the
    # reference's full ANTLR grammar can't silently skip these
    # (lib/antlr/parse.go:40-111), so neither may we: divert to the
    # dead-letter log with its position and keep the stream running
    # (same contract as poison DML rows).
    if adapter.unmatched:
        for u in adapter.unmatched:
            logging.getLogger(__name__).warning(
                "quarantining unmatched DDL at ts=%s: %s",
                u["unix_ts"],
                u["statement"],
            )
        if quarantine_path:
            local_df(
                batch.sparkSession,
                [
                    (u["unix_ts"], u["table"], u["statement"], u["reason"])
                    for u in adapter.unmatched
                ],
                "unix_ts long, tbl string, statement string, reason string",
            ).write.mode("append").json(f"{quarantine_path}/_ddl")
        adapter.unmatched.clear()

    first_version = adapter.history[0]["unix_ts"] if adapter.history else None
    dml = batch.filter((F.col("kind") == "dml") & (F.col("db") == db))
    # resume gate first (drop replayed transactions below the GTID
    # checkpoint), then exact per-row replay dedupe within the batch
    dml = gtid_highwater_filter(dml, gtid_highwater)
    dml = gtid_dedupe_batch(dml)
    if first_version is not None:
        # late-data gate: events older than the oldest known schema
        # version cannot be decoded correctly -> dropped (dml.go:44-52)
        dml = dml.filter(F.col("ts_ms").cast("long") >= first_version)
    return {
        table: (adapter.tables[table], dml.filter(F.col("tbl") == table))
        for table in tables
        if table in adapter.tables
    }


def _decoded_images(
    rows: DataFrame,
    cols: list[str],
    table: str,
    quarantine_path: str | None,
) -> DataFrame:
    """The one decode of a table's gated DML: `from_json` of the
    before/after images against the active (all-string) columns,
    returned as `before`/`after` structs (the columns + `_corrupt`,
    null on every row returned) and `op`, `seq`, `ts_ms`.

    A corrupt image never passes through: PERMISSIVE from_json
    null-fills the fields of garbled input, so malformed bytes are
    only detectable via columnNameOfCorruptRecord. With
    `quarantine_path`, poison rows divert to a dead-letter log (raw
    bytes + position, replayable after a fix) and the healthy rest of
    the batch still publishes; the write is gated on a limit(1) probe
    so clean batches pay no extra evaluation and leave no empty dirs,
    and `seq` is the idempotency key replayed appends dedupe on.
    Without it the batch fails inside the caller's write, naming the
    table and seq, as the reference's DML decoder aborts on a decode
    error (dml.go:17-123)."""
    q_schema = T.StructType(
        [
            *[T.StructField(c, T.StringType()) for c in cols],
            T.StructField("_corrupt", T.StringType()),
        ]
    )
    opts = {"columnNameOfCorruptRecord": "_corrupt"}
    # The images are parsed inside a one-row `inline` (a Generate),
    # not a projection. A filter on the parsed structs cannot be
    # pushed below a Generate, while Spark pushes it below a Project
    # and copies both from_json calls into it, which parses every
    # image twice. The guard must be a filter: a projected column
    # (even `op`) is pruned by a caller's count() and never fires.
    shaped = rows.select(
        F.inline(
            F.array(
                F.struct(
                    F.from_json("before", q_schema, opts).alias("before"),
                    F.from_json("after", q_schema, opts).alias("after"),
                )
            )
        ),
        F.col("before").alias("before_raw"),
        F.col("after").alias("after_raw"),
        F.col("op"),
        F.col("seq"),
        F.col("ts_ms").cast("long").alias("ts_ms"),
    )
    corrupt = F.col("before._corrupt").isNotNull() | F.col(
        "after._corrupt"
    ).isNotNull()
    if quarantine_path:
        poison = shaped.filter(corrupt).select(
            "seq", "ts_ms", "op", "before_raw", "after_raw"
        )
        if poison.limit(1).count() > 0:
            poison.write.mode("append").json(f"{quarantine_path}/{table}")
        shaped = shaped.filter(~corrupt)
    else:
        shaped = shaped.filter(
            F.when(
                corrupt,
                F.raise_error(
                    F.concat(
                        F.lit(f"corrupt row image in {table} at seq "),
                        F.col("seq").cast("string"),
                    )
                ),
            ).otherwise(F.lit(True))
        )
    return shaped.select("before", "after", "op", "seq", "ts_ms")


def process_batch(
    batch: DataFrame,
    adapter: SchemaAdapter,
    db: str,
    tables: list[str],
    history_path: str | None = None,
    topic_prefix: str = "cdc",
    gtid_highwater: dict[str, int] | None = None,
    quarantine_path: str | None = None,
) -> dict[str, DataFrame]:
    """foreachBatch body (K1 Writer facade): the shared gate chain,
    then decode + envelope DML per table.

    Returns {table: envelope_df} for the sink to publish; offset
    commit happens via the checkpoint after this returns
    (write-then-commit, writer.go:44-50)."""
    gated = _gated_changes(
        batch, adapter, db, tables, history_path, gtid_highwater,
        quarantine_path,
    )
    # Envelope mode has no destination table state to clear — the
    # TRUNCATE maps to the transfer verb only in the MERGE pipeline
    # (run_pipeline_merge). Drain the queue here so it cannot grow
    # unbounded; downstream envelope consumers see the statement in
    # the DDL/schema-history stream.
    adapter.truncates.clear()
    out: dict[str, DataFrame] = {}
    for table, (cols, rows) in gated.items():
        # the envelope's row structs carry the table's columns only
        clean = lambda side: F.when(  # noqa: E731 - local reshape
            F.col(side).isNotNull(),
            F.struct(*[F.col(f"{side}.{c}").alias(c) for c in cols]),
        ).alias(side)
        out[table] = cdc_envelope(
            _decoded_images(rows, cols, table, quarantine_path).select(
                clean("before"), clean("after"), "op", "ts_ms"
            ),
            pk_cols=[cols[0]],
            db=db,
            table=table,
            topic_prefix=topic_prefix,
            ts_col=F.col("ts_ms"),
        )
    return out


def decoded_changes(
    batch: DataFrame,
    adapter: SchemaAdapter,
    db: str,
    tables: list[str],
    history_path: str | None = None,
    gtid_highwater: dict[str, int] | None = None,
) -> dict[str, DataFrame]:
    """Like `process_batch` but stops before the envelope: per table a
    flat change frame (decoded columns + op + seq) — the input shape
    of the transfer writer's MERGE paths. Delete rows take their PK
    columns from the before-image. A corrupt row image fails the
    batch. Replicated TRUNCATEs stay queued on `adapter.truncates`
    for the merge handler."""
    out: dict[str, DataFrame] = {}
    for table, (cols, rows) in _gated_changes(
        batch, adapter, db, tables, history_path, gtid_highwater, None
    ).items():
        pk = cols[0]
        out[table] = _decoded_images(rows, cols, table, None).select(
            F.when(F.col("op") == "d", F.col(f"before.{pk}"))
            .otherwise(F.col(f"after.{pk}"))
            .alias(pk),
            *[F.col(f"after.{c}").alias(c) for c in cols[1:]],
            "op",
            F.col("seq").cast("long").alias("seq"),
        )
    return out


def _drain_log(
    spark: SparkSession,
    log_dir: str,
    checkpoint_dir: str,
    handle,
    start_offsets: dict | None = None,
    max_per_trigger: int | None = None,
):
    """The runner both CDC pipelines share: tail `log_dir` (source
    floor persisted INSIDE the checkpoint, so the two share a
    lifecycle) and drain the backlog once through `handle(batch,
    epoch_id)` with availableNow semantics."""
    stream = open_stream(
        spark, log_dir, start_offsets=start_offsets,
        max_per_trigger=max_per_trigger,
        statedir=f"{checkpoint_dir}/_logtail_state",
    )

    def scoped(batch: DataFrame, epoch_id: int) -> None:
        # cache the micro-batch for the handler's lifetime: the DDL
        # collect and every per-table write are separate actions, and
        # each would otherwise re-read the batch through the Python
        # data source's partition readers (measured on the e2e
        # pipeline: the uncached addBatch ran ~2x the same work on a
        # static frame). Scoped persist, released before the offset
        # commit — never a cross-batch or cross-run cache.
        batch.persist()
        try:
            handle(batch, epoch_id)
        finally:
            batch.unpersist()

    return (
        stream.writeStream.foreachBatch(scoped)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def run_pipeline_merge(
    spark: SparkSession,
    log_dir: str,
    dest_dir: str,
    checkpoint_dir: str,
    db: str,
    tables: list[str],
    adapter: SchemaAdapter | None = None,
    history_path: str | None = None,
    n_buckets: int = 16,
    start_offsets: dict | None = None,
    scd2: bool = False,
    max_per_trigger: int | None = None,
):
    """Streaming CDC straight into MERGED table state: each micro-batch
    flows logtail -> decode -> a bucketed `TransferWriter` merge, so
    the destination is laid out as pk-hash bucket partitions and every
    batch rewrites only the buckets it touched. The checkpoint commits
    AFTER the merge (write-then-commit).

    `scd2` picks the merge semantics: False (`upsert_bucketed`) keeps
    current rows — replays are absorbed by last-write-wins on seq;
    True (`upsert_scd2_bucketed`) keeps EVERY version as a validity
    interval ([eff_from, eff_to) on the binlog seq, live rows open) —
    the history-preserving warehouse load, whose interval chaining
    relies on the GTID resume gate upstream to drop replayed
    positions. A destination created flat (by `upsert_scd2`) is
    refused with a ValueError naming the flat layout."""
    adapter = adapter or SchemaAdapter()
    writer = TransferWriter(spark, dest_dir)

    def handle(batch: DataFrame, epoch_id: int) -> None:
        changed = decoded_changes(batch, adapter, db, tables, history_path)
        # Replicated TRUNCATE TABLE maps onto the transfer truncate
        # verb (writer.go:310-327): clear the destination behind a
        # pointer flip, discard this batch's DML at-or-before the
        # truncate's log position (the truncate wiped those rows at
        # the source too), and let later DML apply normally. Replays
        # are safe: re-truncating an already-cleared table is a no-op
        # and the post-truncate rows re-merge last-write-wins.
        trunc_seq: dict[str, int] = {}
        for t in adapter.truncates:
            # explicit None check: `or -1` would treat a truncate
            # recorded at seq 0 as unknown (0 is falsy) and silently
            # skip the same-batch pre-truncate DML discard below
            s = t.get("seq")
            trunc_seq[t["table"]] = max(
                trunc_seq.get(t["table"], -1),
                int(s) if s is not None else -1,
            )
        adapter.truncates.clear()
        for table, hi_seq in trunc_seq.items():
            if not writer.exists(table):
                continue
            if scd2:
                # history-preserving destination: close every open
                # interval at the truncate's position instead of
                # wiping the table — truncate means the rows ceased
                # to exist, not that their history did
                writer.scd2_close_all(table, max(hi_seq, 0))
            else:
                writer.truncate(table)
        for table, changes in changed.items():
            if table in trunc_seq and trunc_seq[table] >= 0:
                changes = changes.filter(
                    F.col("seq") > F.lit(trunc_seq[table])
                )
            merge = (
                writer.upsert_scd2_bucketed if scd2 else writer.upsert_bucketed
            )
            pk = adapter.tables[table][0]
            merge(table, changes, [pk], "seq", n_buckets=n_buckets)

    return _drain_log(
        spark, log_dir, checkpoint_dir, handle, start_offsets, max_per_trigger
    )


def run_pipeline(
    spark: SparkSession,
    log_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    db: str,
    tables: list[str],
    adapter: SchemaAdapter | None = None,
    history_path: str | None = None,
    metrics_path: str | None = None,
    max_per_trigger: int | None = None,
):
    """End-to-end: logtail -> foreachBatch(process + parquet publish).
    Swap the parquet write for Kafka in production — the frame already
    carries (topic, key, value).

    With `metrics_path`, each batch appends one JSONL progress line
    per table — rows published + newest source event timestamp — the
    reference's writer progress log + Kafka lag gauge
    (writers/writer.go:62-72, lib/kafkalib/writer.go:131) as Spark
    OBSERVATION metrics: `Dataset.observe` accumulates them on the
    write action itself, no second pass over the batch (subtract
    max_source_ts_ms from wall clock for the lag gauge — the log
    keeps event time so replays stay byte-comparable)."""
    adapter = adapter or SchemaAdapter()

    def handle(batch: DataFrame, epoch_id: int) -> None:
        for table, env in process_batch(
            batch, adapter, db, tables, history_path
        ).items():
            obs = None
            if metrics_path:
                from pyspark.sql import Observation

                obs = Observation()
                env = env.observe(
                    obs,
                    F.count(F.lit(1)).alias("rows"),
                    F.max(
                        F.get_json_object(
                            "value", "$.payload.source.ts_ms"
                        ).cast("long")
                    ).alias("max_source_ts_ms"),
                )
            write_parquet(env, f"{sink_dir}/{table}")
            if obs is not None:
                m = obs.get
                with open(metrics_path, "a") as f:
                    f.write(
                        json.dumps(
                            {
                                "epoch": epoch_id,
                                "table": table,
                                "rows": m["rows"],
                                "max_source_ts_ms": m["max_source_ts_ms"],
                            }
                        )
                        + "\n"
                    )

    return _drain_log(
        spark, log_dir, checkpoint_dir, handle, max_per_trigger=max_per_trigger
    )


def snapshot_then_stream(
    spark: SparkSession,
    snapshots: dict[str, DataFrame],
    log_dir: str,
    dest_dir: str,
    checkpoint_dir: str,
    db: str,
    adapter: SchemaAdapter,
    history_path: str | None = None,
    n_buckets: int = 16,
    snapshot_position: dict | None = None,
):
    """The reference's core operational flow composed: lock-free
    snapshot, then CDC continuation from the position the snapshot
    was cut at (main.go: snapshot Run -> streaming Run; offset
    semantics offset.go:12-79).

    1. Use the position recorded WHEN THE SNAPSHOT WAS CUT
       (`snapshot_position`, the Position the reference persists next
       to its snapshot); when the snapshot is being cut right now,
       omit it and the current end of log is recorded.
    2. Seed the transfer destination with the snapshot rows (op="r",
       seq=0 — the Debezium snapshot op), bucket-partitioned so the
       later incremental merges stay narrow.
    3. Start the merge pipeline with `start_offsets` = the recorded
       position: the stream sees exactly the events AFTER the
       snapshot — no gap (position captured before the seed read) and
       no replay of pre-snapshot history against the seeded state
       (which a blind PK merge could not absorb).

    Returns the streaming query; tables = snapshots.keys().
    """
    pos = snapshot_position if snapshot_position is not None else log_position(log_dir)
    writer = TransferWriter(spark, dest_dir)
    for table, df in snapshots.items():
        # Seed in the WIRE shape `decoded_changes` emits (every column
        # string): the bucket key is pmod(xxhash64(pk), n) and
        # xxhash64 of int 3 != xxhash64 of string "3" — a typed seed
        # would scatter the same logical keys across different
        # buckets than the stream's merges touch. Typed columns are
        # the converter layer's (P3) job downstream of the transfer
        # table, exactly as in the reference.
        seed = df.select(
            *[F.col(c).cast("string").alias(c) for c in df.columns]
        ).withColumn("op", F.lit("r")).withColumn("seq", F.lit(0))
        pk = adapter.tables[table][0]
        writer.upsert_bucketed(table, seed, [pk], "seq", n_buckets=n_buckets)
    return run_pipeline_merge(
        spark,
        log_dir,
        dest_dir,
        checkpoint_dir,
        db,
        list(snapshots),
        adapter,
        history_path=history_path,
        n_buckets=n_buckets,
        start_offsets=pos,
    )
