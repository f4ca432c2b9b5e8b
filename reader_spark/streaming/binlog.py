"""MySQL-binlog-shaped decode operators (reference C3/C4).

The reference zips positional binlog row arrays with the schema's
column names and pairs update rows into (before, after)
(sources/mysql/streaming/dml.go:17-123, splitIntoBeforeAndAfter at
converter.go:100-136), and drops rows whose GTID transaction id was
already seen per server-uuid (lib/mysql/gtid.go:10-51).

Spark-first: positional decode is element_at over the value array —
one select, no Python; update pairing is a filter on even/odd
positions after posexplode of row-pair chunks; GTID dedup is an
exact dropDuplicates per batch, behind a per-server high-water
resume gate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def decode_positional_rows(
    raw: DataFrame, schema_cols: list[str], values_col: str = "values"
) -> DataFrame:
    """C3: `values: array<string>` + ordered schema column names ->
    named columns. The zip the reference does per-row
    (dml.go:17-123) is N element_at expressions — codegen'd."""
    cols: list[Column] = [
        F.element_at(F.col(values_col), i + 1).alias(name)
        for i, name in enumerate(schema_cols)
    ]
    passthrough = [c for c in raw.columns if c != values_col]
    return raw.select(*passthrough, *cols)


def pair_update_rows(
    raw: DataFrame, rows_col: str = "rows"
) -> DataFrame:
    """C3: UPDATE_ROWS events carry [before1, after1, before2, ...];
    pair them (converter.go:100-136). posexplode + pos arithmetic —
    no window, order preserved within the event."""
    exploded = raw.select(
        *[c for c in raw.columns if c != rows_col],
        F.posexplode(rows_col).alias("pos", "row"),
    )
    pairs = exploded.withColumn("pair_idx", (F.col("pos") / 2).cast("int")).withColumn(
        "side", F.when(F.col("pos") % 2 == 0, "before").otherwise("after")
    )
    return (
        pairs.groupBy(
            *[c for c in raw.columns if c != rows_col], "pair_idx"
        )
        .pivot("side", ["before", "after"])
        .agg(F.first("row"))
    )


def gtid_dedupe_batch(events: DataFrame, sid_col: str = "gtid_sid",
                      tx_col: str = "gtid_tx",
                      seq_col: str = "seq") -> DataFrame:
    """C4 batch form: drop exact replays on per-ROW identity
    (server-uuid, tx, log-seq). A MySQL GTID names a whole
    transaction, and a transaction carries many rows — deduping on
    (sid, tx) alone would silently drop all but one row of every
    multi-row transaction. The log sequence number completes the row
    identity, so reconnect replays collapse while live transactions
    keep every row (gtid.go:10-51 keeps all rows of a processed tx)."""
    return events.dropDuplicates([sid_col, tx_col, seq_col])


def gtid_highwater_filter(events: DataFrame,
                          highwater: dict[str, int] | None,
                          sid_col: str = "gtid_sid",
                          tx_col: str = "gtid_tx") -> DataFrame:
    """C4 resume gate — the reference's ShouldProcessRow
    (lib/mysql/gtid.go:10-51): on reconnect, skip rows whose tx id is
    STRICTLY below the checkpointed per-server-uuid high-water mark
    (the highest interval Stop seen). Rows at the mark are reprocessed
    (at-least-once, as in the reference: `txID >= highestTxID`);
    unknown server uuids pass through.

    The GTID set is one entry per server uuid (a handful), so it is a
    literal map expression — evaluated in codegen, no join, no
    shuffle, scale-independent."""
    if not highwater:
        return events
    pairs: list = []
    for sid, stop in highwater.items():
        pairs.append(F.lit(sid))
        pairs.append(F.lit(int(stop)))
    hw = F.element_at(F.create_map(*pairs), F.col(sid_col))
    return events.filter(
        hw.isNull() | (F.col(tx_col).cast("long") >= hw)
    )
