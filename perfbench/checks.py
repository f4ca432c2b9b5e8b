"""Output checks: each compares what the program wrote with what the
generator says it must be, and returns a list of problems (empty when
the output is right)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

import gen


def _key_digest(col):
    """Order-independent digest of an integer key column: row count,
    sum and sum of squares (exact in decimal arithmetic)."""
    k = col.cast("decimal(38,0)")
    return [F.count(F.lit(1)).alias("n"), F.sum(k).alias("s"), F.sum(k * k).alias("s2")]


def snapshot_counts(spark, inputs: gen.SnapshotInputs, out_root: str) -> list[str]:
    """Per-table row count of a published snapshot."""
    bad = []
    for table, rows in inputs.tables.items():
        n = spark.read.parquet(f"{out_root}/{table}").count()
        if n != rows:
            bad.append(f"snapshot {table}: {n} rows published, {rows} in source")
    return bad


def snapshot(spark, inputs: gen.SnapshotInputs, out_root: str) -> list[str]:
    """Per-table row count plus an order-independent digest of the
    envelope keys' primary-key payload. The source's keys are a
    permutation of 0..rows-1, so the expected digest is closed-form."""
    bad = snapshot_counts(spark, inputs, out_root)
    keys = None
    for table in inputs.tables:
        df = spark.read.parquet(f"{out_root}/{table}").select(
            F.lit(table).alias("t"), F.get_json_object("key", "$.payload.id").alias("id"))
        keys = df if keys is None else keys.unionByName(df)
    got = {r["t"]: (int(r["n"]), int(r["s"]), int(r["s2"]))
           for r in keys.groupBy("t").agg(*_key_digest(F.col("id"))).collect()}
    for table, rows in inputs.tables.items():
        want = (rows, rows * (rows - 1) // 2, (rows - 1) * rows * (2 * rows - 1) // 6)
        if got.get(table) != want:
            bad.append(f"snapshot {table}: key digest {got.get(table)} != source {want}")
    return bad


def waves(spark, state: gen.WaveState, dest: str) -> list[str]:
    """The Transfer table equals the generator's replayed state, key by
    key, including the column added mid-stream (NULL on rows no wave
    touched after the ALTER)."""
    from reader_spark.operators.transfer import TransferWriter

    rows = TransferWriter(spark, dest).read(gen.WAVE_TABLE).select(
        *gen.STATE_COLS).collect()
    got = {r[0]: tuple(r) for r in rows}
    bad = []
    if len(got) != len(rows):
        bad.append(f"waves: {len(rows) - len(got)} duplicate keys in the Transfer table")
    if got != state.live:
        missing = len(state.live.keys() - got.keys())
        extra = len(got.keys() - state.live.keys())
        wrong = sum(1 for k in got.keys() & state.live.keys() if got[k] != state.live[k])
        bad.append(f"waves: state differs from replay ({missing} missing, "
                   f"{extra} extra, {wrong} wrong keys)")
    return bad


SPLITS = ("train", "val", "test")


def curate(spark, corpus: gen.CorpusInputs, out: str) -> list[str]:
    """Survivors are exactly one document per planted family (its
    minimum id) plus every singleton, and each survivor sits in exactly
    one split, so no family straddles splits."""
    seen: dict[int, str] = {}
    bad = []
    for s in SPLITS:
        path = f"{out}/documents/{s}"
        if not os.path.isdir(path) or not any(
                n.startswith("shard=") for n in os.listdir(path)):
            continue
        for r in spark.read.parquet(path).select("doc_id").collect():
            if r[0] in seen:
                bad.append(f"curate: doc {r[0]} in both {seen[r[0]]} and {s}")
            seen[r[0]] = s
    want = corpus.survivors()
    if set(seen) != want:
        bad.append(f"curate: {len(set(seen) - want)} unexpected survivors, "
                   f"{len(want - set(seen))} missing of {len(want)}")
    return bad
