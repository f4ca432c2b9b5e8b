"""Sharded stream source: shards-as-partitions with per-shard
sequence offsets, parent->child ordering, and per-batch paging
(PySpark 4 Python Data Source API).

Spark-native analogue of the reference's DynamoDB Streams consumer
(/root/reference/sources/dynamodb/stream/stream.go:48-105 — shard
discovery every poll; shard.go:46-148 — one goroutine per shard
honoring parent ordering, 1000-record GetRecords pages; offsets/
offsets.go:10-110 — per-shard sequence-number offsets with TTL):

  * each shard is an InputPartition -> Spark schedules shards
    concurrently while preserving per-shard record order (the
    reference's per-goroutine ordering);
  * a CHILD shard yields no records until its parent is fully
    drained AND closed — the parent/child gate moves from goroutine
    bookkeeping into offset arithmetic;
  * offsets are {shard: records_consumed} dicts, checkpointed by the
    engine (replaces the TTL map — checkpoint retention is the TTL);
  * `maxRecordsPerBatch` caps per-shard progress per micro-batch
    (GetRecords page size);
  * shard discovery happens on every `latestOffset()` call (the
    reference's 5-minute re-scan ticker collapses into the trigger).

Layout on disk (stands in for the Streams API): a directory of
`<shard>.jsonl` files plus an optional `shards.json` manifest
`{"<shard>": {"parent": "<shard>", "closed": true}}`. A shard with
no manifest entry is an open root shard.

Register with `spark.dataSource.register(ShardStreamDataSource)` then
`spark.readStream.format("shardstream").schema(...).option("path", d)`.
"""

from __future__ import annotations

import json
import os

from pyspark.sql.datasource import DataSource

from reader_spark.streaming.log_source import FileSlice, LineOffsetStreamReader

MANIFEST = "shards.json"

ShardSlice = FileSlice


class ShardStreamReader(LineOffsetStreamReader):
    """Every `<shard>.jsonl` file is one shard, keyed by its stem;
    fresh starts begin every shard at its oldest record
    (TRIM_HORIZON)."""

    format_name = "shardstream"
    suffixes = (".jsonl",)
    key_suffix = ".jsonl"

    def __init__(self, schema, options):
        super().__init__(schema, options, {})
        self.max_per_batch = int(options.get("maxRecordsPerBatch", "1000"))

    def _manifest(self) -> dict:
        mp = os.path.join(self.path, MANIFEST)
        if os.path.isfile(mp):
            with open(mp) as f:
                return json.load(f)
        return {}

    def latestOffset(self) -> dict:
        lines = self.lengths(self.path)
        manifest = self._manifest()
        end = {}
        for shard, n in lines.items():
            have = self._have(shard)
            parent = manifest.get(shard, {}).get("parent")
            p_closed = parent is None or manifest.get(parent, {}).get(
                "closed", False
            )
            if not self._floor_known:
                # First call of a session: full counts (see the base
                # class) — EXCEPT children of open parents, held at 0:
                # shard closure is permanent and the gate never
                # releases a child before its parent closes, so such a
                # child's checkpoint is provably 0. The per-batch cap
                # (and parent-tail/child interleaving within that one
                # batch for closed parents) resumes on the next trigger.
                end[shard] = max(int(n), have) if p_closed else 0
            elif parent is not None and not (
                p_closed and self._have(parent) >= lines.get(parent, 0)
            ):
                # Parent still live: hold the child at its current
                # position (shard.go:46-67 ordering contract).
                end[shard] = have
            else:
                end[shard] = min(n, have + self.max_per_batch)
        self._last_end = dict(end)
        return end


class ShardStreamDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "shardstream"

    def schema(self) -> str:
        # DynamoDB stream record shape (lib/dynamo/parse_message.go);
        # callers normally pass .schema(...).
        return "event_name string, keys string, new_image string, old_image string, seq string"

    def streamReader(self, schema) -> ShardStreamReader:
        return ShardStreamReader(schema, self.options)
