"""File-backed stream sources with explicit offsets (PySpark 4
Python Data Source API).

This is the Spark-native analogue of the reference's hand-rolled
streaming iterators — binlog tailer (C1, offsets = file/pos,
sources/mysql/streaming/offset.go:12-79) and DynamoDB shard consumer
(C9, shards-as-partitions with per-shard sequence offsets,
sources/dynamodb/stream/shard.go:46-148; see shard_source.py). Each
log FILE is a shard/partition: Spark schedules shards concurrently
and preserves per-shard record order (shard.go parent/child ordering
== per-partition ordered processing). `LineOffsetStreamReader` holds
the offset protocol both readers share.

Register with `spark.dataSource.register(LogTailDataSource)`, then
`spark.readStream.format("logtail").schema(...).option("path", dir)`.
Records are JSONL; the user-supplied schema names the fields to
project (all read as strings; cast downstream — converter layer).
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)


class FileSlice(InputPartition):
    def __init__(self, path: str, start: int, end: int):
        self.path = path
        self.start = start
        self.end = end


class LineOffsetStreamReader(DataSourceStreamReader):
    """The offset protocol of the file-backed stream sources (the
    reference's StreamingIterator: an iterator plus CommitOffset,
    lib/iterator/iterator.go:8-11). Subclasses choose which files in
    `path` count (`suffixes`), how a file name becomes its offset key
    (`key_suffix` is stripped), the fresh-start position and the
    advance policy (`latestOffset`).

    Offsets are {key: records_consumed} dicts checkpointed by the
    engine (replacing the reference's PersistedMap YAML); commit() is
    the write-then-commit hook (writers/writer.go:44-50). Two
    positions are tracked per key:

      * `_floor`, the engine-confirmed floor: the highest offsets the
        ENGINE has mentioned (initialOffset on a fresh start, every
        partitions(start, end) range, every commit(end)). Offsets
        returned by latestOffset() must never sit below it —
        otherwise a regressed end lands in the offset log and the
        NEXT batch's start regresses with it, re-delivering records
        that were committed before a driver restart (the reference's
        write-then-commit contract, writers/writer.go:44-50, forbids
        exactly that).
      * `_last_end`, the last end this reader handed out: the
        baseline the next trigger advances from.

    The engine's FIRST call of any session is a latestOffset
    (empirically verified: it precedes even initialOffset on fresh
    starts, and its value becomes batch 1's end; on a restart it is
    the first batch end), so the first call runs with
    `_floor_known=False` and must return the only values provably >=
    any checkpoint of an append-only log: the current line counts.
    The per-trigger cap is skipped for exactly that one trigger per
    session; monotone, never a duplicate.

    Opt-in persisted floor (the reference's offset-YAML pattern,
    sources/mysql/streaming/offset.go:12-79): with option 'statedir',
    commit() persists the floor to a `<format>-floor.json` sidecar
    and a restarted reader loads it, so the cap holds from the FIRST
    post-restart trigger instead of falling back to full counts for
    one. CONTRACT: the statedir pairs with the checkpoint and they
    are deleted together; a fresh start (initialOffset) with a
    leftover sidecar fails fast — trusting a stale-high floor against
    a fresh checkpoint would silently lose records that later appear
    under the already-logged offsets."""

    format_name = ""
    suffixes: tuple[str, ...] = ()
    key_suffix = ""

    def __init__(self, schema, options, start: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError(f"{self.format_name} source requires option 'path'")
        self.fields = schema.fieldNames()
        self.start = start
        self._last_end: dict = dict(start)
        self._floor: dict = {}
        self._floor_known = False
        self.statedir = options.get("statedir")
        if self.statedir:
            side = self._sidecar_read()
            if side is not None:
                self._floor = side
                self._floor_known = True

    @classmethod
    def lengths(cls, path: str) -> dict[str, int]:
        """{key: line count} over the log files under `path` — the
        current end of the log."""
        out = {}
        if os.path.isdir(path):
            for name in sorted(os.listdir(path)):
                fp = os.path.join(path, name)
                if name.endswith(cls.suffixes) and os.path.isfile(fp):
                    key = name[: len(name) - len(cls.key_suffix)]
                    with open(fp) as f:
                        out[key] = sum(1 for _ in f)
        return out

    def _have(self, key: str) -> int:
        return max(int(self._last_end.get(key, 0)), int(self._floor.get(key, 0)))

    def _sidecar_path(self) -> str:
        return os.path.join(self.statedir, f"{self.format_name}-floor.json")

    def _sidecar_read(self) -> dict | None:
        try:
            with open(self._sidecar_path()) as f:
                return {str(k): int(v) for k, v in json.load(f).items()}
        except (OSError, ValueError):
            return None

    def _sidecar_write(self) -> None:
        os.makedirs(self.statedir, exist_ok=True)
        tmp = self._sidecar_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self._floor, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._sidecar_path())

    # -- offset management (engine checkpoints these dicts) --

    def initialOffset(self) -> dict:
        # Only called when no checkpoint exists (fresh start): the
        # start position IS the engine's position — a known floor.
        if self.statedir and self._sidecar_read() is not None:
            raise ValueError(
                f"{self.format_name}: fresh start (no checkpoint) but the "
                f"statedir holds a persisted floor ({self._sidecar_path()}). "
                "The statedir pairs with the checkpoint — delete both "
                "together, or point 'statedir' elsewhere. Proceeding "
                "would risk silently skipping records."
            )
        self._floor = dict(self.start)
        self._floor_known = True
        return dict(self.start)

    def _observe_engine(self, *offsets: dict) -> None:
        for off in offsets:
            for key, n in off.items():
                n = int(n)
                if n > int(self._floor.get(key, 0)):
                    self._floor[key] = n
                if n > int(self._last_end.get(key, 0)):
                    self._last_end[key] = n
        self._floor_known = True

    def partitions(self, start: dict, end: dict) -> list[FileSlice]:
        # Both bounds are engine-provided (offset log / checkpoint):
        # raise the floor before planning, so a post-restart
        # latestOffset can never hand out offsets behind them.
        self._observe_engine(start, end)
        parts = []
        for key, end_n in end.items():
            start_n = int(start.get(key, 0))
            if int(end_n) > start_n:
                parts.append(
                    FileSlice(
                        os.path.join(self.path, key + self.key_suffix),
                        start_n,
                        int(end_n),
                    )
                )
        # Zero-progress micro-batches still need >=1 partition.
        return parts or [FileSlice("", 0, 0)]

    def read(self, partition: FileSlice) -> Iterator[tuple]:
        if not partition.path:
            return
        with open(partition.path) as f:
            for i, line in enumerate(f):
                if i < partition.start:
                    continue
                if i >= partition.end:
                    break
                rec = json.loads(line)
                yield tuple(
                    None if rec.get(k) is None else str(rec.get(k))
                    for k in self.fields
                )

    def commit(self, end: dict) -> None:
        # Write-then-commit: the engine calls this after the sink
        # batch succeeds; a live binlog or Streams client would ACK
        # its server-side position here. Committed offsets are the
        # strongest floor we can learn from the engine — persisted to
        # the sidecar when a statedir is configured.
        self._observe_engine(end)
        if self.statedir:
            try:
                self._sidecar_write()
            except OSError:
                pass  # floor persistence is an optimization, not a gate


class LogTailStreamReader(LineOffsetStreamReader):
    """Every `*.json`/`*.jsonl` file is one shard, keyed by its full
    file name."""

    format_name = "logtail"
    suffixes = (".json", ".jsonl")

    def __init__(self, schema, options):
        # Resume position (reference Position{File, Pos}: a snapshot
        # records the log position it was cut at, and the stream
        # starts THERE — the snapshot->CDC handoff contract). JSON
        # {file: records_already_consumed}; only consulted when no
        # checkpoint exists, exactly like the reference's offset YAML
        # vs a fresh boot.
        super().__init__(
            schema, options, json.loads(options.get("startoffsets", "{}"))
        )
        # B3 parity (reference: batch up to batchSize events per
        # iteration, iterator.go:149-233): cap how far one trigger
        # may advance, across files in sorted-name order. 0 = no cap.
        self.max_per_trigger = int(options.get("maxrecordspertrigger", 0) or 0)

    def latestOffset(self) -> dict:
        offsets = self.lengths(self.path)
        if not self.max_per_trigger or not self._floor_known:
            # No cap, or first trigger after a restart whose
            # checkpoint we can't see: full lengths are the only
            # offsets guaranteed not to regress. At-least-once is
            # preserved; the cap resumes next trigger.
            self._last_end = {
                k: max(int(v), int(self._last_end.get(k, 0)))
                for k, v in offsets.items()
            }
            return offsets
        budget = self.max_per_trigger
        capped: dict = {}
        for name in sorted(offsets):
            have = self._have(name)
            take = max(0, min(int(offsets[name]) - have, budget))
            capped[name] = have + take
            budget -= take
        self._last_end = dict(capped)
        return capped


class LogTailDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "logtail"

    def schema(self) -> str:
        # Default record shape; callers normally pass .schema(...).
        return "seq string, payload string"

    def streamReader(self, schema) -> LogTailStreamReader:
        return LogTailStreamReader(schema, self.options)
