"""Transfer sink: the reference's direct-warehouse writer semantics
(writers/transfer/writer.go:62-366) on Spark primitives.

Reference behavior:
  * accumulate events per table, flush via Append or Merge
    (writer.go:254-303);
  * optional truncate/drop before a backfill (writer.go:310-327);
  * final dedupe on PKs keeping the latest (writer.go:329-366).

Spark-first: Append = mode("append") write; Merge would be MERGE INTO
on a Delta/Iceberg catalog, but none is wired here, so the upsert verbs
emulate it with anti-join + union (the canonical pre-Delta pattern).
Each verb is one merge function (`apply_changes` for current state,
`TransferWriter._scd2_merge` for history) run by one of two bodies:
the whole-table body publishes the new snapshot via an atomic
pointer-file flip (operators/atomic_dir.py — readers never see a
missing or partial dataset, crashes leave the previous snapshot live),
and the bucketed body swaps only the `bucket=` dirs holding changed
keys. A Delta MERGE would replace those publish steps; the dedupe
window and the change-event application logic would stay as they are.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from reader_spark.operators import atomic_dir
from reader_spark.plans.snapshot import transfer_dedupe


def _write_schema_manifest(root: str, df) -> None:
    """Persist the table schema as a manifest next to the data
    (underscore-prefixed: invisible to Spark's file listing).
    Written via tmp + os.replace so readers never see a torn file."""
    tmp = os.path.join(root, "._schema.tmp-" + uuid.uuid4().hex[:8])
    with open(tmp, "w") as f:
        f.write(df.schema.json())
    os.replace(tmp, os.path.join(root, "_schema.json"))


def _read_schema_manifest(root: str):
    """The pinned table schema, or None for legacy layouts."""
    p = os.path.join(root, "_schema.json")
    if not os.path.isfile(p):
        return None
    with open(p) as f:
        return T.StructType.fromJson(json.load(f))


def _write_layout_manifest(root: str, n_buckets: int) -> None:
    """Pin the bucketed layout's n_buckets next to the data. The
    bucket id IS a function of n_buckets (pmod(xxhash64(pk), n)) —
    a later merge run with a different n recomputes different ids,
    reads/writes the WRONG bucket dirs, and leaves the stale row in
    its original bucket: duplicate primary keys from a parameter
    default. The layout is therefore a property of the TABLE,
    recorded once at seed time, and every bucketed verb resolves it
    from here instead of trusting its caller."""
    tmp = os.path.join(root, "._layout.tmp-" + uuid.uuid4().hex[:8])
    with open(tmp, "w") as f:
        json.dump({"n_buckets": int(n_buckets)}, f)
    os.replace(tmp, os.path.join(root, "_layout.json"))


def _read_layout_manifest(root: str) -> int | None:
    """The pinned n_buckets, or None for legacy/unbucketed layouts."""
    p = os.path.join(root, "_layout.json")
    if not os.path.isfile(p):
        return None
    with open(p) as f:
        return int(json.load(f)["n_buckets"])


def _bucket_ids(root: str) -> list[int]:
    """The ids of the `bucket=<id>` dirs laid out under `root`."""
    return sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(root)
        if d.startswith("bucket=")
    )


def _require_pk(changes: DataFrame, pk_cols: list[str]) -> None:
    """The PRIMARY KEY is exempt from schema evolution: a change set
    without it is unmergeable and must fail loudly, not null-fill
    into one giant group (or fail deep inside the bucket hash)."""
    missing_pk = [c for c in pk_cols if c not in changes.columns]
    if missing_pk:
        raise ValueError(
            f"change set is missing primary-key column(s) {missing_pk}"
        )


def align_schemas(
    base: DataFrame,
    changes: DataFrame,
    op_col: str = "op",
    seq_col: str = "seq",
) -> tuple[DataFrame, DataFrame]:
    """Destination schema evolution for MERGE (the reference's
    transfer contract: upstream DDL must not break the warehouse
    load — /root/reference/lib/debezium/schema.go carries the wire
    schema precisely so destinations can evolve):

    * a NEW change column is added to the destination — existing
      rows read NULL for it (previously it was silently dropped);
    * a column MISSING from the change set (dropped upstream) stays
      in the destination — new rows carry NULL (previously the MERGE
      crashed on the select).

    Types come from whichever side has the column; no cast of
    existing data is attempted (a type CHANGE upstream is a rename in
    disguise — route it through the DDL history, not the merge)."""
    base_cols = set(base.columns)
    for f in changes.schema.fields:
        if f.name not in base_cols and f.name not in (op_col, seq_col):
            base = base.withColumn(f.name, F.lit(None).cast(f.dataType))
    chg_cols = set(changes.columns)
    for f in base.schema.fields:
        if f.name not in chg_cols:
            changes = changes.withColumn(f.name, F.lit(None).cast(f.dataType))
    return base, changes


def apply_changes(
    base: DataFrame | None,
    changes: DataFrame,
    pk_cols: list[str],
    seq_col: str,
    op_col: str = "op",
) -> DataFrame:
    """MERGE semantics as a plan: collapse the change set to one
    terminal row per PK (writer.go:329-366, last-write-wins by seq),
    delete rows whose terminal event is 'd', upsert the rest. One
    shuffle on the PK for the anti-join; the change set is typically
    << base, so Catalyst broadcasts it. `base=None` seeds a new table
    from the change set alone. Schemas evolve (`align_schemas`)
    before merging, so upstream column adds/drops land as
    NULL-padded columns instead of dropped data or a crashed load.
    The writer verbs reject a change set without its PK before
    merging (`_require_pk`)."""
    if base is None:
        term = transfer_dedupe(changes, pk_cols, seq_col)
        return term.filter(F.col(op_col) != "d").drop(op_col, seq_col)
    base, changes = align_schemas(base, changes, op_col, seq_col)
    term = transfer_dedupe(changes, pk_cols, seq_col)
    survivors = base.join(term.select(*pk_cols), pk_cols, "left_anti")
    upserts = term.filter(F.col(op_col) != "d").select(*base.columns)
    return survivors.unionByName(upserts)


class TransferWriter:
    """Parquet-backed transfer destination with Append / Upsert /
    backfill-truncate, mirroring writers/transfer/writer.go flow.

    Every MERGE verb is a merge function run by one of two bodies:
    `_merge_whole` (read the table, merge, `_publish` a new snapshot)
    or `_merge_bucketed` (merge and swap only the touched `bucket=`
    dirs). The merge functions share the signature
    `(base | None, changes, pk_cols, seq_col, op_col) -> DataFrame`;
    `base=None` seeds a new table."""

    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base_dir = base_dir

    def _path(self, table: str) -> str:
        return os.path.join(self.base_dir, table)

    def _data_root(self, table: str) -> str:
        """Where the table's live files are: the pointer-published
        version dir for tables that have been through a full-rewrite
        verb (upsert/scd2/compact), else the bare table dir."""
        return atomic_dir.resolve(self._path(table))

    def exists(self, table: str) -> bool:
        return os.path.isdir(self._path(table))

    def read(self, table: str) -> DataFrame:
        """Read the live table state."""
        # A bucketed upsert that evolved the schema only rewrote the
        # TOUCHED buckets, so files legitimately disagree — the read
        # schema from one sampled footer could silently drop a fresh
        # column. The upsert verbs therefore carry the merged schema
        # as a manifest (`_schema.json`) next to the data: reads pin
        # it (missing columns in old files null-fill by name, no
        # footer pass at all). Legacy layouts without a manifest pay
        # the footer merge instead.
        root = self._data_root(table)
        schema = _read_schema_manifest(root)
        if schema is not None:
            return self.spark.read.schema(schema).parquet(root)
        return self.spark.read.option("mergeSchema", "true").parquet(root)

    def append(self, table: str, df: DataFrame) -> None:
        df.write.mode("append").parquet(self._data_root(table))

    def truncate_for_backfill(self, table: str) -> None:
        """Pre-backfill truncate/drop (writer.go:310-327)."""
        shutil.rmtree(self._path(table), ignore_errors=True)

    def truncate(self, table: str) -> None:
        """The transfer TRUNCATE verb (writer.go:310-327): clear the
        table's rows while KEEPING its schema, behind a pointer flip.
        This is what a replicated `TRUNCATE TABLE` maps onto — unlike
        `truncate_for_backfill` the table stays readable (zero rows,
        same columns) before, during and after the clear, a crash at
        any point leaves either the old rows or the empty state live
        (never a half-deleted layout), and a replayed micro-batch
        re-truncating is a no-op. Subsequent upserts seed the bucketed
        layout afresh under the published version dir."""
        if not self.exists(table):
            return
        empty = self.read(table).limit(0)
        path = self._path(table)
        pinned_buckets = _read_layout_manifest(self._data_root(table))

        # The version dir holds ONLY the schema manifest — no data
        # files. Reads pin the manifest schema, so an empty dir scans
        # to zero rows without inference; and a later bucketed upsert
        # swaps `bucket=` dirs in without colliding with a root-level
        # part file (mixed-level layouts break partition discovery).
        # The bucket-layout pin survives the truncate: the table's
        # n_buckets is identity, not data.
        def write_empty(vdir: str) -> None:
            os.makedirs(vdir, exist_ok=True)
            _write_schema_manifest(vdir, empty)
            if pinned_buckets is not None:
                _write_layout_manifest(vdir, pinned_buckets)

        atomic_dir.publish(path, write_empty)

    def scd2_close_all(self, table: str, at_seq: int) -> None:
        """The TRUNCATE verb for a HISTORY-PRESERVING (SCD2)
        destination: a replicated `TRUNCATE TABLE` means every
        source row ceased to exist at that log position — so every
        open interval closes at `at_seq`, and nothing is deleted
        (wiping an SCD2 table on truncate would destroy exactly the
        history the layout exists to keep). One map-only rewrite
        behind a pointer flip. Only intervals opened AT OR BEFORE
        `at_seq` close: a crash replay that re-applies the truncate
        AFTER the batch's post-truncate DML already merged must not
        re-close the freshly opened chains at the earlier truncate
        position (that would mint inverted rows, eff_to < eff_from,
        plus a duplicate history row when the DML re-merges) — so
        intervals born after the truncate stay open and the replay
        is a real no-op. Post-truncate inserts open fresh interval
        chains through the normal merge. Bucketed layouts keep their
        `bucket=` dirs so later `upsert_scd2_bucketed` calls still
        swap per-bucket."""
        if not self.exists(table):
            return
        base = self.read(table)
        closed = base.withColumn(
            "eff_to",
            F.coalesce(
                F.col("eff_to"),
                F.when(
                    F.col("eff_from") <= F.lit(at_seq),
                    F.lit(at_seq).cast(dict(base.dtypes)["eff_to"]),
                ),
            ),
        )
        if "bucket" in closed.columns:
            closed = closed.repartition("bucket")
        self._publish(table, closed)

    def create_empty(self, table: str, df: DataFrame) -> None:
        """K4: empty-table path — persist schema with zero rows
        (sources/mysql/snapshot.go:49-66)."""
        df.limit(0).write.mode("overwrite").parquet(self._path(table))

    def _publish(self, table: str, df: DataFrame) -> None:
        """The one whole-table publish: write `df` into a fresh
        version dir (as `bucket=` partitions when it carries the
        bucket column), with the schema manifest and the table's
        carried-forward layout pin, and flip the pointer to it
        (operators/atomic_dir.py): readers always resolve to a
        complete snapshot, and a crash mid-publish leaves the
        previous snapshot live (a Delta MERGE makes this
        transactional for real)."""
        pinned_buckets = _read_layout_manifest(self._data_root(table))

        def write_fn(vdir: str) -> None:
            out = df.write.mode("overwrite")
            if "bucket" in df.columns:
                out = out.partitionBy("bucket")
            out.parquet(vdir)
            # the rewrite must carry the table's identity forward:
            # the pinned schema (bucketed reads depend on it) and the
            # bucket-layout pin both live in the version dir
            _write_schema_manifest(vdir, df)
            if pinned_buckets is not None:
                _write_layout_manifest(vdir, pinned_buckets)

        atomic_dir.publish(self._path(table), write_fn)

    def _merge_whole(
        self, table: str, changes: DataFrame, pk_cols: list[str],
        seq_col: str, op_col: str, merge,
    ) -> None:
        """The whole-table MERGE body: `merge` the change set into
        the live table (or seed it) and publish the result."""
        _require_pk(changes, pk_cols)
        base = self.read(table) if self.exists(table) else None
        self._publish(table, merge(base, changes, pk_cols, seq_col, op_col))

    def _merge_bucketed(
        self, table: str, changes: DataFrame, pk_cols: list[str],
        seq_col: str, op_col: str, n_buckets: int, merge,
    ) -> list[int]:
        """The bucketed MERGE body: the sink is laid out as
        `bucket=pmod(xxhash64(pk), n)` directory partitions, and a
        merge reads, merges, and atomically swaps ONLY the buckets
        that contain changed keys — the rewrite cost is
        O(changed_buckets / n_buckets) of the table, and partition
        pruning keeps the read side just as narrow (the bucket filter
        prunes directories, not files). The bucket key hashes the PK
        alone, so everything `merge` needs about a key (its row, or
        its whole interval chain) lives in that key's one bucket.
        Returns the bucket ids written.

        `n_buckets` only matters at SEED time; it is pinned in the
        table's `_layout.json` and every later merge resolves the
        pinned value (`_resolve_n_buckets`) — a caller passing a
        different default can no longer scatter keys across the
        wrong bucket dirs."""
        _require_pk(changes, pk_cols)
        # per-bucket swaps happen under the LIVE data root — the
        # pointer-published version dir if a full-rewrite verb
        # (compact/upsert) converted this table's layout
        path = self._data_root(table)
        exists = self.exists(table)
        if exists:
            live = self.read(table)
            # refuse BEFORE anything is pinned: a flat table must not
            # gain a `_layout.json` from a merge that cannot run on it
            if "bucket" not in live.columns:
                raise ValueError(
                    f"table {table!r} has a flat layout (no bucket "
                    "column); a bucketed merge cannot run on it — use "
                    "the flat verb (upsert / upsert_scd2) or reseed it"
                )
            n_buckets = self._resolve_n_buckets(path, n_buckets, pk_cols)
        bucket = F.pmod(
            F.xxhash64(*[F.col(c) for c in pk_cols]), F.lit(n_buckets)
        )
        changes = changes.withColumn("bucket", bucket.cast("int"))
        if not exists:
            seeded = merge(None, changes, pk_cols, seq_col, op_col)
            # cluster rows by bucket BEFORE partitionBy: otherwise every
            # task writes a file into every bucket directory (tasks x
            # buckets files — measured 11x slower seed write)
            seeded.repartition(n_buckets, "bucket").write.mode(
                "overwrite"
            ).partitionBy("bucket").parquet(path)
            _write_schema_manifest(path, seeded)
            _write_layout_manifest(path, n_buckets)
            # read the written layout, never recompute the input: a
            # distinct() over `seeded` would re-run the whole upstream
            # pipeline a second time (measured 3x seed cost on a
            # generated 2 GB input)
            return _bucket_ids(path)
        touched = sorted(
            r["bucket"] for r in changes.select("bucket").distinct().collect()
        )
        base = live.filter(F.col("bucket").isin(touched))
        merged = merge(base, changes, pk_cols, seq_col, op_col)
        staging = path + ".staging-" + uuid.uuid4().hex[:8]
        merged.repartition(max(1, len(touched)), "bucket").write.mode(
            "overwrite"
        ).partitionBy("bucket").parquet(staging)
        # Pin the (possibly widened) manifest BEFORE the swap: a crash
        # between the two must err toward advertising a column old
        # files lack (pinned reads null-fill by name — harmless), never
        # toward a stale manifest that HIDES a just-evolved column (the
        # next upsert would then read base without it and overwrite
        # real values with NULLs — silent data loss from one crash).
        _write_schema_manifest(path, merged)
        self._swap_buckets(path, staging, touched)
        return touched

    def upsert(
        self,
        table: str,
        changes: DataFrame,
        pk_cols: list[str],
        seq_col: str,
        op_col: str = "op",
    ) -> None:
        """Current-state MERGE (`apply_changes`) rewriting the whole
        table behind the pointer-flip publish. Fine for modest
        tables; at the 100 TB tier, where a micro-batch touches a
        handful of keys, use `upsert_bucketed`."""
        self._merge_whole(
            table, changes, pk_cols, seq_col, op_col, apply_changes
        )

    def upsert_bucketed(
        self,
        table: str,
        changes: DataFrame,
        pk_cols: list[str],
        seq_col: str,
        op_col: str = "op",
        n_buckets: int = 64,
    ) -> list[int]:
        """Current-state MERGE (`apply_changes`) for big tables:
        rewrites only the buckets containing changed keys
        (`_merge_bucketed`). Returns the list of bucket ids
        rewritten."""
        return self._merge_bucketed(
            table, changes, pk_cols, seq_col, op_col, n_buckets,
            apply_changes,
        )

    def _resolve_n_buckets(
        self, path: str, requested: int, pk_cols: list[str] | None = None
    ) -> int:
        """The table's REAL bucket count: the pinned `_layout.json`
        wins over the caller's parameter (silently — the parameter is
        a seed-time knob, not a per-call one). Legacy layouts without
        a manifest are PROBED before the requested value is adopted:
        a max-id check alone is one-sided (a table seeded with 8
        buckets merged with requested=16 passes it, then new versions
        of existing keys hash into DIFFERENT bucket dirs and the
        stale rows become duplicate primary keys — the exact
        corruption the pin stops). So sample stored rows from EVERY
        non-empty bucket dir and verify pmod(xxhash64(pk), requested)
        reproduces each dir's id; only a layout that survives both
        checks is adopted AND pinned so the ambiguity never recurs.
        All dirs are probed (r12, was first-non-empty-only): under a
        wrong count a near-empty dir passes its 100-row sample with
        non-trivial probability — e.g. a 1-row bucket survives an
        8-seeded/16-requested mismatch ~50% of the time — and a
        single lucky dir must not pin the wrong count permanently;
        the miss probability now multiplies across every stored row
        sampled in every dir. Empty legacy dirs adopt unprobed —
        with zero stored rows there is nothing to strand."""
        pinned = _read_layout_manifest(path)
        if pinned is not None:
            return pinned
        existing = _bucket_ids(path)
        if existing and max(existing) >= requested:
            raise ValueError(
                f"table at {path} has bucket ids up to {max(existing)} "
                f"but n_buckets={requested} was requested; the layouts "
                "are incompatible (seed-time n_buckets is pinned in "
                "_layout.json for tables built by this version)"
            )
        if existing and pk_cols:
            # unprobeable (every bucket dir empty) == zero stored
            # rows == no key can be stranded: adopting is then safe
            for b in existing:
                bdir = os.path.join(path, f"bucket={b}")
                if not any(
                    f.startswith("part-") and f.endswith(".parquet")
                    for f in os.listdir(bdir)
                ):
                    continue
                sample = (
                    self.spark.read.parquet(bdir)
                    .select(
                        F.pmod(
                            F.xxhash64(*[F.col(c) for c in pk_cols]),
                            F.lit(requested),
                        ).alias("__b")
                    )
                    .limit(100)
                    .collect()
                )
                if sample and any(r["__b"] != b for r in sample):
                    raise ValueError(
                        f"table at {path} has no _layout.json and "
                        f"its stored rows do NOT hash to their "
                        f"bucket dirs under n_buckets={requested}; "
                        "the table was seeded with a different "
                        "bucket count — pass the seed-time value "
                        "(merging under the wrong count strands "
                        "stale versions of existing keys)"
                    )
        _write_layout_manifest(path, requested)
        return requested

    @staticmethod
    def _swap_buckets(path: str, staging: str, touched: list[int]) -> None:
        """Swap the touched bucket directories from `staging` into the
        live layout (per-bucket dir rename — the partition-overwrite
        analogue; untouched bucket dirs are never listed or moved).

        Displaced dirs are parked under DOT-PREFIXED names: Spark's
        file listing skips hidden entries, so a crash between the
        rename and the cleanup can never resurface the displaced
        bucket as a phantom partition (a `bucket=3.old-x` sibling
        would be discovered as a partition VALUE — duplicate rows and
        a string-typed bucket column). Stale parked dirs from a
        crashed earlier swap are GC'd here."""
        for entry in os.listdir(path):
            if entry.startswith(".old-"):
                shutil.rmtree(os.path.join(path, entry), ignore_errors=True)
        for b in touched:
            src = os.path.join(staging, f"bucket={b}")
            dst = os.path.join(path, f"bucket={b}")
            old = os.path.join(
                path, f".old-{uuid.uuid4().hex[:8]}-bucket={b}"
            )
            if os.path.isdir(dst):
                os.rename(dst, old)
            if os.path.isdir(src):
                os.rename(src, dst)
            else:
                os.makedirs(dst, exist_ok=True)  # bucket emptied by deletes
            shutil.rmtree(old, ignore_errors=True)
        shutil.rmtree(staging, ignore_errors=True)

    @staticmethod
    def _scd2_merge(
        base: DataFrame | None,
        changes: DataFrame,
        pk_cols: list[str],
        seq_col: str,
        op_col: str,
    ) -> DataFrame:
        """The SCD2 interval-chaining MERGE, independent of layout:

        - each change row opens an interval at its own seq and is
          closed by the key's NEXT change in the same batch (a lead
          window over the delta — deletes close their predecessor
          and open nothing);
        - a key's EXISTING open interval closes at the key's first
          delta seq;
        - untouched keys' rows are carried through byte-identical.

        `base` is the stored history visible to this merge (the whole
        table, or just the touched buckets — a key's entire history
        lives in one bucket, so the chaining is complete either
        way)."""
        attr_cols = [
            c
            for c in changes.columns
            if c not in (*pk_cols, seq_col, op_col)
        ]
        w = Window.partitionBy(*pk_cols).orderBy(F.col(seq_col))
        delta = changes.withColumn(
            "__next", F.lead(seq_col).over(w)
        )
        new_rows = delta.filter(F.col(op_col) != "d").select(
            *pk_cols,
            *attr_cols,
            F.col(seq_col).alias("eff_from"),
            F.col("__next").alias("eff_to"),
        )
        if base is None:
            return new_rows
        first_seq = changes.groupBy(*pk_cols).agg(
            F.min(seq_col).alias("__close")
        )
        # Schema evolution: an attr the DDL added mid-stream is NULL
        # on stored history, a dropped attr is NULL on new rows
        base, new_rows = align_schemas(base, new_rows, op_col, seq_col)
        all_cols = base.columns
        closed = base.filter(F.col("eff_to").isNotNull())
        opened = base.filter(F.col("eff_to").isNull())
        now_closed = (
            opened.drop("eff_to")
            .join(first_seq, pk_cols)
            .withColumnRenamed("__close", "eff_to")
            .select(*all_cols)
        )
        still_open = opened.join(first_seq, pk_cols, "left_anti")
        return (
            closed.select(*all_cols)
            .unionByName(now_closed)
            .unionByName(still_open.select(*all_cols))
            .unionByName(new_rows.select(*all_cols))
        )

    def upsert_scd2(
        self,
        table: str,
        changes: DataFrame,
        pk_cols: list[str],
        seq_col: str,
        op_col: str = "op",
    ) -> None:
        """History-preserving MERGE (type-2 SCD): instead of
        replacing a changed key's row, the sink keeps every version
        as a validity interval [eff_from, eff_to), with the live
        version open (eff_to NULL). Interval semantics in
        `_scd2_merge`.

        The warehouse analogue of `queries.scd2_user_state`, on the
        same whole-table publish as `upsert`. At-least-once streams
        must dedupe replayed positions upstream (the GTID gate) — a
        replayed batch would re-close already-closed intervals.
        Scale: the merge reads and rewrites the whole table — fine
        below ~1 GB; at the 100 TB tier use `upsert_scd2_bucketed`,
        which rewrites only buckets containing changed keys."""
        self._merge_whole(
            table, changes, pk_cols, seq_col, op_col, self._scd2_merge
        )

    def upsert_scd2_bucketed(
        self,
        table: str,
        changes: DataFrame,
        pk_cols: list[str],
        seq_col: str,
        op_col: str = "op",
        n_buckets: int = 64,
    ) -> list[int]:
        """SCD2 MERGE for big histories: `_scd2_merge` run by the
        bucketed body, so a micro-batch reads, chains, and swaps ONLY
        the buckets containing changed keys (a key's ENTIRE interval
        chain lives in its one bucket, so chaining within the touched
        subset is complete — the same single-home argument as the
        bm25 term buckets). Returns the bucket ids rewritten."""
        return self._merge_bucketed(
            table, changes, pk_cols, seq_col, op_col, n_buckets,
            self._scd2_merge,
        )

    def compact(self, table: str, target_bytes: int = 128 << 20) -> int:
        """Small-files compaction: every CDC upsert / append round
        lands another wave of files, and a 100 TB table read through
        thousands of tiny files is scheduler- and NameNode-bound long
        before it is IO-bound. Rewrite the table into
        ceil(total_bytes / target_bytes) files (round-robin
        repartition — parquet re-encodes, so output sizes track row
        counts; clustered by bucket for bucketed tables, whose
        `bucket=` dirs the publish keeps) behind the whole-table
        publish. Returns the new file count."""
        root = self._data_root(table)
        total = sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _dn, fns in os.walk(root)
            for f in fns
            if f.endswith(".parquet")
        )
        n_out = max(1, math.ceil(total / target_bytes))
        df = self.spark.read.parquet(root)
        keys = ["bucket"] if "bucket" in df.columns else []
        self._publish(table, df.repartition(n_out, *keys))
        return n_out


def compact_partition_dirs(
    spark: SparkSession,
    root: str,
    max_files: int = 4,
    target_bytes: int = 128 << 20,
) -> dict[str, int]:
    """Small-files compaction for a `key=value`-partitioned dataset,
    one partition DIRECTORY at a time — the maintenance verb for the
    incrementally-updated indexes (bm25 term buckets, IVF cells),
    whose per-touched-partition appends accrete a file per update
    round.

    Per partition dir with more than `max_files` parquet files:
    rewrite to ceil(bytes / target_bytes) files behind a staging +
    atomic-rename swap (the same crash-safe pattern as
    TransferWriter.compact). Staging/old dirs are dot-prefixed so a
    crashed run never pollutes partition discovery. Rows are
    untouched — a search before and after must return identical
    results (asserted in tests). Returns {partition_dir: new_count}
    for the rewritten dirs only.

    Scale: each rewrite reads + writes one partition's bytes; the
    scheduler cost this removes grows with file count, which is why
    the trigger is max_files, not size."""
    out: dict[str, int] = {}
    if not os.path.isdir(root):
        return out
    for d in sorted(os.listdir(root)):
        full = os.path.join(root, d)
        if not (os.path.isdir(full) and "=" in d and not d.startswith(".")):
            continue
        files = [
            os.path.join(full, f)
            for f in os.listdir(full)
            if f.endswith(".parquet")
        ]
        if len(files) <= max_files:
            continue
        total = sum(os.path.getsize(f) for f in files)
        n_out = max(1, math.ceil(total / target_bytes))
        if n_out >= len(files):
            continue
        df = spark.read.parquet(full).repartition(n_out)
        staging = os.path.join(root, f".staging-{uuid.uuid4().hex[:8]}")
        df.write.mode("overwrite").parquet(staging)
        old = os.path.join(root, f".old-{uuid.uuid4().hex[:8]}")
        os.rename(full, old)
        os.rename(staging, full)
        shutil.rmtree(old, ignore_errors=True)
        out[d] = n_out
    return out


def schema_drift(source_schema, sink_schema) -> list[dict]:
    """Schema-level census to pair with the row-level `reconcile`
    audit: per column, one of ok / added (sink-only) / missing
    (source-only) / retyped. Driver-side metadata — StructTypes are
    plan state, no job runs. The C5 history replay decides WHEN a
    version changed; this reports WHAT currently differs end-to-end."""
    src = {f.name: f.dataType.simpleString() for f in source_schema.fields}
    snk = {f.name: f.dataType.simpleString() for f in sink_schema.fields}
    out = []
    for name in sorted(src.keys() | snk.keys()):
        if name not in snk:
            status = "missing"
        elif name not in src:
            status = "added"
        elif src[name] != snk[name]:
            status = "retyped"
        else:
            status = "ok"
        out.append(
            {
                "column": name,
                "status": status,
                "source_type": src.get(name),
                "sink_type": snk.get(name),
            }
        )
    return out


def reconcile(
    source: DataFrame,
    sink: DataFrame,
    pk_cols: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """CDC completeness check: per-PK full outer join of source vs
    sink, classifying each key as ok / missing (in source only) /
    extra (in sink only) / mismatch (both present, compared columns
    differ). Returns one summary row per status.

    The reference trusts write-then-commit ordering for correctness
    (/root/reference/writers/writer.go:44-50) and has no audit tool;
    at warehouse scale you verify the pipe instead of trusting it.
    Comparison hashes the compared columns to one 128-bit value per
    side BEFORE the join, so the shuffle carries (pk, hash) only —
    never the full row width."""
    return (
        reconcile_keys(source, sink, pk_cols, compare_cols)
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("n_keys"))
    )


def reconcile_keys(
    source: DataFrame,
    sink: DataFrame,
    pk_cols: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Per-key reconcile classification (the frame `reconcile`
    summarizes): one row per PK with status ok / missing / extra /
    mismatch. Hashing happens BEFORE the join so the shuffle carries
    (pk, hash) only — never the full row width."""
    compare_cols = compare_cols or [
        c for c in source.columns if c not in pk_cols
    ]

    def hashed(df: DataFrame, tag: str) -> DataFrame:
        # concat_ws SKIPS nulls, which would make ("a", NULL) and
        # (NULL, "a") hash equal — coalesce each column to an
        # unambiguous sentinel first so null position is preserved.
        parts = [
            F.coalesce(F.col(c).cast("string"), F.lit("\x00<null>"))
            for c in compare_cols
        ]
        return df.select(
            *[F.col(c) for c in pk_cols],
            F.md5(F.concat_ws("\x1f", *parts)).alias(f"__h_{tag}"),
        )

    s = hashed(source, "src")
    t = hashed(sink, "snk")
    joined = s.join(t, pk_cols, "full_outer")
    status = (
        F.when(F.col("__h_src").isNull(), F.lit("extra"))
        .when(F.col("__h_snk").isNull(), F.lit("missing"))
        .when(F.col("__h_src") == F.col("__h_snk"), F.lit("ok"))
        .otherwise(F.lit("mismatch"))
    )
    return joined.select(*pk_cols, status.alias("status"))


def write_training_shards(
    docs: DataFrame,
    out_dir: str,
    n_shards: int = 16,
    epoch: int = 0,
    id_col: str = "doc_id",
) -> dict:
    """Materialize an epoch's training shards: the deterministic
    epoch_shuffle assignment, written as parquet partitioned by
    shard, rows ordered by their in-shard position — the layout a
    sequential data loader streams without any further shuffling.
    Files hold `id_col` first, then the other input columns, then
    `pos`. Returns the manifest {shard: rows} (driver-side, bounded
    by n_shards) for the job log; an empty input writes no shard
    and returns {}.

    Scale shape: ONE exchange. The draw and shard are computed on
    the input rows themselves (no assignment frame joined back), and
    `repartition(n_shards, shard)` both puts each shard's rows on one
    writer task and serves the per-shard rank window, which needs
    exactly that clustering. The ranked frame is persisted for the
    write: `sortWithinPartitions(shard, pos)` is a PER-PARTITION sort
    (never a global orderBy), partitionBy("shard") writes one
    directory per shard, and the manifest is a groupBy(shard) count
    over the same materialized frame — no read-back of the written
    files. n_shards is chosen so a shard is a few GB;
    `maxRecordsPerFile` caps file size within a shard.
    """
    counts = _write_shards(docs, out_dir, (), n_shards, epoch, id_col)
    return {shard: n for (shard,), n in counts.items()}


SPLITS = ("train", "val", "test")  # the values curation's splitters assign


def write_split_shards(
    docs: DataFrame,
    out_dir: str,
    n_shards: int = 16,
    epoch: int = 0,
    id_col: str = "doc_id",
) -> dict:
    """Every split's training shards in ONE pass over `docs`, which
    carries a `split` column holding one of SPLITS: split `s` lands
    in `<out_dir>/<s>` with exactly the files, rows and manifest that
    `write_training_shards(docs.filter(split == s).drop("split"),
    f"{out_dir}/{s}", ...)` would give, and a split with no rows is a
    directory with no shard. Returns {split: {shard: rows}}.

    One exchange on (split, shard), one rank window, one persisted
    frame, one write partitioned by (split, shard) into a hidden
    staging dir and one manifest — where three per-split writes ran
    each of those three times over a survivor frame that had to be
    cached between them. Each staged `split=<s>` dir then replaces
    `<out_dir>/<s>` by rename; a split value outside SPLITS fails
    the write before anything is replaced."""
    staging = f"{out_dir}/_split_staging"
    counts = _write_shards(docs, staging, ("split",), n_shards, epoch, id_col)
    unknown = {s for s, _ in counts} - set(SPLITS)
    if unknown:
        shutil.rmtree(staging)
        raise ValueError(f"split values {sorted(unknown)} not in {SPLITS}")
    markers = [f for f in os.listdir(staging) if not f.startswith("split=")]
    for s in SPLITS:
        dst = f"{out_dir}/{s}"
        shutil.rmtree(dst, ignore_errors=True)
        src = f"{staging}/split={s}"
        if os.path.isdir(src):
            os.rename(src, dst)
        else:
            os.makedirs(dst)
        for f in markers:
            shutil.copy(f"{staging}/{f}", dst)
    shutil.rmtree(staging)
    return {
        s: {shard: n for (s_, shard), n in counts.items() if s_ == s}
        for s in SPLITS
    }


def _write_shards(
    docs: DataFrame,
    out_dir: str,
    by: tuple[str, ...],
    n_shards: int,
    epoch: int,
    id_col: str,
) -> dict:
    """The shard write of `write_training_shards` and
    `write_split_shards`: draw and shard per row, one exchange into
    n_shards partitions on (*by, shard), the per-(*by, shard) rank
    window on that clustering, a persisted frame written partitioned
    by (*by, shard) in pos order, and the manifest
    {(*by values, shard): rows} from the same frame. A split write
    thus runs as many tasks as one split's write did: each task holds
    about one train shard plus the smaller val/test groups hashed to
    it (300 documents on 4 cores: 0.42 s, against 0.56 s with a
    partition per (split, shard))."""
    from reader_spark.operators.curation import _epoch_shard

    draw, shard = _epoch_shard(id_col, n_shards, epoch, draw="__draw")
    keys = [*by, "shard"]
    cols = [id_col] + [c for c in docs.columns if c != id_col]
    rows = (
        docs.select(*cols, draw)
        .withColumn("shard", shard)
        .repartition(n_shards, *keys)
        .withColumn(
            "pos",
            F.row_number().over(
                Window.partitionBy(*keys).orderBy("__draw", id_col)
            ),
        )
        .drop("__draw")
        .persist()
    )
    try:
        (
            rows.sortWithinPartitions(*keys, "pos")
            .write.mode("overwrite")
            .option("maxRecordsPerFile", 1_000_000)
            .partitionBy(*keys)
            .parquet(out_dir)
        )
        manifest = rows.groupBy(*keys).count().collect()
    finally:
        rows.unpersist()
    return {
        tuple(r[k] for k in by) + (int(r["shard"]),): int(r["count"])
        for r in manifest
    }
