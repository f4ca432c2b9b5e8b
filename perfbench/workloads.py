"""The three workloads. Each drives the reader's public entry points on
inputs generated from the seed, in a closed loop from one process:

  snapshot        job.run_job, snapshot mode, parquet -> envelopes
  cdc_waves       snapshot_then_stream, then run_pipeline_merge per wave
  curate_neardup  job.run_job, curate mode (minhash dedup, component split)

A workload has a set-up (inputs and warm-up, counted in `setup_s`), one
timed operation the loop repeats, output checks run after the timed
section, and a traced decomposition that times the calls into each
layer's public functions (see perfbench/README.md for the layer map).
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

from pyspark.sql import functions as F

import checks
import gen
from tracing import Tracer

# Input sizes. Most of a run's wall is the JVM start and the first job
# of each kind in it, whatever the input size; the inputs stay small so
# a full check of the benchmark fits its time budget (see README.md).
SNAPSHOT_ROWS = {"orders": 50_000, "customers": 20_000, "events": 20_000}
WAVES_ROWS = 20_000
WAVES_CHANGES = 40
WAVES_ROTATE = 12_000
TRACED_WAVES = 2
LAYER_REPS = 3
N_BUCKETS = 64
CORPUS_DOCS = 300
CORPUS_FAMILY_SHARE = 0.3
CURATE_SHARDS = 2
STREAM_TIMEOUT_S = 90


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    tracer: Tracer | None = None


@dataclass
class Op:
    records: int
    latency: float
    problems: list[str] = field(default_factory=list)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _file_stats(root: str) -> tuple[int, int]:
    """(data files, bytes) under root, skipping metadata like _metrics."""
    files = size = 0
    for d, dirs, names in os.walk(root):
        dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
        for n in names:
            if n.startswith("part-"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


@contextmanager
def layer(ctx: Ctx, name: str):
    """A span around a call into a layer; the Spark jobs it starts run
    under a job group of the same name (read back from the event log)."""
    sc = ctx.spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        with ctx.tracer.span(name) as s:
            yield s
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _wrap(ctx: Ctx, owner, attr: str, name: str, on_result=None):
    """Time calls of `owner.attr` in traced runs only."""
    if ctx.tracer is None:
        return nullcontext()
    return ctx.tracer.wrap(owner, attr, name, on_result)


def _progress(q) -> tuple[dict[str, float], float]:
    """A finished query's per-phase durations and batch count, summed
    over its progress reports, and its summed trigger time in seconds."""
    phases = ("addBatch", "latestOffset", "walCommit", "commitOffsets", "queryPlanning")
    out = {f"structured_streaming.{k}_ms": 0.0 for k in phases}
    out["structured_streaming.batches"] = 0
    trigger_ms = 0.0
    for p in q.recentProgress:
        dur = p.durationMs if hasattr(p, "durationMs") else p["durationMs"]
        out["structured_streaming.batches"] += 1
        trigger_ms += dur.get("triggerExecution", 0)
        for k in phases:
            out[f"structured_streaming.{k}_ms"] += dur.get(k, 0)
    return out, trigger_ms / 1e3


def _await(q) -> list[str]:
    """A stream that times out or stops with an exception is a failed
    operation."""
    if not q.awaitTermination(STREAM_TIMEOUT_S):
        q.stop()
        return [f"stream did not drain within {STREAM_TIMEOUT_S} s"]
    if q.exception() is not None:
        return [f"stream failed: {q.exception()}"]
    return []


class Workload:
    name = ""

    def generate(self, ctx: Ctx, root: str) -> None:
        raise NotImplementedError

    def warm_up(self, ctx: Ctx) -> None:
        raise NotImplementedError

    def op(self, ctx: Ctx, i: int) -> Op:
        raise NotImplementedError

    def check(self, ctx: Ctx, ops: list[Op]) -> None:
        """Runs after the timed section; appends to each op's problems."""
        raise NotImplementedError

    def traced(self, ctx: Ctx) -> tuple[dict[str, float], float]:
        """Per-layer metrics, and the wall of one traced operation."""
        raise NotImplementedError


# ------------------------------------------------------------------ snapshot

class Snapshot(Workload):
    name = "snapshot"

    def generate(self, ctx, root):
        self.inputs = gen.gen_snapshot(root, ctx.seed, SNAPSHOT_ROWS)

    def settings(self, dest: str):
        from reader_spark.config import DestinationCfg, Settings, SourceCfg, TableCfg

        return Settings(
            source=SourceCfg(kind="parquet", database="shop",
                             tables=[TableCfg(name=t) for t in self.inputs.tables],
                             options={"path": self.inputs.root}),
            destination=DestinationCfg(kind="parquet", path=dest),
        )

    def _dest(self, ctx, tag) -> str:
        return os.path.join(ctx.work, "out", f"snapshot-{tag}")

    def warm_up(self, ctx):
        self.op(ctx, "warm")

    def op(self, ctx, i):
        from reader_spark.job import run_job

        t0 = time.perf_counter()
        run_job(ctx.spark, self.settings(self._dest(ctx, i)))
        return Op(sum(self.inputs.tables.values()), time.perf_counter() - t0)

    def check(self, ctx, ops):
        for i, o in enumerate(ops):
            full = checks.snapshot if i == len(ops) - 1 else checks.snapshot_counts
            o.problems += full(ctx.spark, self.inputs, self._dest(ctx, i))

    def traced(self, ctx):
        from reader_spark import job
        from reader_spark.envelope import snapshot_envelope
        from reader_spark.plans.snapshot import project_columns
        from pyspark.sql import Observation

        tr, spark = ctx.tracer, ctx.spark
        dest = self._dest(ctx, "traced")
        settings = self.settings(dest)
        with layer(ctx, "job.run_job"):
            job.run_job(spark, settings)
        # the same per-table chain run_job builds, forced at each
        # prefix: scan, +project, +envelope, +sink write; LAYER_REPS
        # times per table, each into a fresh destination (publish appends)
        src = settings.source
        for t in src.tables:
            def chain(depth):
                df = job._read_table(spark, src, t)
                if depth >= 1:
                    df = project_columns(df, job._pk_cols(src, t, df))
                if depth >= 2:
                    df = snapshot_envelope(
                        df, pk_cols=job._pk_cols(src, t, df), db=src.database,
                        schema=t.schema, table=t.name,
                        topic_prefix=settings.destination.topic_prefix,
                        dialect="mysql", ts_col=F.lit(0).cast("long"))
                return df
            for rep in range(LAYER_REPS):
                with layer(ctx, "sources.scan"):
                    _noop(chain(0))
                with layer(ctx, "plans.snapshot.project"):
                    _noop(chain(1))
                with layer(ctx, "envelope.snapshot"):
                    _noop(chain(2))
                settings.destination.path = self._dest(ctx, f"layers-{rep}")
                with layer(ctx, "sinks.publish"):
                    obs = Observation()
                    job._publish(chain(2).observe(obs, F.count(F.lit(1)).alias("n")),
                                 settings, t.name)
                    obs.get
        out = spark.read.parquet(*[f"{dest}/{t}" for t in self.inputs.tables])
        bpr = out.agg(F.avg(F.length("key") + F.length("value"))).first()[0]
        files, size = _file_stats(dest)
        scan, project, envelope, publish = (
            _median_per_table(tr, n) for n in
            ("sources.scan", "plans.snapshot.project", "envelope.snapshot", "sinks.publish"))
        return {
            "sources.scan_s": scan,
            "plans.snapshot.project_s": project - scan,
            "envelope.snapshot_s": envelope - project,
            "envelope.bytes_per_row": float(bpr),
            "sinks.publish_s": publish - envelope,
            "sinks.files": files,
            "sinks.bytes": size,
            "job.overhead_s": tr.total("job.run_job") - publish,
        }, tr.total("job.run_job")


def _median_per_table(tr: Tracer, name: str) -> float:
    """Sum over tables of the median of a span's LAYER_REPS durations
    (the spans run table by table, LAYER_REPS in a row)."""
    d = tr.durations(name)
    return sum(statistics.median(d[i:i + LAYER_REPS]) for i in range(0, len(d), LAYER_REPS))


def _read_slices(log_dir: str, start: dict):
    """Drive LogTailStreamReader directly, single-threaded, over every
    file slice between `start` and the current end of the log. Returns
    (rows, schema, lines iterated): read() walks each file from line 0."""
    from pyspark.sql import types as T

    from reader_spark.plans.cdc_mysql import BINLOG_SCHEMA
    from reader_spark.streaming.log_source import LogTailStreamReader

    schema = T.StructType([T.StructField(f.split()[0], T.StringType())
                           for f in BINLOG_SCHEMA.split(", ")])
    reader = LogTailStreamReader(schema, {"path": log_dir})
    rows, lines = [], 0
    for part in reader.partitions(start, reader.latestOffset()):
        n = len(rows)
        rows.extend(reader.read(part))
        lines += part.start + len(rows) - n
    return rows, schema, lines




# ----------------------------------------------------------------- CDC waves

class CdcWaves(Workload):
    name = "cdc_waves"

    def generate(self, ctx, root):
        self.root = root
        self.state = gen.gen_waves(root, ctx.seed, WAVES_ROWS, WAVES_ROTATE)
        self.log_dir = os.path.join(root, "log")

    def warm_up(self, ctx):
        """Seed the Transfer table from the snapshot. A warm-up wave of
        the timed waves' size, opening with the ALTER TABLE ... ADD
        COLUMN, lands in the log while the snapshot is seeded, so the
        stream snapshot_then_stream starts at the snapshot's position
        drains it: the first merge in a JVM runs about twice as long as
        a steady one."""
        from reader_spark.operators.transfer import TransferWriter
        from reader_spark.plans.cdc_mysql import log_position, snapshot_then_stream
        from reader_spark.streaming.schema_history import SchemaAdapter

        self.dest = os.path.join(ctx.work, "out", "waves")
        self.ck = os.path.join(ctx.work, "ck", "waves")
        self.adapter = SchemaAdapter()
        self.adapter.apply_ddl(gen.wave_ddl(), 0)
        snap = ctx.spark.read.parquet(
            os.path.join(self.root, "snap", f"{gen.WAVE_TABLE}.parquet"))
        cut = log_position(self.log_dir)
        self.state.log.write(self.state.next_wave(WAVES_CHANGES, alter=True))
        self.ddl_applied = []
        with _wrap(ctx, TransferWriter, "upsert_bucketed", "operators.transfer.seed"), \
                _wrap(ctx, SchemaAdapter, "apply_ddl", "streaming.schema_history.ddl",
                      on_result=self.ddl_applied.append):
            q = snapshot_then_stream(
                ctx.spark, {gen.WAVE_TABLE: snap}, self.log_dir, self.dest,
                self.ck, gen.DB, self.adapter, n_buckets=N_BUCKETS,
                snapshot_position=cut)
            problems = _await(q)
        if problems:
            raise RuntimeError("; ".join(problems))

    def _merge(self, ctx):
        from reader_spark.plans.cdc_mysql import run_pipeline_merge

        q = run_pipeline_merge(ctx.spark, self.log_dir, self.dest, self.ck,
                               gen.DB, [gen.WAVE_TABLE], self.adapter,
                               n_buckets=N_BUCKETS)
        return q, _await(q)

    def _wave(self, ctx, n_changes=WAVES_CHANGES, alter=False):
        recs = self.state.next_wave(n_changes, alter=alter)
        self.state.log.write(recs)
        t_last = time.perf_counter()
        _, problems = self._merge(ctx)
        return Op(len(recs), time.perf_counter() - t_last, problems)

    def op(self, ctx, i):
        return self._wave(ctx)

    def check(self, ctx, ops):
        problems = checks.waves(ctx.spark, self.state, self.dest)
        if problems and ops:
            ops[-1].problems += problems

    def traced(self, ctx):
        from reader_spark.operators.transfer import TransferWriter
        from reader_spark.plans.cdc_mysql import (decoded_changes, log_position,
                                                  process_batch)
        from reader_spark.streaming import binlog
        from reader_spark.streaming.log_source import LogTailStreamReader

        tr, spark = ctx.tracer, ctx.spark
        per_wave = []
        for _ in range(TRACED_WAVES):
            m = {}
            start = log_position(self.log_dir)
            recs = self.state.next_wave(WAVES_CHANGES)
            self.state.log.write(recs)
            with tr.span("streaming.log_source.latest_offset") as s:
                LogTailStreamReader(_stub_schema(), {"path": self.log_dir}).latestOffset()
            m["streaming.log_source.latest_offset_s"] = s.dur
            with tr.span("streaming.log_source.read") as s:
                rows, schema, lines = _read_slices(self.log_dir, start)
            m["streaming.log_source.read_s"] = s.dur
            m["streaming.log_source.scan_ratio"] = len(rows) / max(lines, 1)
            # the drained input as a static frame, for the lazy layers
            frame = spark.createDataFrame(rows, schema).persist()
            frame.count()
            dml = frame.filter(F.col("kind") == "dml")
            m["streaming.binlog.replays_dropped"] = (
                dml.count() - binlog.gtid_dedupe_batch(dml).count())
            with layer(ctx, "plans.cdc_mysql.decode") as s:
                for df in decoded_changes(frame, self._decoder(), gen.DB,
                                          [gen.WAVE_TABLE]).values():
                    _noop(df)
            m["plans.cdc_mysql.decode_s"] = s.dur
            with layer(ctx, "envelope.cdc") as s:
                for df in process_batch(frame, self._decoder(), gen.DB,
                                        [gen.WAVE_TABLE]).values():
                    _noop(df)
            m["envelope.cdc_s"] = s.dur - m["plans.cdc_mysql.decode_s"]
            frame.unpersist()
            touched = []
            with tr.wrap(TransferWriter, "upsert_bucketed",
                         "operators.transfer.upsert", on_result=touched.append):
                with layer(ctx, "plans.cdc_mysql.run_pipeline_merge") as s:
                    q, problems = self._merge(ctx)
            if problems:
                raise RuntimeError("; ".join(problems))
            phases, trigger_s = _progress(q)
            m.update(phases)
            m["structured_streaming.start_stop_s"] = s.dur - trigger_s
            m["operators.transfer.upsert_s"] = tr.durations("operators.transfer.upsert")[-1]
            m["operators.transfer.buckets_touched_frac"] = len(touched[0]) / N_BUCKETS
            state = TransferWriter(spark, self.dest).read(gen.WAVE_TABLE)
            m["operators.transfer.rewrite_amplification"] = (
                state.filter(F.col("bucket").isin(touched[0])).count() / len(recs))
            m["operators.transfer.files_total"] = _file_stats(
                os.path.join(self.dest, gen.WAVE_TABLE))[0]
            per_wave.append(m)
        out = {k: statistics.mean(m[k] for m in per_wave) for k in per_wave[0]}
        out["streaming.schema_history.ddl_s"] = tr.total("streaming.schema_history.ddl")
        out["streaming.schema_history.ddl_applied"] = sum(map(bool, self.ddl_applied))
        # the first upsert is the seed; the second merges the warm-up wave
        out["operators.transfer.seed_s"] = tr.durations("operators.transfer.seed")[0]
        return out, statistics.mean(tr.durations("plans.cdc_mysql.run_pipeline_merge"))

    def _decoder(self):
        """A schema registry in the state the stream's adapter is in."""
        from reader_spark.streaming.schema_history import SchemaAdapter

        return SchemaAdapter(tables={t: list(c) for t, c in self.adapter.tables.items()},
                             history=list(self.adapter.history))


def _stub_schema():
    from pyspark.sql import types as T

    return T.StructType([T.StructField("seq", T.StringType())])


# ------------------------------------------------------------ curate neardup

class CurateNeardup(Workload):
    name = "curate_neardup"

    def generate(self, ctx, root):
        self.corpus = gen.gen_corpus(root, ctx.seed, CORPUS_DOCS, CORPUS_FAMILY_SHARE)

    def settings(self, dest: str):
        from reader_spark.config import (CurateCfg, DestinationCfg, Settings,
                                         SourceCfg, TableCfg)

        return Settings(
            source=SourceCfg(kind="parquet", tables=[TableCfg(name="documents")],
                             options={"path": self.corpus.root}),
            destination=DestinationCfg(kind="parquet", path=dest),
            curate=CurateCfg(dedup="minhash", split="component",
                             n_shards=CURATE_SHARDS),
        )

    def _dest(self, ctx, tag):
        return os.path.join(ctx.work, "out", f"curate-{tag}")

    def warm_up(self, ctx):
        self.op(ctx, "warm")

    def op(self, ctx, i):
        from reader_spark.job import run_job

        t0 = time.perf_counter()
        run_job(ctx.spark, self.settings(self._dest(ctx, i)))
        return Op(self.corpus.n_docs, time.perf_counter() - t0)

    def check(self, ctx, ops):
        for i, o in enumerate(ops):
            o.problems += checks.curate(ctx.spark, self.corpus, self._dest(ctx, i))

    def traced(self, ctx):
        """`_run_curate`'s minhash + component-split chain, each public
        call forced over its persisted input."""
        from reader_spark import job
        from reader_spark.operators import dedup as DD
        from reader_spark.operators.curation import split_by_component
        from reader_spark.operators.transfer import write_training_shards

        tr, spark = ctx.tracer, ctx.spark
        settings = self.settings(self._dest(ctx, "layers"))
        docs = job._read_table(spark, settings.source, settings.source.tables[0])
        pinned = []
        t0 = time.perf_counter()

        def force(df):
            pinned.append(df.persist())
            return df, df.count()

        with layer(ctx, "operators.dedup.token_hashes"):
            base, _ = force(DD.token_hashes(docs))
        with layer(ctx, "operators.dedup.signature"):
            sigs, _ = force(DD.minhash_signature(base, num_hashes=128, hashes_col="toks"))
        with layer(ctx, "operators.dedup.band"):
            pairs, n_cand = force(DD.lsh_candidate_pairs(sigs, num_hashes=128, band_size=8))
        with layer(ctx, "operators.dedup.verify"):
            verified, n_ver = force(DD.jaccard_verify(pairs, docs, threshold=0.8, toks=base))
        with layer(ctx, "operators.dedup.cc"):
            comp, _ = force(DD.connected_components(verified))
        kept = (docs.join(comp, docs.doc_id == comp.node, "left")
                .filter(F.col("label").isNull() | (F.col("label") == F.col("doc_id")))
                .drop("node", "label"))
        split = split_by_component(kept, comp.select(
            F.col("node").alias("doc_id"), F.col("label").alias("component_id")))
        kept = kept.join(split.select("doc_id", "split"), "doc_id")
        with layer(ctx, "operators.transfer.shards_write"):
            for s in checks.SPLITS:
                write_training_shards(kept.filter(F.col("split") == s).drop("split"),
                                      f"{settings.destination.path}/documents/{s}",
                                      n_shards=CURATE_SHARDS)
        traced_op_s = time.perf_counter() - t0
        for df in pinned:
            df.unpersist()
        problems = checks.curate(spark, self.corpus, settings.destination.path)
        if problems:
            raise RuntimeError("; ".join(problems))
        return {
            "operators.dedup.token_hashes_s": tr.total("operators.dedup.token_hashes"),
            "operators.dedup.signature_s": tr.total("operators.dedup.signature"),
            "operators.dedup.band_s": tr.total("operators.dedup.band"),
            "operators.dedup.verify_s": tr.total("operators.dedup.verify"),
            "operators.dedup.cc_s": tr.total("operators.dedup.cc"),
            "operators.dedup.candidate_pairs": n_cand,
            "operators.dedup.verified_pairs": n_ver,
            "operators.dedup.verify_yield": n_ver / max(n_cand, 1),
            "operators.transfer.shards_write_s":
                tr.total("operators.transfer.shards_write"),
        }, traced_op_s


WORKLOADS = {w.name: w for w in (Snapshot, CdcWaves, CurateNeardup)}
