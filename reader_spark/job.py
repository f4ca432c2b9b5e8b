"""Job runner: execute a Settings YAML end-to-end — the Spark-side
analogue of the reference binary's `reader --config config.yaml` run
loop (main.go: config load -> source build -> writer build -> Run).

Snapshot jobs: per table, read -> PK-guarded projection -> Debezium
snapshot envelope -> destination, the tables concurrently. Streaming
jobs: the composed binlog pipeline (plans/cdc_mysql), either as an
envelope log or merged table state (`destination.kind: transfer` ->
incremental bucketed MERGE).

Kinds wired for in-container execution: `parquet` sources and
`parquet`/`transfer` destinations run anywhere; `kafka` publishes when
the Kafka jar is on the classpath and falls back to the file sink
otherwise; the JDBC kinds (postgresql/mysql/mssql) build their
partitioned-read options through sources/jdbc.py and need a live
database + driver jar.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from reader_spark import sinks
from reader_spark.config import Settings, SourceCfg, TableCfg
from reader_spark.functions.localrel import local_df
from reader_spark.envelope import snapshot_envelope
from reader_spark.plans.snapshot import project_columns

# source kind -> envelope dialect (topic-suffix rules)
_DIALECT = {"postgresql": "postgres", "mysql": "mysql", "mssql": "mssql"}


def _read_table(spark: SparkSession, src: SourceCfg, table: TableCfg) -> DataFrame:
    if src.kind == "parquet":
        root = src.options.get("path")
        if not root:
            raise ValueError("parquet source requires options.path")
        return spark.read.parquet(f"{root}/{table.name}.parquet")
    if src.kind in ("jsonl", "csv"):
        # file-corpus sources (curation/index jobs ingest raw dumps
        # long before anything is parquet). Schema comes from config
        # when provided — inference is a second full pass over the
        # files at 100 TB, so production configs always pin it.
        root = src.options.get("path")
        if not root:
            raise ValueError(f"{src.kind} source requires options.path")
        schema = src.options.get("schemas", {}).get(table.name)
        ext = "jsonl" if src.kind == "jsonl" else "csv"
        path = f"{root}/{table.name}.{ext}"
        if src.kind == "jsonl":
            r = spark.read
            return (r.schema(schema) if schema else r).json(path)
        r = spark.read.option("header", "true")
        if schema:
            return r.schema(schema).csv(path)
        return r.option("inferSchema", "true").csv(path)
    if src.kind in ("postgresql", "mysql", "mssql"):
        from reader_spark.sources import jdbc as J

        dialect = {
            "postgresql": J.POSTGRES, "mysql": J.MYSQL, "mssql": J.MSSQL
        }[src.kind]
        ref = J.TableRef(
            schema=table.schema if src.kind != "mysql" else src.database,
            table=table.name,
            pk_cols=src.options.get("pk_cols", {}).get(table.name, ["id"]),
        )
        opts = J.jdbc_read_options(
            ref,
            dialect,
            url=src.options["url"],
            min_pk=int(src.options.get("min_pk", 0)),
            max_pk=int(src.options.get("max_pk", 1 << 31)),
            num_partitions=table.num_partitions,
            fetch_size=table.batch_size,
        )
        return spark.read.format("jdbc").options(**opts).load()
    raise ValueError(f"source kind {src.kind!r} has no batch reader here")


def _pk_cols(src: SourceCfg, table: TableCfg, df: DataFrame) -> list[str]:
    explicit = src.options.get("pk_cols", {}).get(table.name)
    if explicit:
        return list(explicit)
    return [df.columns[0]]  # fixture convention: first column is the PK


def _publish(env: DataFrame, settings: Settings, table: str) -> str:
    dest = settings.destination
    if dest.kind == "kafka":
        if sinks.kafka_available(env.sparkSession):
            # a publish error fails the table (and the job); it never
            # falls back to a file path
            sinks.write_kafka(env, dest.options["bootstrap"])
            return f"kafka:{dest.options['bootstrap']}"
        # no Kafka connector on the classpath: envelopes land as parquet
        out = f"{dest.path or '/tmp/reader_spark_out'}/{table}"
    else:
        out = f"{dest.path}/{table}"
    sinks.write_parquet(env, out)
    return out


# Per-run numeric observations the mode handlers volunteer for the
# _metrics row (table -> rows). Cleared by run_job per invocation;
# driver-side plumbing only — never a data-path dependency.
_JOB_OBS: dict[str, int] = {}


def run_job(spark: SparkSession, settings: Settings) -> dict[str, str]:
    """Execute one configured job; returns {table: destination}.

    Every mode also appends one FIXED-SCHEMA flight-recorder row per
    table to `<destination.path>/_metrics` (run_ts ms, mode, table,
    rows where the handler knows it cheaply, wall_s, detail — the
    mode's own result gist). The reference keeps in-process counters
    (lib/mtr); at warehouse scale the counters land as DATA so
    operators query the job history like any other table. The
    recorder is fail-open: a metrics write problem never fails a job
    that did its work."""
    import time as _time

    _JOB_OBS.clear()
    t0 = _time.time()
    results = _dispatch_job(spark, settings)
    wall = _time.time() - t0
    dest = settings.destination
    if dest.path and results:
        mode = next(
            m
            for m, on in (
                ("checks", settings.checks),
                ("sketch", settings.sketch),
                ("drift", settings.drift),
                ("index", settings.index),
                ("curate", settings.curate),
                ("streaming", settings.source.streaming or None),
                ("snapshot", True),
            )
            if on
        )
        run_ts = _time.time_ns() // 1_000_000
        rows = [
            (
                run_ts,
                mode,
                t,
                _JOB_OBS.get(t),
                round(wall, 3),
                str(r)[:500],
            )
            for t, r in results.items()
            # annotation keys ("manifest:<table>") are result detail,
            # not tables — they ride the table's own detail string
            if ":" not in t
        ]
        try:
            local_df(
                spark,
                rows,
                "run_ts long, mode string, table string, rows long, "
                "wall_s double, detail string",
            ).coalesce(1).write.mode("append").parquet(
                f"{dest.path}/_metrics"
            )
        except Exception:
            pass  # fail-open by contract
    return results


def _dispatch_job(spark: SparkSession, settings: Settings) -> dict[str, str]:
    src = settings.source
    if settings.checks is not None:
        return _run_checks(spark, settings)
    if settings.sketch is not None:
        return _run_sketch(spark, settings)
    if settings.drift is not None:
        return _run_drift(spark, settings)
    if settings.index is not None:
        return _run_index(spark, settings)
    if settings.curate is not None:
        return _run_curate(spark, settings)
    if src.streaming:
        return _run_streaming(spark, settings)
    return _run_snapshot(spark, settings)


def _snapshot_table(
    spark: SparkSession, settings: Settings, table: TableCfg
) -> tuple[str, int | None]:
    """One table's snapshot chain: read -> PK-guarded projection ->
    envelope -> publish. Returns the destination and the rows the
    write observed (None for a z-ordered write)."""
    src = settings.source
    df = _read_table(spark, src, table)
    pk = _pk_cols(src, table, df)
    df = project_columns(
        df,
        pk,
        include=table.include_columns or None,
        exclude=table.exclude_columns or None,
    )
    zorder = settings.destination.options.get("zorder", {}).get(table.name)
    if zorder and settings.destination.kind == "parquet":
        # warehouse materialization clustered for multi-column
        # data skipping: the RAW projected table (not the Kafka
        # envelope) in Z-order — overwrite semantics, since a
        # z-ordered layout is a whole-table property
        from reader_spark.operators.partitioning import zorder_write

        out = f"{settings.destination.path}/{table.name}"
        zorder_write(
            df,
            out,
            list(zorder),
            n_files=int(settings.destination.options.get("zorder_files", 16)),
        )
        return out, None
    env = snapshot_envelope(
        df,
        pk_cols=pk,
        db=src.database or "db",
        schema=table.schema,
        table=table.name,
        topic_prefix=settings.destination.topic_prefix,
        dialect=_DIALECT.get(src.kind, "mysql"),
        ts_col=F.lit(src.options.get("snapshot_ts", 0)).cast("long"),
    )
    # rows-written for the _metrics row WITHOUT a second scan:
    # an Observation rides the write action itself
    from pyspark.sql import Observation

    obs = Observation()
    env = env.observe(obs, F.count(F.lit(1)).alias("n"))
    out = _publish(env, settings, table.name)
    try:
        return out, int(obs.get["n"])
    except Exception:
        return out, None


def _run_snapshot(spark: SparkSession, settings: Settings) -> dict[str, str]:
    """Snapshot job. The reference snapshots tables one after another;
    here each table's chain runs on its own thread, so one table's
    schema inference, write and commit overlap another's (a single
    table's jobs leave cores idle between stages). The pool is
    min(tables, default parallelism) wide. `inheritable_thread_target`
    is wrapped per table: each thread gets its own copy of the
    caller's local properties, so the job group (and cancelling it)
    still covers every table's jobs, and concurrent SQL executions do
    not share one property set. Results and `_JOB_OBS` are filled in
    config order; the first failing table (config order) is re-raised
    after every table has finished, so a failed job writes no
    `_metrics` row."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    tables = settings.source.tables
    if not tables:
        return {}
    width = min(len(tables), spark.sparkContext.defaultParallelism)
    with ThreadPoolExecutor(max_workers=width) as pool:
        futures = [
            pool.submit(
                inheritable_thread_target(spark)(_snapshot_table),
                spark, settings, table,
            )
            for table in tables
        ]
    results: dict[str, str] = {}
    for table, fut in zip(tables, futures):
        out, rows = fut.result()
        results[table.name] = out
        if rows is not None:
            _JOB_OBS[table.name] = rows
    return results


def _run_streaming(spark: SparkSession, settings: Settings) -> dict[str, str]:
    """Streaming job: the composed binlog pipeline. options.log_dir is
    the tail directory (production: the binlog-shipper landing zone);
    destination `transfer` merges into bucketed table state (current
    rows, or SCD2 history with `scd2: true`), anything else lands the
    envelope log."""
    from reader_spark.plans.cdc_mysql import (
        run_pipeline,
        run_pipeline_merge,
        snapshot_then_stream,
    )
    from reader_spark.streaming.schema_history import SchemaAdapter

    src = settings.source
    dest = settings.destination
    log_dir = src.options["log_dir"]
    ck = src.options.get("checkpoint_dir", f"{dest.path}/_checkpoint")
    tables = [t.name for t in src.tables]
    adapter = SchemaAdapter()
    history = src.options.get("history_path")
    snap_path = src.options.get("snapshot_path")
    if dest.kind == "transfer":
        # the only transfer destination options: a typo (`n_bucket`)
        # or a retired key must not silently fall back to a default
        # (a default n_buckets is then pinned on the table for good)
        unknown = sorted(set(dest.options) - {"n_buckets", "scd2"})
        if unknown:
            raise ValueError(
                f"unknown transfer destination option(s) {unknown}; "
                "accepted: n_buckets, scd2"
            )
        scd2 = str(dest.options.get("scd2", "")).lower() in (
            "1", "true", "yes",
        )
        if scd2 and snap_path:
            # snapshot_then_stream seeds and merges current state
            # only: running it would drop the history asked for
            raise ValueError(
                "transfer destination scd2: true cannot start from "
                "source.options.snapshot_path (the snapshot hand-off "
                "keeps current state only)"
            )
    n_buckets = int(dest.options.get("n_buckets", 16))
    cap = int(src.options.get("max_records_per_trigger", 0)) or None
    if dest.kind == "transfer" and snap_path:
        # reference main flow: snapshot first, then CDC from the
        # position the snapshot was cut at (plans/cdc_mysql.py::
        # snapshot_then_stream). snapshot_path points at the
        # consistent per-table parquet the scanner produced; DDL for
        # the tables must be bootstrapped (history replay or
        # bootstrap_ddl list), mirroring SHOW CREATE TABLE.
        for stmt in src.options.get("bootstrap_ddl", []):
            adapter.apply_ddl(stmt, 0)
        snaps = {
            t.name: spark.read.parquet(f"{snap_path}/{t.name}.parquet")
            for t in src.tables
        }
        q = snapshot_then_stream(
            spark, snaps, log_dir, dest.path, ck, src.database, adapter,
            history_path=history, n_buckets=n_buckets,
            snapshot_position=src.options.get("snapshot_position"),
        )
    elif dest.kind == "transfer":
        q = run_pipeline_merge(
            spark, log_dir, dest.path, ck, src.database, tables,
            adapter, history_path=history, n_buckets=n_buckets,
            scd2=scd2, max_per_trigger=cap,
        )
    else:
        q = run_pipeline(
            spark, log_dir, dest.path, ck, src.database, tables,
            adapter, history_path=history, max_per_trigger=cap,
        )
    timeout = int(src.options.get("timeout_sec", 300))
    if not q.awaitTermination(timeout):
        # an undrained stream is a failure, not a success with a
        # _metrics row and a query left running
        q.stop()
        err = q.exception()
        if err is not None:
            raise err
        raise TimeoutError(
            f"streaming job did not drain {log_dir} within "
            f"timeout_sec={timeout}"
        )
    return {t: f"{dest.path}/{t}" for t in tables}


def main(argv: list[str] | None = None) -> None:
    import argparse

    from reader_spark.config import load_settings
    from reader_spark.session import get_spark

    ap = argparse.ArgumentParser(prog="reader_spark")
    ap.add_argument("--config", required=True, help="Settings YAML path")
    args = ap.parse_args(argv)
    settings = load_settings(args.config)
    spark = get_spark("reader_spark_job")
    for table, where in run_job(spark, settings).items():
        print(f"{table}\t{where}")


def _drain_file_stream(
    spark: SparkSession, src: SourceCfg, table: str, schema: str, body,
    default_ck: str,
) -> None:
    """Drain the files landing under `<source options.path>/<table>`
    (parquet for a parquet source, else JSON) through the foreachBatch
    `body` with availableNow semantics: one run empties the backlog
    exactly-once (checkpointed) and returns. A user-provided
    checkpoint_dir is still suffixed per table: sequential streaming
    queries over DIFFERENT input dirs must never share one checkpoint
    (Spark's offset/seen-files logs would mix across sources —
    backlog silently skipped or misattributed for the second and
    later tables)."""
    ck = (
        f"{src.options['checkpoint_dir']}/{table}"
        if "checkpoint_dir" in src.options
        else default_ck
    )
    in_dir = f"{src.options['path']}/{table}"
    reader = spark.readStream.schema(schema)
    stream = reader.parquet(in_dir) if src.kind == "parquet" else reader.json(in_dir)
    (
        stream.writeStream.foreachBatch(body)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def _run_index_stream(
    spark: SparkSession, settings: Settings
) -> dict[str, str]:
    """index: {mode: stream} — keep an EXISTING index fresh: drain
    the document/vector files landing under `<options.path>/<table>`
    (`_drain_file_stream`) through the kind's maintainer body
    (neardup_index_maintainer / bm25_index_maintainer /
    ivf_index_maintainer). Build the index first with mode: build;
    replay safety is each maintainer's own contract (toks-gate /
    bare-append / cell upsert)."""
    cfg = settings.index
    src = settings.source
    dest = settings.destination
    results: dict[str, str] = {}
    for table in src.tables:
        out = f"{dest.path}/{table.name}"
        if cfg.kind == "ivf":
            schema = f"{cfg.id_column} long, {cfg.vector_column} array<double>"
        else:
            schema = f"{cfg.id_column} long, {cfg.text_column} string"
        if cfg.kind == "neardup":
            from reader_spark.operators.dedup import (
                neardup_index_maintainer,
            )

            body = neardup_index_maintainer(
                out, num_hashes=cfg.num_hashes, band_size=cfg.band_size,
                threshold=cfg.threshold, id_col=cfg.id_column,
                text_col=cfg.text_column,
            )  # updates resolve the index's own _params.json pin
        elif cfg.kind == "bm25":
            from reader_spark.operators.retrieval import (
                bm25_index_maintainer,
            )

            body = bm25_index_maintainer(
                out, n_buckets=cfg.n_buckets, text_col=cfg.text_column
            )
            if cfg.id_column != "doc_id":

                def body(df, bid, _inner=body):
                    _inner(
                        df.withColumnRenamed(cfg.id_column, "doc_id"), bid
                    )
        elif cfg.autorefit:
            from reader_spark.operators.similarity import (
                ivf_autorefit_maintainer,
                ivf_health_write,
            )

            hp, bp = f"{out}/health", f"{out}/baseline"
            if not os.path.isdir(hp):
                ivf_health_write(spark, out, hp)
            if not os.path.isdir(bp):
                ivf_health_write(spark, out, bp)
            body = ivf_autorefit_maintainer(
                out, hp, bp, n_clusters=cfg.n_clusters,
                id_col=cfg.id_column, vec_col=cfg.vector_column,
            )
        else:
            from reader_spark.operators.similarity import (
                ivf_index_maintainer,
            )

            body = ivf_index_maintainer(
                out, id_col=cfg.id_column, vec_col=cfg.vector_column
            )
        _drain_file_stream(
            spark, src, table.name, schema, body, f"{out}/_stream_ckpt"
        )
        results[table.name] = f"{out} (stream backlog drained)"
    return results


def _run_drift(spark: SparkSession, settings: Settings) -> dict[str, str]:
    """Drift job (`drift:` block): per table, mode 'baseline'
    publishes the reference histogram at
    `<destination>/<table>/_driftref`; mode 'check' verdicts the
    source against it and appends the one-row result (keyed by
    check time is the CALLER's concern — the row carries counts
    only) at `<destination>/<table>/_driftlog`."""
    cfg = settings.drift
    if cfg.mode == "watch":
        return _run_drift_watch(spark, settings)
    results: dict[str, str] = {}
    for table in settings.source.tables:
        df = _read_table(spark, settings.source, table)
        base = f"{settings.destination.path}/{table.name}"
        ref_path = f"{base}/_driftref"
        from reader_spark.operators.curation import (
            drift_check,
            drift_check_categorical,
            drift_ref_write,
            drift_ref_write_categorical,
        )

        from reader_spark.operators.similarity import (
            embedding_drift_check,
            embedding_drift_ref_write,
        )

        categorical = cfg.category_column is not None
        vector = cfg.vector_column is not None
        quantile = cfg.quantile_column is not None
        if cfg.mode == "baseline":
            if vector:
                embedding_drift_ref_write(df, ref_path, cfg.vector_column)
            elif quantile:
                from reader_spark.operators.sketches import (
                    bottomk_tiles_write,
                )

                qdf, keys = _drift_quantile_keyed(df, cfg)
                bottomk_tiles_write(
                    qdf, ref_path, keys, cfg.quantile_column,
                    k=cfg.k, id_col=cfg.id_column,
                )
            elif categorical:
                drift_ref_write_categorical(
                    df, ref_path, cfg.category_column, cfg.top_k
                )
            else:
                drift_ref_write(
                    df, ref_path, cfg.value_column, cfg.n_buckets
                )
            results[table.name] = ref_path
        else:
            if vector:
                verdict = embedding_drift_check(
                    spark, ref_path, df, cfg.vector_column, cfg.alert_delta
                )
            elif quantile:
                from reader_spark.operators.sketches import (
                    bottomk_sample_tiles,
                    bottomk_tiles_read,
                    quantile_drift_from_tiles,
                )

                if cfg.tiles_path:
                    # two published KB-sized tile tables — the source
                    # is never scanned (the maintained/standing path)
                    cur = bottomk_tiles_read(spark, cfg.tiles_path)
                else:
                    # one linear sketch pass over the wave; only K
                    # structs per key cross the shuffle
                    qdf, keys = _drift_quantile_keyed(df, cfg)
                    cur = bottomk_sample_tiles(
                        qdf, keys, cfg.quantile_column,
                        k=cfg.k, id_col=cfg.id_column,
                    )
                verdict = quantile_drift_from_tiles(
                    bottomk_tiles_read(spark, ref_path), cur,
                    alert_ppm=cfg.alert_ppm,
                )
            elif categorical:
                verdict = drift_check_categorical(
                    spark, ref_path, df, cfg.category_column, cfg.alert_ppm
                )
            else:
                verdict = drift_check(
                    spark, ref_path, df, cfg.value_column, cfg.alert_ppm
                )
            rows = verdict.collect()  # per-key rows; compute once
            if rows and "n_cur" in verdict.columns:
                # current-wave size for the _metrics row — the
                # verdict already carries it, no extra scan
                _JOB_OBS[table.name] = int(
                    sum(r["n_cur"] or 0 for r in rows)
                    if quantile
                    else (rows[0]["n_cur"] or 0)
                )
            log = f"{base}/_driftlog"
            local_df(spark, rows, verdict.schema).coalesce(
                1
            ).write.mode("append").parquet(log)
            if not rows:  # both waves tile-empty: nothing to verdict
                results[table.name] = f"{log} (keys=0)"
                continue
            r = rows[0]
            if vector:
                gist = f"max_delta={r['max_delta']} drifted={r['drifted']}"
            elif quantile:
                n_drifted = sum(1 for x in rows if x["drifted"])
                gist = f"keys={len(rows)} drifted={n_drifted}"
            elif categorical:
                gist = (
                    f"tvd_ppm={r['tvd_ppm']} "
                    f"drifted={r['n_drifted_categories']}"
                )
            else:
                gist = (
                    f"tvd_ppm={r['tvd_ppm']} "
                    f"drifted={r['n_drifted_buckets']}"
                )
            results[table.name] = f"{log} ({gist})"
    return results


def _drift_quantile_keyed(df, cfg):
    """The (frame, key-cols) pair the quantile-drift tile calls
    expect: the configured group column, or an injected constant key
    for ungrouped tables (tiles are per-key by construction — one
    synthetic key makes the whole wave one tile)."""
    if cfg.group_column:
        return df, [cfg.group_column]
    return df.withColumn("__wave", F.lit("all")), ["__wave"]


def _run_index(spark: SparkSession, settings: Settings) -> dict[str, str]:
    """Index-build job: per source table, materialize a searchable
    index at destination.path/<table> — bm25 (bucket-partitioned
    inverted index, df inline) or ivf (KMeans coarse quantizer +
    cell-partitioned corpus). The retrieval analogue of the snapshot
    run loop: one corpus pass at build time buys partition-pruned
    searches forever after (SCALE.md r4c probes)."""
    cfg = settings.index
    src = settings.source
    results: dict[str, str] = {}
    if cfg.mode == "stream":
        return _run_index_stream(spark, settings)
    if cfg.mode == "maintain":
        # compaction pass over an EXISTING index: no source read at
        # all — the OPTIMIZE verb of the index lifecycle
        for table in src.tables:
            out = f"{settings.destination.path}/{table.name}"
            if cfg.kind == "bm25":
                from reader_spark.operators.retrieval import (
                    bm25_index_maintain,
                )

                done = bm25_index_maintain(
                    spark, out, max_files_per_bucket=cfg.max_files
                )
            elif cfg.kind == "neardup":
                from reader_spark.operators.dedup import (
                    neardup_index_maintain,
                )

                done = neardup_index_maintain(spark, out)
            else:
                from reader_spark.operators.similarity import (
                    ivf_index_maintain,
                )

                done = ivf_index_maintain(
                    spark, out, max_files_per_cell=cfg.max_files
                )
            results[table.name] = f"{out} (compacted {len(done)} dirs)"
        return results
    for table in src.tables:
        df = _read_table(spark, src, table)
        out = f"{settings.destination.path}/{table.name}"
        if cfg.kind == "bm25":
            from reader_spark.operators.retrieval import bm25_index_write

            bm25_index_write(
                df.withColumnRenamed(cfg.id_column, "doc_id")
                if cfg.id_column != "doc_id"
                else df,
                out,
                n_buckets=cfg.n_buckets,
                text_col=cfg.text_column,
            )
        elif cfg.kind == "neardup":
            from reader_spark.operators.dedup import neardup_index_write

            neardup_index_write(
                df,
                out,
                num_hashes=cfg.num_hashes,
                band_size=cfg.band_size,
                threshold=cfg.threshold,
                id_col=cfg.id_column,
                text_col=cfg.text_column,
                scheme=cfg.scheme,
            )
            if cfg.components:
                from reader_spark.operators.dedup import neardup_cc_write

                neardup_cc_write(spark, out, n_buckets=cfg.cc_buckets)
        else:
            from reader_spark.operators.similarity import (
                ivf_fit,
                ivf_index_write,
            )

            model = ivf_fit(
                df,
                n_clusters=cfg.n_clusters,
                seed=cfg.seed,
                vec_col=cfg.vector_column,
            )
            ivf_index_write(
                df, out, model, id_col=cfg.id_column, vec_col=cfg.vector_column
            )
        results[table.name] = out
    return results


def _run_checks(spark: SparkSession, settings: Settings) -> dict[str, str]:
    """checks: job — the constraint gate (ChecksCfg): per table, ONE
    aggregation pass computes every violation census (conditional
    count aggregates — no per-constraint scans) plus one PK-group
    pass for uniqueness; the verdict row appends to
    `<destination>/<table>/_checks` and, with fail_on_violation, a
    non-clean verdict raises BEFORE anything downstream publishes.
    The reference enforces only PK-dedupe at flush
    (writers/transfer/writer.go:329-366); at warehouse scale the gate
    runs first so bad loads never need un-publishing."""
    cfg = settings.checks
    results: dict[str, str] = {}
    for table in settings.source.tables:
        df = _read_table(spark, settings.source, table)
        aggs = [F.count(F.lit(1)).alias("n_rows")]
        # coalesce: sum() over ZERO rows is NULL, and an empty table
        # must still produce a well-typed verdict row
        for c in dict.fromkeys([*cfg.pk, *cfg.not_null]):
            aggs.append(
                F.coalesce(
                    F.sum(F.col(c).isNull().cast("long")), F.lit(0)
                ).alias(f"null_{c}")
            )
        for c, (lo, hi) in cfg.ranges.items():
            bad = ~F.col(c).between(F.lit(lo), F.lit(hi))
            aggs.append(
                F.coalesce(
                    F.sum((F.col(c).isNotNull() & bad).cast("long")),
                    F.lit(0),
                ).alias(f"range_{c}")
            )
        if cfg.ts_column is not None:
            # whole-second integer lag vs the gate's run time (the
            # enforcement twin of the source_freshness query) — NULL
            # max(ts) (empty table) reads as maximally stale
            aggs.append(
                F.coalesce(
                    (
                        F.unix_micros(F.current_timestamp())
                        - F.unix_micros(F.max(cfg.ts_column))
                    )
                    / F.lit(1_000_000),
                    F.lit(float(2**62)),
                )
                .cast("long")
                .alias("lag_s")
            )
        row = df.agg(*aggs).collect()[0].asDict()
        if cfg.ts_column is not None:
            row["fresh_ok"] = bool(row["lag_s"] <= cfg.max_lag_s)
        if cfg.pk:
            dup = (
                df.groupBy(*cfg.pk)
                .agg(F.count(F.lit(1)).alias("n"))
                .filter(F.col("n") > 1)
                .agg(
                    F.count(F.lit(1)).alias("dup_keys"),
                    F.coalesce(
                        F.sum(F.col("n") - 1), F.lit(0)
                    ).alias("dup_rows"),
                )
                .collect()[0]
            )
            row["dup_keys"] = int(dup["dup_keys"])
            row["dup_rows"] = int(dup["dup_rows"])
        row["min_rows_ok"] = bool(row["n_rows"] >= cfg.min_rows)
        n_violations = (
            sum(
                int(v)
                for k, v in row.items()
                if k.startswith(("null_", "range_", "dup_rows"))
            )
            + (0 if row["min_rows_ok"] else 1)
            + (0 if row.get("fresh_ok", True) else 1)
        )
        row["n_violations"] = int(n_violations)
        row["clean"] = n_violations == 0
        _JOB_OBS[table.name] = int(row["n_rows"])
        # FIXED log schema, constraints as DATA (long rows): the old
        # one-wide-row form derived its columns from the config, so
        # adding a constraint later appended a different schema to
        # the same parquet log and a plain read of the history broke
        # (needed mergeSchema). Every run now appends the same five
        # columns regardless of which constraints are configured.
        import time as _time

        run_ts = _time.time_ns() // 1_000_000  # ms: runs never collide
        long_rows: list[tuple] = [
            ("rows", "min_rows", int(row["n_rows"]), bool(row["min_rows_ok"]))
        ]
        for c in dict.fromkeys([*cfg.pk, *cfg.not_null]):
            v = int(row[f"null_{c}"])
            long_rows.append((c, "not_null", v, v == 0))
        for c in cfg.ranges:
            v = int(row[f"range_{c}"])
            long_rows.append((c, "range", v, v == 0))
        if cfg.pk:
            pk_name = "/".join(cfg.pk)
            long_rows.append(
                (pk_name, "pk_unique",
                 int(row["dup_rows"]), int(row["dup_rows"]) == 0)
            )
            long_rows.append(
                (pk_name, "pk_dup_keys",
                 int(row["dup_keys"]), int(row["dup_keys"]) == 0)
            )
        if cfg.ts_column is not None:
            long_rows.append(
                (cfg.ts_column, "freshness_lag_s",
                 int(row["lag_s"]), bool(row["fresh_ok"]))
            )
        long_rows.append(("*", "verdict", int(n_violations), bool(row["clean"])))
        verdict = local_df(
            spark,
            [(run_ts, *r) for r in long_rows],
            "run_ts long, constraint string, kind string, "
            "value long, ok boolean",
        )
        log = f"{settings.destination.path}/{table.name}/_checks"
        # One-time migration: a log written by the pre-r10 wide-row
        # form holds a config-derived schema; appending the long rows
        # to the same directory would mix two incompatible schemas in
        # one parquet dir and break a plain read of the history — the
        # exact mergeSchema failure the long form exists to end. Move
        # the legacy log aside (still readable on its own) and start
        # the fixed-schema log fresh.
        if os.path.isdir(log):
            try:
                # mergeSchema: a dir that already MIXES wide and long
                # files (an r10 run appended long rows into a legacy
                # wide log) must be detected deterministically — a
                # plain read samples ONE footer and would migrate or
                # not depending on file listing order. The merged
                # column set is the union, so any wide residue shows.
                old_cols = set(
                    spark.read.option("mergeSchema", "true")
                    .parquet(log)
                    .columns
                )
            except Exception:
                # unreadable even WITH mergeSchema (torn write, true
                # type conflict): the history is already broken for
                # every reader — archiving it aside is strictly
                # better than appending more rows into it
                old_cols = {"__unreadable__"}
            if old_cols and old_cols != {
                "run_ts", "constraint", "kind", "value", "ok"
            }:
                legacy = f"{log}_legacy"
                i = 0
                while os.path.exists(legacy):
                    i += 1
                    legacy = f"{log}_legacy{i}"
                os.rename(log, legacy)
        verdict.coalesce(1).write.mode("append").parquet(log)
        results[table.name] = (
            f"{log} (violations={n_violations} clean={row['clean']})"
        )
        if cfg.fail_on_violation and n_violations:
            raise ValueError(
                f"checks failed for {table.name}: {n_violations} "
                f"violation(s) — {row}"
            )
    return results


def _run_drift_watch(
    spark: SparkSession, settings: Settings
) -> dict[str, str]:
    """drift: {mode: watch} — drain the files landing under
    `<source options.path>/<table>` (`_drain_file_stream`) through
    the drift family's watch body against the PUBLISHED reference
    (`<destination>/<table>/_driftref`, from a prior mode: baseline
    run); each micro-batch logs one verdict row at
    `<destination>/<table>/_driftwatch` (replace-on-replay by batch
    id — the watch bodies' contract). All three families route by
    the configured column kind."""
    from reader_spark.operators.curation import (
        drift_watch,
        drift_watch_categorical,
    )
    from reader_spark.operators.similarity import embedding_drift_watch

    cfg = settings.drift
    src = settings.source
    dest = settings.destination
    results: dict[str, str] = {}
    for table in src.tables:
        base = f"{dest.path}/{table.name}"
        ref_path = f"{base}/_driftref"
        log = f"{base}/_driftwatch"
        if cfg.vector_column is not None:
            schema = f"{cfg.vector_column} array<double>"
            body = embedding_drift_watch(
                ref_path, log, cfg.vector_column, cfg.alert_delta
            )
        elif cfg.quantile_column is not None:
            from reader_spark.operators.sketches import (
                bottomk_tiles_write,
                quantile_drift_watch,
            )

            parts = []
            if cfg.group_column:
                parts.append(f"{cfg.group_column} string")
            parts.append(f"{cfg.quantile_column} double")
            if cfg.id_column:
                parts.append(f"{cfg.id_column} long")
            schema = ", ".join(parts)
            keys = [cfg.group_column] if cfg.group_column else ["__wave"]
            cur_path = f"{base}/_drifttiles"
            if not os.path.isdir(cur_path):
                # seed the CURRENT tile table empty so the first
                # micro-batch's containment merge has a side to read
                empty = local_df(
                    spark,
                    [],
                    schema if cfg.group_column else f"{schema}, __wave string",
                )
                bottomk_tiles_write(
                    empty, cur_path, keys, cfg.quantile_column,
                    k=cfg.k, id_col=cfg.id_column,
                )
            inner = quantile_drift_watch(
                ref_path, cur_path, log, keys, cfg.quantile_column,
                k=cfg.k, id_col=cfg.id_column, alert_ppm=cfg.alert_ppm,
            )

            def body(batch_df, batch_id, _inner=inner):
                _inner(_drift_quantile_keyed(batch_df, cfg)[0], batch_id)
        elif cfg.category_column is not None:
            schema = f"{cfg.category_column} string"
            body = drift_watch_categorical(
                ref_path, log, cfg.category_column, cfg.alert_ppm
            )
        else:
            schema = f"{cfg.value_column} double"
            body = drift_watch(ref_path, log, cfg.value_column, cfg.alert_ppm)
        _drain_file_stream(
            spark, src, table.name, schema, body, f"{base}/_driftwatch_ckpt"
        )
        results[table.name] = log
    return results


def _run_sketch(spark: SparkSession, settings: Settings) -> dict[str, str]:
    """sketch: job — (re)materialize a maintained sketch-tile table
    per source table at destination.path/<table>. mode 'rebuild' is
    the delete path for the monotone tile family: a KMV union /
    bottom-k containment / CMS increment cannot be un-merged, so
    forgetting documents from a MAINTAINED sketch means one
    `*_tiles_write` pass over the surviving corpus — the published
    result equals a fresh build over what remains, and the pointer
    flip retires the pre-deletion tiles atomically (readers never
    see a half-forgotten state). Epoch restarts at -1; run rebuilds
    BETWEEN maintainer drains (the stream jobs are availableNow —
    each run empties the backlog and exits), never concurrently: a
    replayed pre-rebuild batch would pass the reset epoch gate and,
    for the non-idempotent CMS counters, re-apply rows the rebuild
    already counted."""
    cfg = settings.sketch
    src = settings.source
    if cfg.mode == "stream":
        return _run_sketch_stream(spark, settings)
    results: dict[str, str] = {}
    for table in src.tables:
        df = _read_table(spark, src, table)
        out = f"{settings.destination.path}/{table.name}"
        if cfg.kind == "kmv":
            from reader_spark.operators.sketches import kmv_tiles_write

            kmv_tiles_write(
                df, out, cfg.key_columns, cfg.value_column, k=cfg.k
            )
        elif cfg.kind == "bottomk":
            from reader_spark.operators.sketches import bottomk_tiles_write

            bottomk_tiles_write(
                df, out, cfg.key_columns, cfg.value_column,
                k=cfg.k, id_col=cfg.id_column,
            )
        else:  # cms
            from reader_spark.operators.sketches import cms_tiles_write

            cms_tiles_write(
                df.select(F.col(cfg.value_column).alias("term")),
                out, width=cfg.width, depth=cfg.depth,
            )
        results[table.name] = f"{out} ({cfg.mode})"
    return results


def _run_sketch_stream(
    spark: SparkSession, settings: Settings
) -> dict[str, str]:
    """sketch: {mode: stream} — keep EXISTING tiles fresh: drain the
    files landing under `<source options.path>/<table>`
    (`_drain_file_stream`) through the kind's maintainer body
    (kmv_maintainer / bottomk_maintainer / cms_maintainer; the tile
    merges themselves are epoch-gated against crash replay). Build
    the tiles first with mode: build; the delete path stays mode:
    rebuild (monotone merges cannot un-merge)."""
    from reader_spark.operators.sketches import (
        bottomk_maintainer,
        cms_maintainer,
        kmv_maintainer,
    )

    cfg = settings.sketch
    src = settings.source
    dest = settings.destination
    results: dict[str, str] = {}
    for table in src.tables:
        out = f"{dest.path}/{table.name}"
        if cfg.kind == "cms":
            schema = f"{cfg.value_column} {cfg.value_type}"
            body = cms_maintainer(
                out, term_col=cfg.value_column,
                width=cfg.width, depth=cfg.depth,
            )
        else:
            keys = ", ".join(f"{k} string" for k in cfg.key_columns)
            schema = f"{keys}, {cfg.value_column} {cfg.value_type}"
            if cfg.kind == "kmv":
                body = kmv_maintainer(
                    out, cfg.key_columns, cfg.value_column, k=cfg.k
                )
            else:
                body = bottomk_maintainer(
                    out, cfg.key_columns, cfg.value_column,
                    k=cfg.k, id_col=cfg.id_column,
                )
        _drain_file_stream(
            spark, src, table.name, schema, body, f"{out}_stream_ckpt"
        )
        results[table.name] = out
    return results


def _bloom_ready(path: str) -> bool:
    """True iff the seen-set filter at `path` is a COMPLETE artifact
    (its resolved data root carries the `_bloom.json` geometry pin).
    A crash during the very first bloom_write can leave the
    directory existing but pointerless/pinless; a bare isdir check
    would then wedge every later curate run at the gate — probing
    readiness lets the rerun fall through to "no filter yet" (gate
    passes everything, the post-write publish creates the artifact
    properly; atomic_dir.publish handles the half-created dir)."""
    from reader_spark.operators import atomic_dir

    if not os.path.isdir(path):
        return False
    try:
        root = atomic_dir.resolve(path)
    except Exception:
        return False
    return os.path.isfile(os.path.join(root, "_bloom.json"))


def _run_curate(spark: SparkSession, settings: Settings) -> dict[str, str]:
    """Curation job: gates -> dedup -> epoch-shuffled training shards.

    One declarative plan per stage: the gates are pushed-down
    filters; exact dedup is a single content-hash aggregate keeping
    the minimum id; minhash dedup keeps each near-dup component's
    minimum id (LSH + Jaccard verify + connected components — no
    all-pairs anywhere); the shard write is partitionBy(shard) with a
    per-partition sort. With a split configured, ONE write
    (`write_split_shards`) takes the survivor frame (after gates,
    dedup, split assignment and chunking) with its split column and
    lays out train/val/test in one pass, so the survivor chain runs
    once and is never cached whole. The dedup pins are released after
    the table's write. Returns {table: out_path} plus the written row
    count under 'manifest:<table>' (or 'manifest:<table>/<split>' per
    split).
    """
    from reader_spark.cache import pin, release_pins
    from reader_spark.functions.text import quality_score
    from reader_spark.operators import dedup as DD
    from reader_spark.operators.transfer import (
        SPLITS,
        write_split_shards,
        write_training_shards,
    )

    cfg = settings.curate
    src = settings.source
    results: dict[str, str] = {}
    for table in src.tables:
        docs = _read_table(spark, src, table)
        # Per-gate drop census at ZERO extra scans: an Observation
        # per stage rides the shard write's own action — every
        # observed node is upstream of the write plan, so the counts
        # materialize with the job the run was already paying for
        # (never a second pass over the corpus). Logged after the
        # writes as fixed-schema rows at <dest>/<table>/_gates.
        from pyspark.sql import Observation

        gate_obs: list[tuple[str, Observation]] = []

        def gated(df, name: str):
            obs = Observation()
            gate_obs.append((name, obs))
            return df.observe(obs, F.count(F.lit(1)).alias("n"))

        docs = gated(docs, "raw")
        if cfg.seen_index:
            # Bloom seen-set gate (r11): screen the wave against the
            # materialized filter BEFORE any per-text work — already-
            # ingested docs cost one broadcast join + bit test, never
            # a quality score or a signature. First run: no filter
            # yet, everything passes, the post-write update creates
            # it. maybe_seen includes the filter's bounded false
            # positives (geometry pinned in the artifact).
            from reader_spark.operators import sketches as SK

            if _bloom_ready(cfg.seen_index):
                stored, m_w, k_h = SK.bloom_read(spark, cfg.seen_index)
                verdict = SK.bloom_probe(
                    docs.select("doc_id"), stored, "doc_id",
                    m_words=m_w, k_hashes=k_h,
                )
                docs = gated(
                    docs.join(
                        verdict.filter(~F.col("maybe_seen")).select(
                            "doc_id"
                        ),
                        "doc_id",
                    ),
                    "seen",
                )
        if cfg.lang:
            docs = gated(docs.filter(F.col("lang") == cfg.lang), "lang")
        if cfg.min_chars:
            docs = gated(
                docs.filter(F.length("text") >= cfg.min_chars), "min_chars"
            )
        if cfg.max_chars:
            docs = gated(
                docs.filter(F.length("text") <= cfg.max_chars), "max_chars"
            )
        if cfg.min_quality:
            docs = gated(
                docs.filter(
                    quality_score(F.col("text")) >= cfg.min_quality
                ),
                "min_quality",
            )
        if cfg.decontaminate_index:
            # ingest-side benchmark decontamination: drop docs with a
            # verified near-dup in the materialized benchmark index
            # BEFORE they reach dedup/sharding (the r10 ingest hook —
            # the benchmark side's banding was paid once at its build)
            docs = gated(
                DD.decontaminate_incremental(
                    spark, docs, cfg.decontaminate_index
                ),
                "decontaminate",
            )
        if cfg.dedup in ("exact", "normalized"):
            # "normalized" = the CCNet-style first pass: case/
            # punctuation/whitespace-invariant content hash
            content = (
                F.trim(
                    F.regexp_replace(
                        F.regexp_replace(
                            F.lower(F.col("text")), "[^a-z0-9 ]", " "
                        ),
                        " +",
                        " ",
                    )
                )
                if cfg.dedup == "normalized"
                else F.col("text")
            )
            keep = (
                docs.groupBy(F.md5(content).alias("__h"))
                .agg(F.min("doc_id").alias("doc_id"))
                .select("doc_id")
            )
            docs = gated(docs.join(keep, "doc_id"), "dedup")
        comp = None
        need_derive = cfg.dedup == "minhash" or (
            cfg.split == "component" and not cfg.component_index
        )
        if need_derive:
            # one near-dup derivation feeds BOTH the keep-one dedup
            # and the leakage-free split when both are configured
            # the recall-tuned production banding (k=128/r=8) — the
            # old 16/8 here caught ~46% of true near-dups at j=0.8
            base = pin(DD.token_hashes(docs))
            sigs = pin(
                DD.minhash_signature(base, num_hashes=128, hashes_col="toks")
            )
            pairs = DD.lsh_candidate_pairs(sigs, num_hashes=128, band_size=8)
            verified = DD.jaccard_verify(
                pairs, docs, threshold=0.8, toks=base
            )
            comp = pin(DD.connected_components(verified))
        if cfg.dedup == "minhash":
            # keep each component's minimum id; isolated docs keep
            # themselves (label is null after the left join)
            docs = (
                docs.join(comp, docs.doc_id == comp.node, "left")
                .filter(
                    F.col("label").isNull()
                    | (F.col("label") == F.col("doc_id"))
                )
                .drop("node", "label")
            )
            docs = gated(docs, "dedup")
        if cfg.split:
            from reader_spark.operators.curation import (
                dataset_split,
                split_by_component,
            )

            if cfg.split == "component" and cfg.component_index:
                from reader_spark.operators.dedup import neardup_canonical

                assignment = split_by_component(
                    docs, neardup_canonical(spark, cfg.component_index)
                ).select("doc_id", "split")
            elif cfg.split == "component":
                assignment = split_by_component(
                    docs,
                    comp.select(
                        F.col("node").alias("doc_id"),
                        F.col("label").alias("component_id"),
                    ),
                ).select("doc_id", "split")
            else:
                assignment = dataset_split(docs)
            docs = docs.join(assignment, "doc_id")
        if cfg.chunk_width:
            # dedup first, chunk after: near-dup families are decided
            # on whole documents, then survivors split into training
            # windows. Chunk ids stay deterministic arithmetic
            # (doc_id * 1e6 + ordinal — documents over 1e6 chunks
            # would need a wider id, not a different scheme).
            from reader_spark.operators.curation import chunk_documents

            chunks = chunk_documents(
                docs,
                width=cfg.chunk_width,
                overlap=cfg.chunk_overlap,
                emit_text=True,
            )
            if cfg.split:
                # a chunk inherits its parent's split (the leakage
                # guard must hold at window granularity too); the
                # chunker emits (doc_id, chunk...) only, so re-attach
                chunks = chunks.join(
                    docs.select("doc_id", "split"), "doc_id"
                )
            docs = gated(
                chunks.select(
                    (F.col("doc_id") * 1_000_000 + F.col("chunk_id")).alias(
                        "doc_id"
                    ),
                    F.col("chunk_text").alias("text"),
                    *(["split"] if cfg.split else []),
                ),
                "chunk",
            )
        out = f"{settings.destination.path}/{table.name}"
        # the shard-write stage's survivor counts come FREE from the
        # write's own per-shard manifest — the census covers the
        # whole funnel (raw -> gates -> dedup -> chunk -> write)
        # without a single extra scan
        write_counts: list[tuple[str, int]] = []
        if cfg.split:
            # one write for all three splits: the survivor frame
            # (gate Observations included) is computed once, by it
            manifests = write_split_shards(
                docs, out, n_shards=cfg.n_shards, epoch=cfg.epoch
            )
            for s, manifest in manifests.items():
                results[f"manifest:{table.name}/{s}"] = str(
                    sum(manifest.values())
                )
                write_counts.append((f"write:{s}", sum(manifest.values())))
            results[table.name] = out
        else:
            manifest = write_training_shards(
                docs, out, n_shards=cfg.n_shards, epoch=cfg.epoch
            )
            results[table.name] = out
            results[f"manifest:{table.name}"] = str(sum(manifest.values()))
            write_counts.append(("write", sum(manifest.values())))
        # the writes above ran the plan — harvest the riding gate
        # counts and log the census (fixed schema; append = history)
        import time as _time

        run_ts = _time.time_ns() // 1_000_000
        census = []
        for stage, (name, obs) in enumerate(gate_obs):
            try:
                census.append((run_ts, stage, name, int(obs.get["n"])))
            except Exception:
                pass  # fail-open like the _metrics recorder
        for i, (name, n) in enumerate(write_counts):
            census.append((run_ts, len(gate_obs) + i, name, int(n)))
        if census:
            local_df(
                spark,
                census,
                "run_ts long, stage int, gate string, rows_after long",
            ).coalesce(1).write.mode("append").parquet(f"{out}/_gates")
            _JOB_OBS[table.name] = census[-1][3]
        if cfg.seen_index:
            # fold this wave's SURVIVOR ids into the seen-set so the
            # next run's probe drops them at the gate. Ids come from
            # a column-pruned read of the JUST-WRITTEN shards (never
            # a second pass over the corpus plan); chunk ids map
            # back to their parent doc via the documented
            # doc_id // 1e6 scheme. OR-merge is idempotent, so a
            # crashed-and-rerun wave re-folds the same bits; the
            # first run creates the filter (geometry pinned in the
            # artifact from then on).
            from reader_spark.operators import sketches as SK

            written = (
                [f"{out}/{s_}" for s_ in SPLITS]
                if cfg.split
                else [out]
            )
            from pyspark.errors import AnalysisException

            ids = None
            for w in written:
                try:
                    part = spark.read.parquet(w).select("doc_id")
                except AnalysisException as e:
                    # ONLY the empty-wave shape (no footers to infer
                    # a schema from) reads as "nothing shipped" —
                    # any other failure must surface: swallowing it
                    # would skip marking a WHOLE WAVE as seen and
                    # the next run would re-ingest it wholesale.
                    if "UNABLE_TO_INFER_SCHEMA" in str(e):
                        continue
                    raise
                ids = part if ids is None else ids.unionByName(part)
            if ids is not None and cfg.chunk_width:
                # integer div: chunk ids are parent*1e6+ordinal in
                # exact long arithmetic — float division would round
                # at the 2^53 boundary and fold a NEIGHBORING parent
                # id in (marking a never-ingested doc as seen)
                ids = ids.select(
                    F.expr(
                        "CAST(doc_id div 1000000 AS BIGINT) AS doc_id"
                    )
                ).distinct()
            if ids is None:
                pass  # nothing shipped, nothing to fold in
            elif _bloom_ready(cfg.seen_index):
                SK.bloom_update(spark, cfg.seen_index, ids, "doc_id")
            else:
                SK.bloom_write(ids, cfg.seen_index, "doc_id")
        # shard write materialized everything — drop the pinned
        # token-hash/signature/component frames before the next table
        release_pins()
    return results
