"""Composed MySQL-CDC pipeline end-to-end: logtail source ->
schema-evolving DDL -> decode -> envelope -> parquet sink, with
offset resume across restarts (reference §3.2 lifecycle)."""

import json

from reader_spark.plans.cdc_mysql import run_pipeline
from reader_spark.streaming.schema_history import SchemaAdapter
import pytest


def _append(path, records):
    with open(path, "a") as f:
        for r in records:
            f.write(json.dumps(r) + "\n")


def rec(seq, kind, **kw):
    base = {
        "seq": seq, "ts_ms": seq * 100, "db": "app", "tbl": "users",
        "kind": kind, "op": None, "gtid_sid": "s1", "gtid_tx": seq,
        "statement": None, "before": None, "after": None,
    }
    base.update(kw)
    return base


def test_cdc_pipeline_with_schema_evolution(spark, tmp_path):
    log = tmp_path / "log"
    log.mkdir()
    sink = str(tmp_path / "sink")
    ck = str(tmp_path / "ck")
    hist = str(tmp_path / "history.jsonl")

    _append(log / "binlog.jsonl", [
        rec(1, "ddl", statement="CREATE TABLE users (id int, name text)"),
        rec(2, "dml", op="c", after='{"id": 1, "name": "ada"}'),
        rec(3, "dml", op="c", after='{"id": 2, "name": "bob"}'),
        rec(3, "dml", op="c", after='{"id": 2, "name": "bob"}'),  # GTID replay
        rec(4, "bookkeeping"),
    ])

    adapter = SchemaAdapter()
    q = run_pipeline(spark, str(log), sink, ck, "app", ["users"],
                     adapter, history_path=hist)
    q.awaitTermination(90)

    out = spark.read.parquet(f"{sink}/users")
    rows = [json.loads(r["value"])["payload"] for r in out.collect()]
    assert len(rows) == 2  # replayed GTID deduped, bookkeeping dropped
    assert {r["after"]["name"] for r in rows} == {"ada", "bob"}
    assert adapter.tables["users"] == ["id", "name"]

    # --- restart with evolved schema: ADD COLUMN + update ----------
    _append(log / "binlog.jsonl", [
        rec(5, "ddl", statement="ALTER TABLE users ADD COLUMN email text"),
        rec(6, "dml", op="u",
            before='{"id": 1, "name": "ada", "email": null}',
            after='{"id": 1, "name": "ada", "email": "a@x.io"}'),
    ])
    adapter2 = SchemaAdapter.replay(hist)  # boot-time replay
    assert adapter2.tables == {"users": ["id", "name"]}
    q2 = run_pipeline(spark, str(log), sink, ck, "app", ["users"],
                      adapter2, history_path=hist)
    q2.awaitTermination(90)

    out2 = spark.read.parquet(f"{sink}/users")
    assert out2.count() == 3  # only the delta processed
    upd = [
        json.loads(r["value"])["payload"] for r in out2.collect()
        if json.loads(r["value"])["payload"]["op"] == "u"
    ]
    assert len(upd) == 1
    assert upd[0]["after"]["email"] == "a@x.io"  # new column decoded
    assert adapter2.tables["users"] == ["id", "name", "email"]


def test_create_table_like_mid_stream_decodes_clone_dml(spark, tmp_path):
    """A CREATE TABLE ... LIKE arriving mid-stream must register the
    clone (CopyTableEvent semantics, ddl.go:79-91) so that subsequent
    DML on the clone decodes; the clone survives JSONL history replay
    across a restart."""
    log = tmp_path / "log"
    log.mkdir()
    sink = str(tmp_path / "sink")
    ck = str(tmp_path / "ck")
    hist = str(tmp_path / "history.jsonl")

    _append(log / "binlog.jsonl", [
        rec(1, "ddl", statement="CREATE TABLE users (id int, name text)"),
        rec(2, "dml", op="c", after='{"id": 1, "name": "ada"}'),
        rec(3, "ddl", statement="CREATE TABLE users_copy LIKE users"),
        rec(4, "dml", tbl="users_copy", op="c",
            after='{"id": 7, "name": "zoe"}'),
    ])
    adapter = SchemaAdapter()
    q = run_pipeline(spark, str(log), sink, ck, "app",
                     ["users", "users_copy"], adapter, history_path=hist)
    q.awaitTermination(90)

    assert adapter.tables["users_copy"] == ["id", "name"]
    clone = [
        json.loads(r["value"])["payload"]
        for r in spark.read.parquet(f"{sink}/users_copy").collect()
    ]
    assert len(clone) == 1
    assert clone[0]["after"] == {"id": "7", "name": "zoe"}

    # restart: the clone's registration replays from the JSONL history
    _append(log / "binlog.jsonl", [
        rec(5, "dml", tbl="users_copy", op="c",
            after='{"id": 8, "name": "kai"}'),
    ])
    adapter2 = SchemaAdapter.replay(hist)
    assert adapter2.tables["users_copy"] == ["id", "name"]
    q2 = run_pipeline(spark, str(log), sink, ck, "app",
                      ["users", "users_copy"], adapter2, history_path=hist)
    q2.awaitTermination(90)
    names = {
        json.loads(r["value"])["payload"]["after"]["name"]
        for r in spark.read.parquet(f"{sink}/users_copy").collect()
    }
    assert names == {"zoe", "kai"}


def test_merge_then_reconcile_closes_the_loop(spark):
    """K3 + K5: apply a change batch with MERGE semantics, then prove
    the audit sees a clean sink vs the expected state — and detects
    every drift class vs the stale pre-merge state."""
    from reader_spark.operators.transfer import apply_changes, reconcile

    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(1, 6)], "id long, v string"
    )
    changes = spark.createDataFrame(
        [
            (2, "v2b", "u", 10),
            (3, None, "d", 11),
            (6, "v6", "c", 12),
        ],
        "id long, v string, op string, seq long",
    )
    sink = apply_changes(base, changes, ["id"], "seq")
    expected = spark.createDataFrame(
        [(1, "v1"), (2, "v2b"), (4, "v4"), (5, "v5"), (6, "v6")],
        "id long, v string",
    )
    clean = {r["status"]: r["n_keys"] for r in reconcile(expected, sink, ["id"]).collect()}
    assert clean == {"ok": 5}
    stale = {r["status"]: r["n_keys"] for r in reconcile(base, sink, ["id"]).collect()}
    assert stale == {"ok": 3, "mismatch": 1, "missing": 1, "extra": 1}


def test_streaming_merge_into_bucketed_state(spark, tmp_path):
    """CDC stream -> incremental MERGE sink: the destination holds
    current table STATE (not an envelope log); the second run (same
    checkpoint) applies only the delta, and deletes/updates land."""
    from reader_spark.plans.cdc_mysql import run_pipeline_merge

    log = tmp_path / "log"
    log.mkdir()
    dest = str(tmp_path / "dest")
    ck = str(tmp_path / "ck")

    _append(log / "binlog.jsonl", [
        rec(1, "ddl", statement="CREATE TABLE users (id int, name text)"),
        rec(2, "dml", op="c", after='{"id": 1, "name": "ada"}'),
        rec(3, "dml", op="c", after='{"id": 2, "name": "bob"}'),
        rec(4, "dml", op="c", after='{"id": 3, "name": "cy"}'),
    ])
    adapter = SchemaAdapter()
    q = run_pipeline_merge(spark, str(log), dest, ck, "app", ["users"],
                           adapter, n_buckets=4)
    q.awaitTermination(90)
    state = {r["id"]: r["name"]
             for r in spark.read.parquet(f"{dest}/users").collect()}
    assert state == {"1": "ada", "2": "bob", "3": "cy"}

    _append(log / "binlog.jsonl", [
        rec(5, "dml", op="u", before='{"id": 1, "name": "ada"}',
            after='{"id": 1, "name": "ada2"}'),
        rec(6, "dml", op="d", before='{"id": 2, "name": "bob"}'),
    ])
    q2 = run_pipeline_merge(spark, str(log), dest, ck, "app", ["users"],
                            adapter, n_buckets=4)
    q2.awaitTermination(90)
    state = {r["id"]: r["name"]
             for r in spark.read.parquet(f"{dest}/users").collect()}
    assert state == {"1": "ada2", "3": "cy"}


def test_snapshot_then_stream_handoff(spark, tmp_path):
    """The reference's core flow: lock-free snapshot, then CDC from
    the recorded position. Pre-snapshot history must NOT replay
    against the seeded state; post-snapshot events must all apply —
    no gap, no dupes, deletes honored."""
    from reader_spark.plans.cdc_mysql import log_position, snapshot_then_stream

    log = tmp_path / "log"
    log.mkdir()
    dest = str(tmp_path / "dest")
    ck = str(tmp_path / "ck")

    # pre-snapshot history (already applied inside the "database")
    _append(log / "binlog.jsonl", [
        rec(1, "ddl", statement="CREATE TABLE users (id int, name text)"),
        rec(2, "dml", op="c", after='{"id": 1, "name": "ada"}'),
        rec(3, "dml", op="c", after='{"id": 2, "name": "bob"}'),
        rec(4, "dml", op="u", before='{"id": 1, "name": "ada"}',
            after='{"id": 1, "name": "ada2"}'),
        rec(5, "dml", op="c", after='{"id": 3, "name": "cyd"}'),
    ])
    # the snapshot the scanner would read at this position
    snap = spark.createDataFrame(
        [(1, "ada2"), (2, "bob"), (3, "cyd")], "id int, name string"
    )
    adapter = SchemaAdapter()
    assert adapter.apply_ddl("CREATE TABLE users (id int, name text)", 0)

    pos_before = log_position(str(log))
    q = snapshot_then_stream(
        spark, {"users": snap}, str(log), dest, ck, "app", adapter,
        n_buckets=4,
    )
    q.awaitTermination(90)
    seeded = spark.read.parquet(f"{dest}/users")
    # the transfer table holds the decoded WIRE shape (strings);
    # typed columns are the converter layer's job downstream
    assert sorted((r["id"], r["name"]) for r in seeded.collect()) == [
        ("1", "ada2"), ("2", "bob"), ("3", "cyd"),
    ]
    assert pos_before == {"binlog.jsonl": 5}

    # post-snapshot delta: insert, update, delete
    _append(log / "binlog.jsonl", [
        rec(6, "dml", op="c", after='{"id": 4, "name": "dan"}'),
        rec(7, "dml", op="u", before='{"id": 2, "name": "bob"}',
            after='{"id": 2, "name": "bob2"}'),
        rec(8, "dml", op="d", before='{"id": 3, "name": "cyd"}'),
    ])
    from reader_spark.plans.cdc_mysql import run_pipeline_merge

    q2 = run_pipeline_merge(
        spark, str(log), dest, ck, "app", ["users"], adapter, n_buckets=4,
    )
    q2.awaitTermination(90)
    final = spark.read.parquet(f"{dest}/users")
    assert sorted((r["id"], r["name"]) for r in final.collect()) == [
        ("1", "ada2"), ("2", "bob2"), ("4", "dan"),
    ]


def test_pipeline_progress_metrics(spark, tmp_path):
    """Observation-metrics parity with the reference's writer
    progress log + lag gauge: one JSONL line per (batch, table) with
    rows published and the newest source event timestamp, measured
    on the write action itself."""
    log = tmp_path / "log_m"
    log.mkdir()
    sink = str(tmp_path / "sink_m")
    ck = str(tmp_path / "ck_m")
    metrics = str(tmp_path / "metrics.jsonl")

    _append(log / "binlog.jsonl", [
        rec(1, "ddl", statement="CREATE TABLE users (id int, name text)"),
        rec(2, "dml", op="c", after='{"id": 1, "name": "ada"}'),
        rec(3, "dml", op="c", after='{"id": 2, "name": "bob"}'),
    ])
    q = run_pipeline(spark, str(log), sink, ck, "app", ["users"],
                     SchemaAdapter(), metrics_path=metrics)
    q.awaitTermination(90)
    lines = [json.loads(x) for x in open(metrics)]
    assert len(lines) == 1
    m = lines[0]
    assert m["table"] == "users" and m["rows"] == 2
    assert m["max_source_ts_ms"] == 300  # seq 3 * 100


def test_quarantine_routes_malformed_rows(spark, tmp_path):
    """Poison rows (garbled JSON images) divert to the dead-letter
    log with their position; the healthy rest of the batch still
    publishes. Without a quarantine path the batch fails."""
    from reader_spark.plans.cdc_mysql import process_batch

    qdir = str(tmp_path / "dlq")
    batch = spark.createDataFrame(
        [
            rec(1, "ddl", statement="CREATE TABLE users (id int, name text)"),
            rec(2, "dml", op="c", after='{"id": 1, "name": "ada"}'),
            rec(3, "dml", op="c", after='{"id": 2, '),  # truncated JSON
            rec(4, "dml", op="u",
                before='GARBAGE',
                after='{"id": 1, "name": "ada2"}'),
        ]
    )
    adapter = SchemaAdapter()
    out = process_batch(
        batch, adapter, "app", ["users"], quarantine_path=qdir
    )
    good = [json.loads(r["value"])["payload"] for r in out["users"].collect()]
    assert len(good) == 1 and good[0]["after"]["name"] == "ada"
    bad = spark.read.json(f"{qdir}/users").collect()
    assert {r["seq"] for r in bad} == {3, 4}
    assert any(r["after_raw"] == '{"id": 2, ' for r in bad)
    # no quarantine path: a corrupt image fails the batch, naming the
    # table and the log position, instead of publishing nulled rows
    out2 = process_batch(batch, SchemaAdapter(), "app", ["users"])
    with pytest.raises(Exception, match=r"users at seq [34]"):
        out2["users"].count()


def test_merge_pipeline_fails_on_corrupt_image(spark, tmp_path):
    """The MERGE path decodes like the envelope path: a truncated
    after-image ends the query with an error naming the table and the
    log position, and never merges a null-key row."""
    from reader_spark.plans.cdc_mysql import run_pipeline_merge

    log = tmp_path / "log"
    log.mkdir()
    dest = str(tmp_path / "dest")
    ck = str(tmp_path / "ck")
    _append(log / "binlog.jsonl", [
        rec(1, "ddl", statement="CREATE TABLE users (id int, name text)"),
        rec(2, "dml", op="c", after='{"id": 1, "name": "ada"}'),
    ])
    adapter = SchemaAdapter()
    run_pipeline_merge(spark, str(log), dest, ck, "app", ["users"],
                       adapter, n_buckets=4).awaitTermination(90)

    _append(log / "binlog.jsonl", [
        rec(3, "dml", op="u", before='{"id": 1, "name": "ada"}',
            after='{"id": 1, '),  # truncated JSON
    ])
    q = run_pipeline_merge(spark, str(log), dest, ck, "app", ["users"],
                           adapter, n_buckets=4)
    with pytest.raises(Exception, match="users at seq 3"):
        q.awaitTermination(90)
    # no null-key row: the destination holds the first wave only
    rows = spark.read.parquet(f"{dest}/users").collect()
    assert [(r["id"], r["name"]) for r in rows] == [("1", "ada")]


def test_decode_parses_each_image_once(spark, tmp_path):
    """Each row image is parsed by one from_json in the optimized plan
    of both decode callers, with the fail-the-batch guard and with a
    quarantine path alike (a filter pushed below the decode would copy
    the parse into it). A garbled row of an unreplicated table does
    not fail the batch."""
    from reader_spark.plans.cdc_mysql import decoded_changes, process_batch

    batch = spark.createDataFrame(
        [
            rec(1, "ddl", statement="CREATE TABLE users (id int, name text)"),
            rec(2, "dml", op="c", after='{"id": 1, "name": "ada"}'),
            rec(3, "dml", op="u", before='{"id": 1, "name": "ada"}',
                after='{"id": 1, "name": "ada2"}'),
            rec(4, "dml", tbl="other", op="c", after='{"id": 2, '),
        ]
    )
    frames = {
        "process_batch": process_batch(batch, SchemaAdapter(), "app", ["users"]),
        "quarantine": process_batch(
            batch, SchemaAdapter(), "app", ["users"],
            quarantine_path=str(tmp_path / "dlq"),
        ),
        "decoded_changes": decoded_changes(
            batch, SchemaAdapter(), "app", ["users"]
        ),
    }
    for name, out in frames.items():
        plan = out["users"]._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("from_json(") == 2, (name, plan)
        assert out["users"].count() == 2, name
    got = frames["decoded_changes"]["users"].collect()
    assert {(r["id"], r["name"], r["op"]) for r in got} == {
        ("1", "ada", "c"), ("1", "ada2", "u"),
    }


def test_unmatched_ddl_quarantined_not_silently_dropped(spark, tmp_path):
    """A schema-mutating-shaped DDL the dispatcher has no rule for
    (here: ALTER ... PARTITION BY) must land in the dead-letter log
    with its position — the reference's full grammar can't silently
    miss these — while the stream keeps decoding (verdict r4 #6)."""
    from reader_spark.plans.cdc_mysql import process_batch

    qdir = str(tmp_path / "dlq_ddl")
    batch = spark.createDataFrame(
        [
            rec(1, "ddl", statement="CREATE TABLE users (id int, name text)"),
            rec(2, "ddl",
                statement="ALTER TABLE users PARTITION BY HASH(id) PARTITIONS 4"),
            rec(3, "dml", op="u",
                before='{"id": 1, "name": "ad"}',
                after='{"id": 1, "name": "ada"}'),
        ]
    )
    adapter = SchemaAdapter()
    out = process_batch(
        batch, adapter, "app", ["users"], quarantine_path=qdir
    )
    # stream continues: the healthy DML still publishes
    assert out["users"].count() == 1
    # adapter drained; quarantine row carries statement + position
    assert adapter.unmatched == []
    bad = spark.read.json(f"{qdir}/_ddl").collect()
    assert len(bad) == 1
    assert "PARTITION BY" in bad[0]["statement"]
    assert bad[0]["tbl"] == "users" and bad[0]["unix_ts"] == 200
    # benign idempotent ALTERs (ADD of an existing column) are NOT
    # quarantined
    batch2 = spark.createDataFrame(
        [
            rec(4, "ddl", statement="ALTER TABLE users ADD COLUMN name text"),
            rec(5, "dml", op="u",
                before='{"id": 1, "name": "ada"}',
                after='{"id": 1, "name": "adah"}'),
        ]
    )
    process_batch(batch2, adapter, "app", ["users"], quarantine_path=qdir)
    assert spark.read.json(f"{qdir}/_ddl").count() == 1


def test_merge_pipeline_drains_unmatched_ddl(spark, tmp_path, caplog):
    """The Transfer merge path runs the same gate chain as the
    envelope path: an unmatched ALTER against a replicated table is
    logged and drained, not left queued, while the DML still merges."""
    import logging

    from reader_spark.plans.cdc_mysql import run_pipeline_merge

    log = tmp_path / "log"
    log.mkdir()
    dest = str(tmp_path / "dest")
    _append(log / "binlog.jsonl", [
        rec(1, "ddl", statement="CREATE TABLE users (id int, name text)"),
        rec(2, "ddl",
            statement="ALTER TABLE users PARTITION BY HASH(id) PARTITIONS 4"),
        rec(3, "dml", op="c", after='{"id": 1, "name": "ada"}'),
    ])
    adapter = SchemaAdapter()
    with caplog.at_level(logging.WARNING, logger="reader_spark.plans.cdc_mysql"):
        q = run_pipeline_merge(spark, str(log), dest, str(tmp_path / "ck"),
                               "app", ["users"], adapter, n_buckets=4)
        q.awaitTermination(90)
    assert q.exception() is None
    assert adapter.unmatched == []
    assert any(
        "unmatched DDL" in r.getMessage() and "PARTITION BY" in r.getMessage()
        for r in caplog.records
    )
    rows = spark.read.parquet(f"{dest}/users").collect()
    assert [(r["id"], r["name"]) for r in rows] == [("1", "ada")]


def test_quarantine_skips_clean_batches(spark, tmp_path):
    """A fully-healthy batch must not create (empty) quarantine
    output dirs — the write is gated on an existence probe (r4
    advice: the unconditional append evaluated the batch twice and
    littered empty dirs; replayed appends were not dedupable)."""
    import os

    from reader_spark.plans.cdc_mysql import process_batch

    qdir = str(tmp_path / "dlq_clean")
    batch = spark.createDataFrame(
        [
            rec(1, "ddl", statement="CREATE TABLE users (id int, name text)"),
            rec(2, "dml", op="c", after='{"id": 1, "name": "ada"}'),
            rec(3, "dml", op="u",
                before='{"id": 2, "name": "bo"}',
                after='{"id": 2, "name": "bob"}'),
        ]
    )
    out = process_batch(
        batch, SchemaAdapter(), "app", ["users"], quarantine_path=qdir
    )
    assert out["users"].count() == 2
    assert not os.path.exists(f"{qdir}/users")


def test_streaming_merge_scd2_history(spark, tmp_path):
    """CDC stream -> SCD2 sink: the destination keeps EVERY version
    as a [eff_from, eff_to) interval on the binlog seq; updates chain,
    deletes close without reopening, live rows are open."""
    from reader_spark.operators.transfer import TransferWriter
    from reader_spark.plans.cdc_mysql import run_pipeline_merge

    log = tmp_path / "log"
    log.mkdir()
    dest = str(tmp_path / "dest_scd2")
    ck = str(tmp_path / "ck_scd2")

    _append(log / "binlog.jsonl", [
        rec(1, "ddl", statement="CREATE TABLE users (id int, name text)"),
        rec(2, "dml", op="c", after='{"id": 1, "name": "ada"}'),
        rec(3, "dml", op="c", after='{"id": 2, "name": "bob"}'),
    ])
    adapter = SchemaAdapter()
    q = run_pipeline_merge(spark, str(log), dest, ck, "app", ["users"],
                           adapter, scd2=True)
    q.awaitTermination(90)
    _append(log / "binlog.jsonl", [
        rec(4, "dml", op="u", before='{"id": 1, "name": "ada"}',
            after='{"id": 1, "name": "ada2"}'),
        rec(5, "dml", op="d", before='{"id": 2, "name": "bob"}'),
    ])
    q2 = run_pipeline_merge(spark, str(log), dest, ck, "app", ["users"],
                            adapter, scd2=True)
    q2.awaitTermination(90)

    rows = sorted(
        (r["id"], r["name"], int(r["eff_from"]),
         None if r["eff_to"] is None else int(r["eff_to"]))
        for r in TransferWriter(spark, dest).read("users")
        .drop("bucket").collect()
    )
    assert rows == [
        ("1", "ada", 2, 4),
        ("1", "ada2", 4, None),
        ("2", "bob", 3, 5),
    ]


def test_streaming_merge_scd2_bucketed_history(spark, tmp_path):
    """CDC stream -> SCD2 sink with an explicit bucket count: the
    history is bucket-partitioned and each batch rewrites only touched
    buckets, with the same interval rows as the default layout."""
    import os

    from reader_spark.operators.transfer import TransferWriter
    from reader_spark.plans.cdc_mysql import run_pipeline_merge

    log = tmp_path / "log"
    log.mkdir()
    dest = str(tmp_path / "dest_scd2b")
    ck = str(tmp_path / "ck_scd2b")

    _append(log / "binlog.jsonl", [
        rec(1, "ddl", statement="CREATE TABLE users (id int, name text)"),
        rec(2, "dml", op="c", after='{"id": 1, "name": "ada"}'),
        rec(3, "dml", op="c", after='{"id": 2, "name": "bob"}'),
    ])
    adapter = SchemaAdapter()
    q = run_pipeline_merge(spark, str(log), dest, ck, "app", ["users"],
                           adapter, scd2=True, n_buckets=4)
    q.awaitTermination(90)
    _append(log / "binlog.jsonl", [
        rec(4, "dml", op="u", before='{"id": 1, "name": "ada"}',
            after='{"id": 1, "name": "ada2"}'),
        rec(5, "dml", op="d", before='{"id": 2, "name": "bob"}'),
    ])
    q2 = run_pipeline_merge(spark, str(log), dest, ck, "app", ["users"],
                            adapter, scd2=True, n_buckets=4)
    q2.awaitTermination(90)

    writer = TransferWriter(spark, dest)
    # bucket-partitioned layout on disk
    assert any(
        d.startswith("bucket=") for d in os.listdir(writer._data_root("users"))
    )
    rows = sorted(
        (r["id"], r["name"], int(r["eff_from"]),
         None if r["eff_to"] is None else int(r["eff_to"]))
        for r in writer.read("users").drop("bucket").collect()
    )
    assert rows == [
        ("1", "ada", 2, 4),
        ("1", "ada2", 4, None),
        ("2", "bob", 3, 5),
    ]


def test_pipeline_capped_trigger_drains_exactly_once(spark, tmp_path):
    """B3 through the COMPOSED pipeline: run_pipeline with
    max_per_trigger drains a backlog across several bounded batches
    and driver restarts, publishing each envelope exactly once (the
    restart-floor contract end-to-end)."""
    log = tmp_path / "log"
    log.mkdir()
    sink = str(tmp_path / "sink")
    ck = str(tmp_path / "ck")

    _append(log / "binlog.jsonl", [
        rec(1, "ddl", statement="CREATE TABLE users (id int, name text)"),
        *[rec(i, "dml", op="c", after=f'{{"id": {i}, "name": "u{i}"}}')
          for i in range(2, 12)],
    ])
    adapter = SchemaAdapter()
    # each drain is a fresh driver; the cap bounds every micro-batch
    for _ in range(10):
        q = run_pipeline(spark, str(log), sink, ck, "app", ["users"],
                         adapter, max_per_trigger=3)
        q.awaitTermination(90)
        try:
            n = spark.read.parquet(f"{sink}/users").count()
        except Exception:
            n = 0
        if n == 10:
            break
    rows = [json.loads(r["value"])["payload"]["after"]["id"]
            for r in spark.read.parquet(f"{sink}/users").collect()]
    assert sorted(rows) == sorted(set(rows)), f"duplicates: {rows}"
    assert sorted(int(i) for i in rows) == list(range(2, 12))


def test_merge_pipeline_destination_evolves_on_alter_add(spark, tmp_path):
    """Mid-stream ALTER ADD COLUMN must reach the MERGED destination:
    decode widens (SchemaAdapter) and the warehouse MERGE evolves
    (align_schemas) — pre-ALTER rows read NULL for the new column, no
    row lost, no crashed load. The reference's end-to-end schema
    contract (debezium schema carriage -> destination evolution)."""
    from reader_spark.plans.cdc_mysql import run_pipeline_merge

    log = tmp_path / "log"
    log.mkdir()
    dest = str(tmp_path / "dest")
    ck = str(tmp_path / "ck")
    hist = str(tmp_path / "history.jsonl")

    _append(log / "binlog.jsonl", [
        rec(1, "ddl", statement="CREATE TABLE users (id int, name text)"),
        rec(2, "dml", op="c", after='{"id": 1, "name": "ada"}'),
        rec(3, "dml", op="c", after='{"id": 2, "name": "bob"}'),
    ])
    adapter = SchemaAdapter()
    q = run_pipeline_merge(spark, str(log), dest, ck, "app", ["users"],
                           adapter, history_path=hist)
    q.awaitTermination(90)

    _append(log / "binlog.jsonl", [
        rec(4, "ddl", statement="ALTER TABLE users ADD COLUMN email text"),
        rec(5, "dml", op="u",
            before='{"id": 1, "name": "ada", "email": null}',
            after='{"id": 1, "name": "ada", "email": "a@x.io"}'),
        rec(6, "dml", op="c",
            after='{"id": 3, "name": "cyd", "email": "c@x.io"}'),
    ])
    q2 = run_pipeline_merge(
        spark, str(log), dest, ck, "app", ["users"],
        SchemaAdapter.replay(hist), history_path=hist,
    )
    q2.awaitTermination(90)

    from reader_spark.operators.transfer import TransferWriter

    got = {
        r["id"]: (r["name"], r["email"])
        for r in TransferWriter(spark, dest).read("users").collect()
    }
    assert got == {
        "1": ("ada", "a@x.io"),  # updated through the evolved merge
        "2": ("bob", None),      # pre-ALTER row: evolved NULL
        "3": ("cyd", "c@x.io"),  # post-ALTER insert carries the column
    }


@pytest.mark.slow  # r13 tier: see pytest.ini
def test_truncate_mid_stream_empties_merged_destination(spark, tmp_path):
    """A replicated TRUNCATE TABLE maps onto the transfer truncate
    verb (writer.go:310-327): the merged destination empties behind a
    pointer flip, same-batch DML at-or-before the truncate's log
    position is discarded (the source wiped those rows too), and
    subsequent inserts apply onto the cleared state."""
    from reader_spark.operators.transfer import TransferWriter
    from reader_spark.plans.cdc_mysql import run_pipeline_merge

    log = tmp_path / "log"
    log.mkdir()
    dest = str(tmp_path / "dest")
    ck = str(tmp_path / "ck")

    _append(log / "binlog.jsonl", [
        rec(1, "ddl", statement="CREATE TABLE users (id int, name text)"),
        rec(2, "dml", op="c", after='{"id": 1, "name": "ada"}'),
        rec(3, "dml", op="c", after='{"id": 2, "name": "bob"}'),
    ])
    adapter = SchemaAdapter()
    q = run_pipeline_merge(spark, str(log), dest, ck, "app", ["users"],
                           adapter, n_buckets=4)
    q.awaitTermination(90)
    writer = TransferWriter(spark, dest)
    assert writer.read("users").count() == 2

    # one batch carrying: a pre-truncate insert (wiped at the source
    # before it could survive), the TRUNCATE, then fresh inserts
    _append(log / "binlog.jsonl", [
        rec(4, "dml", op="c", after='{"id": 9, "name": "doomed"}'),
        rec(5, "ddl", statement="TRUNCATE TABLE users"),
        rec(6, "dml", op="c", after='{"id": 3, "name": "cy"}'),
        rec(7, "dml", op="u", before='{"id": 3, "name": "cy"}',
            after='{"id": 3, "name": "cy2"}'),
    ])
    q2 = run_pipeline_merge(spark, str(log), dest, ck, "app", ["users"],
                            adapter, n_buckets=4)
    q2.awaitTermination(90)

    got = {r["id"]: r["name"] for r in writer.read("users").collect()}
    assert got == {"3": "cy2"}  # pre-truncate rows + doomed insert gone
    # schema untouched: TRUNCATE is a data op, no history version cut
    assert adapter.tables["users"] == ["id", "name"]
    assert all(
        "TRUNCATE" not in h["statement"].upper() for h in adapter.history
    )
    assert adapter.truncates == []  # drained, not leaked

    # inserts after the truncate batch still apply onto cleared state
    _append(log / "binlog.jsonl", [
        rec(8, "dml", op="c", after='{"id": 4, "name": "di"}'),
    ])
    q3 = run_pipeline_merge(spark, str(log), dest, ck, "app", ["users"],
                            adapter, n_buckets=4)
    q3.awaitTermination(90)
    got = {r["id"]: r["name"] for r in writer.read("users").collect()}
    assert got == {"3": "cy2", "4": "di"}


def test_truncate_foreign_db_and_unknown_table_ignored(spark, tmp_path):
    """TRUNCATE against another database's table or an unreplicated
    table never queues a destination clear (ShouldReplicate gate,
    sources/mysql/streaming/dml.go:24-40)."""
    a = SchemaAdapter(database="app")
    a.apply_ddl("CREATE TABLE users (id int, name text)", 1, seq=1)
    assert not a.apply_ddl("TRUNCATE TABLE otherdb.users", 2, seq=2)
    assert not a.apply_ddl("TRUNCATE TABLE ghosts", 3, seq=3)
    assert a.truncates == []
    # replicated table, bare + qualified + no-TABLE-keyword forms
    a.apply_ddl("TRUNCATE TABLE users", 4, seq=4)
    a.apply_ddl("TRUNCATE app.users;", 5, seq=5)
    a.apply_ddl("/* gh-ost */ TRUNCATE `users`", 6, seq=6)
    assert [t["seq"] for t in a.truncates] == [4, 5, 6]
    assert all(t["table"] == "users" for t in a.truncates)
    assert a.tables["users"] == ["id", "name"]


def test_truncate_scd2_closes_intervals_keeps_history(spark, tmp_path):
    """TRUNCATE against an SCD2 destination closes every open
    interval at the truncate's log position instead of wiping the
    table — the rows ceased to exist, their history did not. Fresh
    post-truncate inserts open new chains."""
    from reader_spark.operators.transfer import TransferWriter
    from reader_spark.plans.cdc_mysql import run_pipeline_merge

    log = tmp_path / "log"
    log.mkdir()
    dest = str(tmp_path / "dest_scd2t")
    ck = str(tmp_path / "ck_scd2t")

    _append(log / "binlog.jsonl", [
        rec(1, "ddl", statement="CREATE TABLE users (id int, name text)"),
        rec(2, "dml", op="c", after='{"id": 1, "name": "ada"}'),
        rec(3, "dml", op="c", after='{"id": 2, "name": "bob"}'),
    ])
    adapter = SchemaAdapter()
    q = run_pipeline_merge(
        spark, str(log), dest, ck, "app", ["users"], adapter,
        scd2=True, n_buckets=4,
    )
    q.awaitTermination(90)

    _append(log / "binlog.jsonl", [
        rec(5, "ddl", statement="TRUNCATE TABLE users"),
        rec(6, "dml", op="c", after='{"id": 3, "name": "cy"}'),
    ])
    q2 = run_pipeline_merge(
        spark, str(log), dest, ck, "app", ["users"], adapter,
        scd2=True, n_buckets=4,
    )
    q2.awaitTermination(90)

    writer = TransferWriter(spark, dest)
    rows = sorted(
        (r["id"], r["name"], int(r["eff_from"]),
         None if r["eff_to"] is None else int(r["eff_to"]))
        for r in writer.read("users").collect()
    )
    # pre-truncate rows: history KEPT, intervals closed at seq 5;
    # the post-truncate insert opens a fresh chain
    assert rows == [
        ("1", "ada", 2, 5),
        ("2", "bob", 3, 5),
        ("3", "cy", 6, None),
    ]
    # crash-replay is batch-level: the replayed batch re-closes (a
    # no-op on already-closed intervals — coalesce fills NULLs only)
    # and re-merges its own post-truncate DML, landing the same state;
    # a direct re-close alone is NOT the replay unit.
