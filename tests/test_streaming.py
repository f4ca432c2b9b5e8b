"""Streaming CDC pipeline: the live logtail path end-to-end
(gate chain -> decode -> envelope -> checkpointed sink), schema history
replay, as-of version resolution, watermark windowed agg."""

import json

from pyspark.sql import functions as F
from pyspark.sql import types as T

from reader_spark.plans.cdc_mysql import BINLOG_SCHEMA, process_batch, run_pipeline
from reader_spark.streaming import cdc
from reader_spark.streaming.schema_history import (
    SchemaAdapter,
    asof_schema_version,
)


def _append(path, records):
    with open(path, "a") as f:
        for r in records:
            f.write(json.dumps(r) + "\n")


def rec(seq, kind, **kw):
    base = {
        "seq": seq, "ts_ms": seq * 1000, "db": "d", "tbl": "t",
        "kind": kind, "op": None, "gtid_sid": "s1", "gtid_tx": seq,
        "statement": None, "before": None, "after": None,
    }
    base.update(kw)
    return base


def write_log(tmp_path):
    log = tmp_path / "log"
    log.mkdir()
    _append(log / "binlog.jsonl", [
        rec(1, "ddl", statement="CREATE TABLE t (id int, v text)"),
        rec(2, "dml", op="c", after='{"id": 1, "v": "a"}'),
        rec(3, "dml", op="u", before='{"id": 1, "v": "a"}',
            after='{"id": 1, "v": "b"}'),
        rec(4, "ddl", statement="BEGIN"),  # skip-listed
        rec(5, "ddl", statement="ALTER TABLE t ADD COLUMN w int"),
        rec(6, "dml", op="d", before='{"id": 1, "v": "b"}'),
        rec(7, "dml", db="other", op="c", after='{"id": 9, "v": "x"}'),
        rec(8, "bookkeeping"),
    ])
    return str(log)


def test_cdc_stream_end_to_end(spark, tmp_path):
    sink = str(tmp_path / "sink")
    q = run_pipeline(spark, write_log(tmp_path), sink,
                     str(tmp_path / "ckpt"), "d", ["t"])
    q.awaitTermination(60)
    out = spark.read.parquet(f"{sink}/t").collect()
    assert len(out) == 3  # c, u, d for db 'd' only
    by_op = {json.loads(r["value"])["payload"]["op"]: r for r in out}
    assert set(by_op) == {"c", "u", "d"}
    # delete keys off before; key carries the PrimaryKeyPayload wrapper.
    # The decode is all-string; typing is the converter layer's (P3).
    assert json.loads(by_op["d"]["key"])["payload"] == {"id": "1"}
    # the batch decodes against its schema after its DDL (w added)
    assert json.loads(by_op["u"]["value"])["payload"]["after"] == {
        "id": "1", "v": "b", "w": None,
    }
    assert all(r["topic"] == "cdc.d.t" for r in out)


def test_ddl_routing_applies_skip_list(spark, tmp_path):
    batch = spark.read.schema(BINLOG_SCHEMA).json(write_log(tmp_path))
    sa = SchemaAdapter()
    process_batch(batch, sa, "d", ["t"])
    stmts = [h["statement"] for h in sa.history]
    assert "BEGIN" not in stmts
    assert stmts == [
        "CREATE TABLE t (id int, v text)", "ALTER TABLE t ADD COLUMN w int",
    ]


def test_checkpoint_no_reprocess_on_restart(spark, tmp_path):
    """Write-then-commit contract (writer.go:44-50): a restarted query
    with the same checkpoint must not re-emit processed batches."""
    log = write_log(tmp_path)
    ck = str(tmp_path / "ckpt2")
    sink = str(tmp_path / "sink2")
    adapter = SchemaAdapter()

    def run_once():
        run_pipeline(spark, log, sink, ck, "d", ["t"], adapter).awaitTermination(60)
        return spark.read.parquet(f"{sink}/t").count()

    n1 = run_once()
    n2 = run_once()  # restart on same checkpoint: no new input -> no new rows
    assert n1 == 3 and n2 == 3


def test_schema_adapter_ddl_sequence(tmp_path):
    sa = SchemaAdapter()
    assert sa.apply_ddl("CREATE TABLE t (id int, v text, PRIMARY KEY (id))", 100)
    assert sa.tables["t"] == ["id", "v"]
    assert sa.apply_ddl("ALTER TABLE t ADD COLUMN w int", 200)
    assert sa.tables["t"] == ["id", "v", "w"]
    assert sa.apply_ddl("ALTER TABLE t RENAME COLUMN v TO vv", 300)
    assert sa.tables["t"] == ["id", "vv", "w"]
    assert sa.apply_ddl("ALTER TABLE t DROP COLUMN w", 400)
    assert sa.tables["t"] == ["id", "vv"]
    assert not sa.apply_ddl("BEGIN", 500)  # skip-list
    assert sa.apply_ddl("RENAME TABLE t TO t2", 600)
    assert "t2" in sa.tables and "t" not in sa.tables
    # replayable history (iterator.go:26-70)
    path = str(tmp_path / "history.jsonl")
    sa.dump(path)
    sa2 = SchemaAdapter.replay(path)
    assert sa2.tables == sa.tables
    assert len(sa2.history) == 5


def test_schema_adapter_foreign_database_is_noop():
    """DDL qualified with ANOTHER database must never mutate the
    replicated registry (reference ShouldReplicate, sources/mysql/
    streaming/dml.go:24-40): `ALTER TABLE otherdb.users DROP COLUMN`
    corrupting app.users would poison every later positional decode."""
    sa = SchemaAdapter(database="app")
    assert sa.apply_ddl("CREATE TABLE users (id int, name text, c int)", 100)
    snap = list(sa.tables["users"])

    # every mutating statement shape, aimed at otherdb
    assert not sa.apply_ddl(
        "ALTER TABLE otherdb.users DROP COLUMN c", 200
    )
    assert not sa.apply_ddl(
        "ALTER TABLE `otherdb`.`users` ADD COLUMN z int", 210
    )
    assert not sa.apply_ddl(
        "CREATE TABLE otherdb.users (a int, b int)", 220
    )
    assert not sa.apply_ddl("DROP TABLE otherdb.users", 230)
    assert not sa.apply_ddl(
        "RENAME TABLE otherdb.users TO otherdb.users2", 240
    )
    assert not sa.apply_ddl(
        "CREATE TABLE users_copy LIKE otherdb.users", 250
    )
    assert sa.tables == {"users": snap}
    assert len(sa.history) == 1
    assert not sa.unmatched  # foreign DDL is dropped, not quarantined

    # same-db qualified statements still apply
    assert sa.apply_ddl("ALTER TABLE app.users DROP COLUMN c", 300)
    assert sa.tables["users"] == ["id", "name"]
    assert sa.apply_ddl("ALTER TABLE `app`.users ADD COLUMN e text", 310)
    assert sa.tables["users"] == ["id", "name", "e"]

    # rename OUT of the replicated database: the table leaves
    assert sa.apply_ddl("RENAME TABLE app.users TO otherdb.users", 400)
    assert "users" not in sa.tables

    # a database-less adapter keeps the permissive legacy behavior
    sb = SchemaAdapter()
    sb.apply_ddl("CREATE TABLE t (id int, v int)", 100)
    assert sb.apply_ddl("ALTER TABLE anydb.t DROP COLUMN v", 200)
    assert sb.tables["t"] == ["id"]


def test_process_batch_filters_foreign_ddl_rows(spark, tmp_path):
    """The foreachBatch body drops DDL rows whose binlog schema
    context is another database — same row-level gate DML already
    has (plans/cdc_mysql.py)."""
    from reader_spark.plans.cdc_mysql import process_batch

    rows = [
        (1, 100, "app", "users", "ddl", None,
         "CREATE TABLE users (id int, name text)", None, None, "s1", 1),
        (2, 200, "otherdb", "users", "ddl", None,
         "ALTER TABLE users DROP COLUMN name", None, None, "s1", 2),
        (3, 300, "app", "users", "dml", "c",
         None, None, '{"id": 1, "name": "ada"}', "s1", 3),
    ]
    batch = spark.createDataFrame(
        rows,
        "seq long, ts_ms long, db string, tbl string, kind string,"
        " op string, statement string, before string, after string,"
        " gtid_sid string, gtid_tx long",
    )
    sa = SchemaAdapter()
    out = process_batch(batch, sa, "app", ["users"])
    assert sa.database == "app"
    # otherdb's session-context DDL was dropped at the row gate
    assert sa.tables["users"] == ["id", "name"]
    assert out["users"].count() == 1


def test_schema_adapter_modify_change_columns(tmp_path):
    # MySQL's most common type-evolution statements (MODIFY / CHANGE,
    # lib/antlr/alter_table.go:53-93): type changes cut a new version,
    # CHANGE renames, FIRST/AFTER reorders the POSITIONAL decode order
    # (ddl.go:170-204).
    sa = SchemaAdapter()
    assert sa.apply_ddl("CREATE TABLE t (id int, a int, b text, c int)", 100)
    # bare MODIFY: type-only change — name list identical, but a new
    # history version is cut (old rows decode under the old type)
    assert sa.apply_ddl("ALTER TABLE t MODIFY COLUMN a bigint", 200)
    assert sa.tables["t"] == ["id", "a", "b", "c"]
    assert len(sa.history) == 2
    # MODIFY ... AFTER: repositions (changes every later positional row)
    assert sa.apply_ddl("ALTER TABLE t MODIFY a int AFTER b", 300)
    assert sa.tables["t"] == ["id", "b", "a", "c"]
    # MODIFY ... FIRST
    assert sa.apply_ddl("ALTER TABLE t MODIFY COLUMN c decimal(10,2) FIRST", 400)
    assert sa.tables["t"] == ["c", "id", "b", "a"]
    # CHANGE = rename + type (+ optional position)
    assert sa.apply_ddl("ALTER TABLE t CHANGE COLUMN b bb varchar(255)", 500)
    assert sa.tables["t"] == ["c", "id", "bb", "a"]
    assert sa.apply_ddl("ALTER TABLE t CHANGE a aa bigint AFTER id", 600)
    assert sa.tables["t"] == ["c", "id", "aa", "bb"]
    # multi-spec ALTER (comma-separated, as the reference's
    # AllAlterSpecification loop handles)
    assert sa.apply_ddl(
        "ALTER TABLE t ADD COLUMN d decimal(8,3), DROP COLUMN c, MODIFY bb text", 700
    )
    assert sa.tables["t"] == ["id", "aa", "bb", "d"]
    # unknown column / unknown table mutate nothing
    assert not sa.apply_ddl("ALTER TABLE t MODIFY nosuch int", 800)
    assert not sa.apply_ddl("ALTER TABLE missing MODIFY a int", 900)
    # JSONL replay reproduces the evolved positional order
    path = str(tmp_path / "history.jsonl")
    sa.dump(path)
    sa2 = SchemaAdapter.replay(path)
    assert sa2.tables["t"] == ["id", "aa", "bb", "d"]
    assert len(sa2.history) == 7


def test_schema_adapter_create_table_like(tmp_path):
    # CREATE TABLE ... LIKE clones the source's column list into a new
    # adapter (CopyTableEvent, lib/antlr/types.go:75-88 applied at
    # ddl.go:79-91; parse forms create_table_test.go:19-42). A LIKE
    # mid-stream that was silently ignored would corrupt every later
    # positional decode of the clone.
    sa = SchemaAdapter()
    assert sa.apply_ddl("CREATE TABLE src (id int, v text, w int)", 100)
    # bare form
    assert sa.apply_ddl("CREATE TABLE c1 LIKE src", 200)
    assert sa.tables["c1"] == ["id", "v", "w"]
    # parenthesized form must NOT mis-parse as a column list
    assert sa.apply_ddl("CREATE TABLE c2 (LIKE src)", 300)
    assert sa.tables["c2"] == ["id", "v", "w"]
    # db-qualified + IF NOT EXISTS + backticks + trailing semicolon
    assert sa.apply_ddl(
        "CREATE TABLE IF NOT EXISTS `db`.`c3` LIKE `db`.`src`;", 400
    )
    assert sa.tables["c3"] == ["id", "v", "w"]
    # the clone is independent state: evolving it leaves src alone
    assert sa.apply_ddl("ALTER TABLE c1 ADD COLUMN z int", 500)
    assert sa.tables["c1"] == ["id", "v", "w", "z"]
    assert sa.tables["src"] == ["id", "v", "w"]
    # unknown source mutates nothing (reference errors; tolerant here)
    assert not sa.apply_ddl("CREATE TABLE c4 LIKE missing", 600)
    assert "c4" not in sa.tables
    # JSONL replay reproduces the clone
    path = str(tmp_path / "history.jsonl")
    sa.dump(path)
    sa2 = SchemaAdapter.replay(path)
    assert sa2.tables["c2"] == ["id", "v", "w"]
    assert len(sa2.history) == 5


def test_modify_change_versions_resolve_asof(spark, tmp_path):
    # the history versions cut by MODIFY/CHANGE resolve through the
    # as-of join like any other schema version
    sa = SchemaAdapter()
    sa.apply_ddl("CREATE TABLE t (id int, v int)", 100)
    sa.apply_ddl("ALTER TABLE t MODIFY v bigint", 200)
    sa.apply_ddl("ALTER TABLE t CHANGE v val bigint", 300)
    history = spark.createDataFrame(
        [(h["unix_ts"], h["statement"]) for h in sa.history],
        ["unix_ts", "statement"],
    )
    events = spark.createDataFrame(
        [(1, 150), (2, 250), (3, 350)], ["event_id", "ts_ms"]
    )
    out = {
        r["event_id"]: r["schema_version_ts"]
        for r in asof_schema_version(events, history, "event_id").collect()
    }
    assert out == {1: 100, 2: 200, 3: 300}


def test_asof_schema_version(spark):
    events = spark.createDataFrame(
        [(1, 50), (2, 150), (3, 250), (4, 1000)], ["event_id", "ts_ms"]
    )
    history = spark.createDataFrame(
        [(100, "v1"), (200, "v2")], ["unix_ts", "statement"]
    )
    out = {
        r["event_id"]: (r["schema_version_ts"], r["schema_statement"])
        for r in asof_schema_version(events, history, "event_id").collect()
    }
    assert out[1] == (None, None)      # pre-history -> dropped by caller
    assert out[2] == (100, "v1")
    assert out[3] == (200, "v2")
    assert out[4] == (200, "v2")


def test_windowed_counts_with_watermark(spark, tmp_path):
    rows = [
        {"ts": "2024-01-01T00:00:30", "event_type": "a", "value": 1.0},
        {"ts": "2024-01-01T00:01:30", "event_type": "a", "value": 2.0},
        {"ts": "2024-01-01T00:07:00", "event_type": "b", "value": 3.0},
    ]
    p = tmp_path / "ev"
    p.mkdir()
    with open(p / "e.json", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    schema = T.StructType([
        T.StructField("ts", T.TimestampType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ])
    stream = spark.readStream.schema(schema).json(str(p))
    agg = cdc.windowed_event_counts(stream, window="5 minutes")
    q = (agg.writeStream.outputMode("complete").format("memory")
         .queryName("win_out").trigger(availableNow=True)
         .option("checkpointLocation", str(tmp_path / "ckpt3")).start())
    q.awaitTermination(60)
    out = spark.sql("SELECT * FROM win_out ORDER BY window_start").collect()
    assert [(r["event_type"], r["n"]) for r in out] == [("a", 2), ("b", 1)]


def _event_rows():
    base = 1_700_000_000
    return [
        {"event_id": i, "ts_s": base + i * 60, "user_id": u, "kind": k}
        for i, (u, k) in enumerate(
            [(1, "click"), (1, "buy"), (2, "click"), (2, "click"), (3, "buy")]
        )
    ]


def _write_jsonl(tmp_path, name, rows):
    d = tmp_path / name
    d.mkdir()
    (d / "part-0.json").write_text("\n".join(json.dumps(r) for r in rows))
    return str(d)


def _ts_stream(spark, path):
    import pyspark.sql.types as T

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts_s", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("kind", T.StringType()),
        ]
    )
    return (
        spark.readStream.schema(schema)
        .json(path)
        .withColumn("ts", F.timestamp_seconds(F.col("ts_s")))
    )


def test_stream_stream_interval_join(spark, tmp_path):
    rows = _event_rows()
    clicks = [r for r in rows if r["kind"] == "click"]
    buys = [dict(r, event_id=r["event_id"] + 100) for r in rows if r["kind"] == "buy"]
    left = _ts_stream(spark, _write_jsonl(tmp_path, "clicks", clicks))
    right = _ts_stream(spark, _write_jsonl(tmp_path, "buys", buys))
    j = cdc.interval_join_streams(
        left.select("user_id", "ts", F.col("event_id").alias("click_id")),
        right.select("user_id", "ts", F.col("event_id").alias("buy_id")),
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        max_delay="10 minutes",
    )
    q = (
        j.select("click_id", "buy_id")
        .writeStream.format("memory")
        .queryName("ssj_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_ssj"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {(r["click_id"], r["buy_id"]) for r in spark.sql("SELECT * FROM ssj_out").collect()}
    # user 1: click at t0, buy at t0+60s -> within 10 min. users 2/3: no pair.
    assert got == {(0, 101)}


def test_stream_dedupe_within_watermark(spark, tmp_path):
    rows = _event_rows()
    dup = rows + [dict(rows[0])] + [dict(rows[2])]  # two exact dup arrivals
    src = _ts_stream(spark, _write_jsonl(tmp_path, "dups", dup))
    out = cdc.dedupe_stream_within_watermark(src, ["event_id"], ts_col="ts")
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_dd"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    ids = sorted(r["event_id"] for r in spark.sql("SELECT event_id FROM dedup_out").collect())
    assert ids == [0, 1, 2, 3, 4]


def test_sliding_window_counts_stream(spark, tmp_path):
    # 10-min window sliding every 5: each event must appear in
    # exactly 2 windows; counts per window reflect overlap
    rows = [
        {"ts": "2024-01-01T00:01:00", "event_type": "a", "value": 1.0},
        {"ts": "2024-01-01T00:06:00", "event_type": "a", "value": 1.0},
    ]
    p = tmp_path / "ev_slide"
    p.mkdir()
    with open(p / "e.json", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    schema = T.StructType([
        T.StructField("ts", T.TimestampType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ])
    stream = spark.readStream.schema(schema).json(str(p))
    agg = cdc.windowed_event_counts(
        stream, window="10 minutes", slide="5 minutes"
    )
    q = (agg.writeStream.outputMode("complete").format("memory")
         .queryName("slide_out").trigger(availableNow=True)
         .option("checkpointLocation", str(tmp_path / "ckpt_slide")).start())
    q.awaitTermination(60)
    out = spark.sql(
        "SELECT window_start, n FROM slide_out ORDER BY window_start"
    ).collect()
    # windows: 23:55-00:05 (ev1), 00:00-00:10 (both), 00:05-00:15 (ev2)
    assert [r["n"] for r in out] == [1, 2, 1]
    total = sum(r["n"] for r in out)
    assert total == 2 * len(rows)  # every event in exactly 2 windows


def test_maintain_rollup_incremental_matches_batch(spark, tmp_path):
    # two appends; after each run the materialized rollup equals the
    # full batch recompute over everything seen so far — history is
    # never recomputed, only changed (window, key) rows merge
    src = tmp_path / "roll_ev"
    src.mkdir()
    dest = str(tmp_path / "roll_dest")
    ck = str(tmp_path / "roll_ck")
    schema = T.StructType([
        T.StructField("ts", T.TimestampType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ])

    def write_batch(name, rows):
        with open(src / name, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    def run():
        stream = spark.readStream.schema(schema).json(str(src))
        q = cdc.maintain_rollup(spark, stream, dest, ck)
        q.awaitTermination(90)

    def batch_recompute():
        df = spark.read.schema(schema).json(str(src))
        return sorted(
            map(tuple, df.groupBy(
                F.date_format(F.window("ts", "1 hour").start,
                              "yyyy-MM-dd HH:mm:ss").alias("window_start"),
                "event_type",
            ).agg(F.count(F.lit(1)).alias("n"),
                  F.sum("value").alias("total_value")).collect())
        )

    write_batch("b1.json", [
        {"ts": "2024-01-01T00:10:00", "event_type": "a", "value": 1.0},
        {"ts": "2024-01-01T00:20:00", "event_type": "a", "value": 2.0},
        {"ts": "2024-01-01T01:05:00", "event_type": "b", "value": 3.0},
    ])
    from reader_spark.operators import atomic_dir

    def read_rollup():
        # the rollup sink upserts via the pointer-flip publish
        return spark.read.parquet(atomic_dir.resolve(f"{dest}/rollup"))

    run()
    got = sorted(map(tuple, read_rollup()
                 .select("window_start", "event_type", "n", "total_value")
                 .collect()))
    assert got == batch_recompute()

    # second increment touches one existing window and adds one new
    write_batch("b2.json", [
        {"ts": "2024-01-01T00:40:00", "event_type": "a", "value": 4.0},
        {"ts": "2024-01-01T02:15:00", "event_type": "c", "value": 5.0},
    ])
    run()
    got2 = sorted(map(tuple, read_rollup()
                  .select("window_start", "event_type", "n", "total_value")
                  .collect()))
    assert got2 == batch_recompute()
    # the updated window reflects BOTH increments
    assert (("2024-01-01 00:00:00", "a", 3, 7.0) in got2)


def test_ddl_multi_table_rename_chain():
    """RENAME TABLE a TO tmp, b TO a, tmp TO b — MySQL's atomic swap
    idiom. Every pair of the chain applies left to right (the r4
    dispatcher only consumed the first pair)."""
    from reader_spark.streaming.schema_history import SchemaAdapter

    ad = SchemaAdapter()
    ad.apply_ddl("CREATE TABLE a (x int, y int)", 1)
    ad.apply_ddl("CREATE TABLE b (p int)", 2)
    assert ad.apply_ddl("RENAME TABLE a TO tmp, b TO a, tmp TO b", 3)
    assert ad.tables["a"] == ["p"] and ad.tables["b"] == ["x", "y"]
    assert "tmp" not in ad.tables
    assert ad.unmatched == []


def test_ddl_alter_rename_to_spec():
    from reader_spark.streaming.schema_history import SchemaAdapter

    ad = SchemaAdapter()
    ad.apply_ddl("CREATE TABLE t (x int)", 1)
    assert ad.apply_ddl("ALTER TABLE t RENAME TO t2", 2)
    assert "t" not in ad.tables and ad.tables["t2"] == ["x"]
    assert ad.unmatched == []


def test_ddl_index_constraint_specs_are_neutral_not_columns():
    """ADD INDEX/PRIMARY KEY/CONSTRAINT and DROP INDEX must neither
    invent columns named 'INDEX'/'PRIMARY' (the latent pre-r5
    misparse) nor quarantine nor cut a schema version."""
    from reader_spark.streaming.schema_history import SchemaAdapter

    ad = SchemaAdapter()
    ad.apply_ddl("CREATE TABLE t (x int, y int)", 1)
    n_hist = len(ad.history)
    for stmt in [
        "ALTER TABLE t ADD INDEX idx_x (x)",
        "ALTER TABLE t ADD UNIQUE KEY uq (y)",
        "ALTER TABLE t ADD PRIMARY KEY (x)",
        "ALTER TABLE t ADD CONSTRAINT fk FOREIGN KEY (y) REFERENCES o(z)",
        "ALTER TABLE t DROP INDEX idx_x",
        "ALTER TABLE t DROP PRIMARY KEY",
        "ALTER TABLE t ALTER COLUMN x SET DEFAULT 5",
        "ALTER TABLE t ALTER y DROP DEFAULT",
        "ALTER TABLE t ENGINE = InnoDB",
        "ALTER TABLE t DEFAULT CHARACTER SET utf8mb4",
    ]:
        assert ad.apply_ddl(stmt, 2) is False, stmt
    assert ad.tables["t"] == ["x", "y"]
    assert len(ad.history) == n_hist  # no version cut
    assert ad.unmatched == []         # recognized, nothing quarantined


def test_ddl_add_multi_column_and_convert_charset():
    from reader_spark.streaming.schema_history import SchemaAdapter

    ad = SchemaAdapter()
    ad.apply_ddl("CREATE TABLE t (x int)", 1)
    assert ad.apply_ddl(
        "ALTER TABLE t ADD COLUMN (a INT, b DECIMAL(10,2), c TEXT)", 2
    )
    assert ad.tables["t"] == ["x", "a", "b", "c"]
    n_hist = len(ad.history)
    # retype-in-place: version cut, column list unchanged, no DLQ
    assert ad.apply_ddl("ALTER TABLE t CONVERT TO CHARACTER SET utf8mb4", 3)
    assert ad.tables["t"] == ["x", "a", "b", "c"]
    assert len(ad.history) == n_hist + 1
    assert ad.unmatched == []
    # a genuinely unknown spec still lands in unmatched
    assert ad.apply_ddl(
        "ALTER TABLE t PARTITION BY HASH(x) PARTITIONS 4", 4
    ) is False
    assert len(ad.unmatched) == 1


def test_ddl_qualified_names_and_multi_drop():
    """db-qualified names (app.users) must resolve, and a multi-table
    DROP list drops every listed table (both were silent no-ops
    before r5)."""
    from reader_spark.streaming.schema_history import SchemaAdapter

    ad = SchemaAdapter()
    assert ad.apply_ddl("CREATE TABLE app.users (id int, name text)", 1)
    assert ad.tables["users"] == ["id", "name"]
    assert ad.apply_ddl("ALTER TABLE `app`.`users` ADD COLUMN email text", 2)
    assert ad.tables["users"] == ["id", "name", "email"]
    ad.apply_ddl("CREATE TABLE t2 (a int)", 3)
    ad.apply_ddl("CREATE TABLE t3 (b int)", 4)
    assert ad.apply_ddl("DROP TABLE IF EXISTS app.t2, t3", 5)
    assert "t2" not in ad.tables and "t3" not in ad.tables
    assert "users" in ad.tables


def test_ddl_string_literals_do_not_split_specs():
    """Commas and unbalanced parens inside DEFAULT/COMMENT string
    literals must not split the spec or column list (the lexical
    guarantee the reference gets from its ANTLR lexer; bare
    paren-depth splitting corrupted these)."""
    from reader_spark.streaming.schema_history import SchemaAdapter

    ad = SchemaAdapter()
    assert ad.apply_ddl(
        "CREATE TABLE t (a INT, b VARCHAR(5) DEFAULT 'x,y', "
        "c TEXT COMMENT 'one (two), three')",
        1,
    )
    assert ad.tables["t"] == ["a", "b", "c"]
    assert ad.apply_ddl(
        "ALTER TABLE t ADD COLUMN note VARCHAR(20) DEFAULT 'a,b(c', "
        "ADD COLUMN tag TEXT COMMENT 'it''s, fine'",
        2,
    )
    assert ad.tables["t"] == ["a", "b", "c", "note", "tag"]
    assert ad.unmatched == []


def test_ddl_comments_are_stripped_version_comments_execute():
    """Migration-tool chatter (`/* gh-ost */`, trailing `-- ...`,
    `# ...`) is invisible to the shape rules; MySQL executable
    version comments /*!NNNNN ... */ contribute their body (the
    server runs it, so must the registry)."""
    from reader_spark.streaming.schema_history import SchemaAdapter

    ad = SchemaAdapter()
    ad.apply_ddl("CREATE TABLE t (x int)", 1)
    assert ad.apply_ddl(
        "/* gh-ost: applied */ ALTER TABLE t ADD COLUMN c INT -- migration",
        2,
    )
    assert ad.tables["t"] == ["x", "c"]
    assert ad.apply_ddl(
        "ALTER TABLE t ADD COLUMN d INT # trailing note", 3
    )
    assert ad.tables["t"] == ["x", "c", "d"]
    # executable version comment: the body IS the statement
    assert ad.apply_ddl("/*!40605 ALTER TABLE t ADD COLUMN e INT */", 4)
    assert ad.tables["t"] == ["x", "c", "d", "e"]
    # a literal containing comment openers is NOT a comment
    assert ad.apply_ddl(
        "ALTER TABLE t ADD COLUMN f TEXT COMMENT 'see /* not a comment */ --'",
        5,
    )
    assert ad.tables["t"] == ["x", "c", "d", "e", "f"]
    assert ad.unmatched == []


def test_ddl_quoted_identifiers_with_spaces_roundtrip():
    """Backtick identifiers may embed spaces and doubled backticks;
    the registry keys on the UNQUOTED name so DML lookups (which
    arrive unquoted from the binlog) resolve."""
    from reader_spark.streaming.schema_history import SchemaAdapter

    ad = SchemaAdapter()
    assert ad.apply_ddl("CREATE TABLE `my table` (`a col` int, b int)", 1)
    assert ad.tables["my table"] == ["a col", "b"]
    assert ad.apply_ddl(
        "ALTER TABLE `my table` ADD COLUMN `new col` text AFTER `a col`", 2
    )
    assert ad.tables["my table"] == ["a col", "new col", "b"]
    assert ad.apply_ddl(
        "ALTER TABLE `my table` CHANGE `a col` `odd``name` int FIRST", 3
    )
    assert ad.tables["my table"] == ["odd`name", "new col", "b"]
    assert ad.apply_ddl("RENAME TABLE `my table` TO `your table`", 4)
    assert ad.tables["your table"] == ["odd`name", "new col", "b"]
    assert ad.apply_ddl("DROP TABLE `your table`", 5)
    assert ad.tables == {}
    assert ad.unmatched == []


def test_ddl_foreign_db_still_noop_when_quoted():
    """The cross-db gate must hold for QUOTED qualifiers too —
    `ALTER TABLE `otherdb`.`users` ...` is the same foreign no-op as
    the bare form (ShouldReplicate, dml.go:24-40)."""
    from reader_spark.streaming.schema_history import SchemaAdapter

    ad = SchemaAdapter(database="app")
    ad.apply_ddl("CREATE TABLE users (id int, c int)", 1)
    assert ad.apply_ddl(
        "ALTER TABLE `otherdb`.`users` DROP COLUMN c", 2
    ) is False
    assert ad.tables["users"] == ["id", "c"]
    assert ad.apply_ddl('DROP TABLE "otherdb"."users"', 3) is False
    assert "users" in ad.tables
