"""Transfer sink (MERGE semantics, backfill truncate, empty-table
create) and YAML job config validation."""

import pytest

from reader_spark.config import load_settings
from reader_spark.operators.transfer import TransferWriter, apply_changes


def base_df(spark):
    return spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], ["id", "val"]
    )


def changes_df(spark):
    # upsert id=2, delete id=3, insert id=4; id=5 insert-then-delete
    rows = [
        (2, "b2", "u", 10),
        (3, "c", "d", 11),
        (4, "d", "c", 12),
        (5, "e", "c", 13),
        (5, "e", "d", 14),
    ]
    return spark.createDataFrame(rows, ["id", "val", "op", "seq"])


def test_apply_changes_merge_semantics(spark):
    out = apply_changes(base_df(spark), changes_df(spark), ["id"], "seq")
    got = {r["id"]: r["val"] for r in out.collect()}
    assert got == {1: "a", 2: "b2", 4: "d"}  # 3 deleted, 5 net-deleted


def test_transfer_writer_roundtrip(spark, tmp_path):
    tw = TransferWriter(spark, str(tmp_path))
    tw.append("t", base_df(spark))
    assert tw.read("t").count() == 3
    tw.upsert("t", changes_df(spark), ["id"], "seq")
    got = {r["id"]: r["val"] for r in tw.read("t").collect()}
    assert got == {1: "a", 2: "b2", 4: "d"}
    # upsert into a missing table bootstraps from the change set
    tw.upsert("t2", changes_df(spark), ["id"], "seq")
    assert {r["id"] for r in tw.read("t2").collect()} == {2, 4}


def test_backfill_truncate_and_empty_create(spark, tmp_path):
    tw = TransferWriter(spark, str(tmp_path))
    tw.append("t", base_df(spark))
    tw.truncate_for_backfill("t")
    assert not tw.exists("t")
    tw.create_empty("t", base_df(spark))
    assert tw.read("t").count() == 0
    assert tw.read("t").columns == ["id", "val"]


CFG = """
source:
  kind: postgresql
  host: db.example.com
  database: app
  tables:
    - name: users
      schema: public
      batch_size: 5000
      exclude_columns: [password_hash]
    - name: orders
destination:
  kind: kafka
  topic_prefix: cdc.app
"""


def test_load_settings_roundtrip():
    s = load_settings(CFG)
    assert s.source.kind == "postgresql"
    assert [t.name for t in s.source.tables] == ["users", "orders"]
    assert s.source.tables[0].exclude_columns == ["password_hash"]
    assert s.source.tables[1].batch_size == 5000  # reference default
    assert s.destination.topic_prefix == "cdc.app"


def test_load_settings_validation():
    with pytest.raises(ValueError, match="unknown source kind"):
        load_settings("source: {kind: oracle, tables: [{name: t}]}\ndestination: {kind: kafka}")
    with pytest.raises(ValueError, match="at least one table"):
        load_settings("source: {kind: mysql}\ndestination: {kind: kafka}")
    with pytest.raises(ValueError, match="mutually exclusive"):
        load_settings(
            "source: {kind: mysql, tables: [{name: t, include_columns: [a], "
            "exclude_columns: [b]}]}\ndestination: {kind: kafka}"
        )
    with pytest.raises(ValueError, match="unknown destination"):
        load_settings("source: {kind: mysql, tables: [{name: t}]}\ndestination: {kind: s3}")


def test_reconcile_classifies_all_statuses(spark):
    from reader_spark.operators.transfer import reconcile

    src = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0), (4, "d", 40.0)],
        "pk long, s string, v double",
    )
    snk = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 99.0), (5, "e", 50.0), (4, "d", 40.0)],
        "pk long, s string, v double",
    )
    out = {r["status"]: r["n_keys"] for r in reconcile(src, snk, ["pk"]).collect()}
    assert out == {"ok": 2, "mismatch": 1, "missing": 1, "extra": 1}


def test_reconcile_null_safe_comparison(spark):
    from reader_spark.operators.transfer import reconcile

    src = spark.createDataFrame([(1, None), (2, "x")], "pk long, s string")
    snk = spark.createDataFrame([(1, None), (2, None)], "pk long, s string")
    out = {r["status"]: r["n_keys"] for r in reconcile(src, snk, ["pk"]).collect()}
    assert out.get("ok") == 1 and out.get("mismatch") == 1


def test_reconcile_null_position_matters(spark):
    from reader_spark.operators.transfer import reconcile

    src = spark.createDataFrame([(1, "a", None)], "pk long, x string, y string")
    snk = spark.createDataFrame([(1, None, "a")], "pk long, x string, y string")
    out = {r["status"]: r["n_keys"] for r in reconcile(src, snk, ["pk"]).collect()}
    assert out == {"mismatch": 1}


def test_compaction_reduces_files_preserves_rows(spark, tmp_path):
    from reader_spark.operators.transfer import TransferWriter

    w = TransferWriter(spark, str(tmp_path))
    df = spark.range(0, 10_000).selectExpr("id", "id * 2 AS v")
    # many small appends -> many small files
    for i in range(8):
        w.append("t", df.filter(f"id % 8 = {i}").repartition(4))
    import os

    def parquet_files():
        # count the files a reader actually touches: the LIVE data
        # root (the pointer-flip publish keeps the displaced version
        # around for one publish by design)
        from reader_spark.operators import atomic_dir

        return [
            os.path.join(dp, f)
            for dp, _d, fs in os.walk(atomic_dir.resolve(str(tmp_path / "t")))
            for f in fs
            if f.endswith(".parquet")
        ]

    before = w.read("t").orderBy("id").collect()
    assert len(parquet_files()) >= 32
    n_out = w.compact("t")  # default target >> total size -> 1 file
    assert n_out == 1 and len(parquet_files()) == 1
    after = w.read("t").orderBy("id").collect()
    assert after == before


def test_bucketed_upsert_touches_only_changed_buckets(spark, tmp_path):
    import os

    from reader_spark.operators.transfer import TransferWriter

    w = TransferWriter(spark, str(tmp_path))
    seed = spark.range(0, 1000).selectExpr(
        "id", "concat('v', id) AS v", "'c' AS op", "0L AS seq"
    )
    w.upsert_bucketed("t", seed, ["id"], "seq", n_buckets=8)

    def bucket_state():
        out = {}
        root = str(tmp_path / "t")
        for d in os.listdir(root):
            if d.startswith("bucket="):
                files = sorted(os.listdir(os.path.join(root, d)))
                mtimes = [
                    os.path.getmtime(os.path.join(root, d, f)) for f in files
                ]
                out[d] = (files, mtimes)
        return out

    before = bucket_state()
    assert len(before) == 8

    # update key 7, delete key 8 — at most two buckets touched
    changes = spark.createDataFrame(
        [(7, "V7", "u", 1), (8, None, "d", 1)], "id long, v string, op string, seq long"
    )
    touched = w.upsert_bucketed("t", changes, ["id"], "seq", n_buckets=8)
    assert 1 <= len(touched) <= 2

    after = bucket_state()
    for d, state in before.items():
        b = int(d.split("=")[1])
        if b in touched:
            assert after[d] != state, f"{d} should have been rewritten"
        else:
            assert after[d] == state, f"{d} rewritten needlessly"

    final = {r["id"]: r["v"] for r in w.read("t").collect()}
    assert final[7] == "V7" and 8 not in final and len(final) == 999
    assert final[0] == "v0"


def test_crashed_bucket_swap_leaves_no_phantom_partition(spark, tmp_path):
    """A crash between the displaced-bucket rename and its cleanup
    must not corrupt reads: the parked dir is DOT-PREFIXED (hidden
    from Spark's listing — a visible `bucket=3.old-x` sibling would
    be discovered as a partition VALUE: duplicate rows and a
    string-typed bucket column), and the next swap GCs it."""
    import os
    import shutil

    from reader_spark.operators.transfer import TransferWriter

    w = TransferWriter(spark, str(tmp_path))
    seed = spark.range(0, 100).selectExpr(
        "id", "concat('v', id) AS v", "'c' AS op", "0L AS seq"
    )
    w.upsert_bucketed("t", seed, ["id"], "seq", n_buckets=4)
    n0 = w.read("t").count()

    # simulate the crash: a displaced copy of bucket=1 parked but
    # never removed
    root = str(tmp_path / "t")
    parked = os.path.join(root, ".old-deadbeef-bucket=1")
    shutil.copytree(os.path.join(root, "bucket=1"), parked)

    got = w.read("t")
    assert got.count() == n0, "parked dir resurfaced as duplicates"
    assert dict(got.dtypes)["bucket"] == "int"

    # next swap garbage-collects the stranded dir
    delta = spark.createDataFrame(
        [(1, "V1", "u", 5)], "id long, v string, op string, seq long"
    )
    w.upsert_bucketed("t", delta, ["id"], "seq", n_buckets=4)
    assert not os.path.isdir(parked)
    assert w.read("t").count() == n0


def test_schema_drift_census(spark):
    from pyspark.sql import types as T

    from reader_spark.operators.transfer import schema_drift

    src = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("a", T.StringType()),
        T.StructField("b", T.IntegerType()),
    ])
    snk = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("b", T.LongType()),
        T.StructField("c", T.StringType()),
    ])
    out = {r["column"]: r["status"] for r in schema_drift(src, snk)}
    assert out == {"id": "ok", "a": "missing", "b": "retyped", "c": "added"}


def test_job_runner_snapshot_yaml_to_parquet(spark, tmp_path):
    """The reference binary's flow: config YAML -> snapshot -> envelope
    -> destination, via run_job."""
    import json

    from reader_spark.config import load_settings
    from reader_spark.job import run_job

    cfg = f"""
source:
  kind: parquet
  database: tpch
  options:
    path: /root/testdata/sf0.001
  tables:
    - name: nation
    - name: region
      exclude_columns: [r_comment]
destination:
  kind: parquet
  topic_prefix: snap
  path: {tmp_path}/out
"""
    out = run_job(spark, load_settings(cfg))
    assert set(out) == {"nation", "region"}
    env = spark.read.parquet(f"{tmp_path}/out/nation")
    rows = env.collect()
    assert len(rows) == 25
    assert rows[0]["topic"] == "snap.tpch.nation"
    payload = json.loads(rows[0]["value"])["payload"]
    assert payload["op"] == "r" and payload["source"]["db"] == "tpch"
    assert spark.read.parquet(f"{tmp_path}/out/region").count() == 5


SNAPSHOT_TABLES = ["supplier", "nation", "customer", "region"]


def _snapshot_cfg(sf_dir, out, tables=SNAPSHOT_TABLES):
    names = "".join(f"\n    - name: {t}" for t in tables)
    return f"""
source:
  kind: parquet
  database: tpch
  options:
    path: {sf_dir}
  tables:{names}
destination:
  kind: parquet
  topic_prefix: snap
  path: {out}
"""


def _sequential_snapshot(spark, settings):
    """The snapshot chain run table by table on the calling thread."""
    from reader_spark import job

    results = {}
    for t in settings.source.tables:
        out, rows = job._snapshot_table(spark, settings, t)
        results[t.name] = out
        if rows is not None:
            job._JOB_OBS[t.name] = rows
    return results


def test_snapshot_job_concurrent_tables_match_sequential(spark, sf_dir, tmp_path):
    """Snapshot tables publish concurrently, yet the results come back
    in config order, each table's _metrics row counts its own rows,
    and the published envelopes equal a table-by-table run's."""
    from reader_spark.job import run_job

    out = str(tmp_path / "conc")
    res = run_job(spark, load_settings(_snapshot_cfg(sf_dir, out)))
    assert list(res) == SNAPSHOT_TABLES
    metrics = {
        r["table"]: r["rows"]
        for r in spark.read.parquet(f"{out}/_metrics").collect()
    }
    assert metrics == {
        t: spark.read.parquet(f"{sf_dir}/{t}.parquet").count()
        for t in SNAPSHOT_TABLES
    }
    seq_out = str(tmp_path / "seq")
    _sequential_snapshot(spark, load_settings(_snapshot_cfg(sf_dir, seq_out)))
    for t in SNAPSHOT_TABLES:
        conc = spark.read.parquet(f"{out}/{t}")
        seq = spark.read.parquet(f"{seq_out}/{t}")
        assert conc.count() == metrics[t]
        assert conc.exceptAll(seq).count() == 0
        assert seq.exceptAll(conc).count() == 0


def test_snapshot_job_missing_table_fails_without_metrics(spark, sf_dir, tmp_path):
    """One table's failure fails the job after the others finish, and
    a failed job writes no _metrics row."""
    import os

    from reader_spark.job import run_job

    out = str(tmp_path / "out")
    cfg = _snapshot_cfg(sf_dir, out, ["nation", "no_such_table", "region"])
    with pytest.raises(Exception, match="no_such_table"):
        run_job(spark, load_settings(cfg))
    assert not os.path.exists(f"{out}/_metrics")


def test_snapshot_job_threads_keep_callers_job_group(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Every Spark job a concurrent snapshot starts runs in the
    caller's job group, as many as a table-by-table run starts there;
    a plain thread would start the table jobs outside the group."""
    from reader_spark import job

    sc = spark.sparkContext

    def jobs_in_group(group, out):
        sc.setJobGroup(group, group)
        try:
            job.run_job(spark, load_settings(_snapshot_cfg(sf_dir, out)))
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description"):
                sc.setLocalProperty(key, None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    concurrent = jobs_in_group(f"conc-{tmp_path.name}", str(tmp_path / "c"))
    monkeypatch.setattr(job, "_run_snapshot", _sequential_snapshot)
    sequential = jobs_in_group(f"seq-{tmp_path.name}", str(tmp_path / "s"))
    assert concurrent == sequential > len(SNAPSHOT_TABLES)


def test_snapshot_envelope_parquet_encoding(spark, sf_dir, tmp_path):
    """The envelope's unique JSON columns are written PLAIN without
    min/max statistics; `topic` keeps its dictionary. (A footer cannot
    show whether a dictionary was tried and abandoned for PLAIN, which
    unique values always are; the statistics check is what a writer
    without the envelope options fails.)"""
    import glob

    import pyarrow.parquet as pq

    from reader_spark.job import run_job

    out = str(tmp_path / "out")
    run_job(spark, load_settings(_snapshot_cfg(sf_dir, out, ["nation"])))
    files = glob.glob(f"{out}/nation/part-*.parquet")
    assert files
    for path in files:
        meta = pq.ParquetFile(path).metadata
        for g in range(meta.num_row_groups):
            cols = {
                meta.row_group(g).column(i).path_in_schema:
                meta.row_group(g).column(i)
                for i in range(meta.num_columns)
            }
            for name in ("key", "value"):
                c = cols[name]
                assert not c.has_dictionary_page, name
                assert "PLAIN" in c.encodings, (name, c.encodings)
                assert c.statistics is None or not c.statistics.has_min_max, name
            assert cols["topic"].has_dictionary_page


def _kafka_cfg(sf_dir, out):
    return _snapshot_cfg(sf_dir, out, ["nation"]).replace(
        "kind: parquet\n  topic_prefix",
        "kind: kafka\n  options: {bootstrap: 'broker:9092'}\n  topic_prefix",
    )


def test_kafka_destination_without_connector_falls_back_to_parquet(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Without the Kafka connector jar the envelopes land as parquet
    under the destination path, and the publisher is never called."""
    from reader_spark import sinks
    from reader_spark.job import run_job

    def no_publish(*_a, **_k):
        raise AssertionError("write_kafka called without the connector")

    monkeypatch.setattr(sinks, "kafka_available", lambda _spark: False)
    monkeypatch.setattr(sinks, "write_kafka", no_publish)
    out = str(tmp_path / "out")
    settings = load_settings(_kafka_cfg(sf_dir, out))
    assert settings.destination.kind == "kafka"
    assert run_job(spark, settings) == {"nation": f"{out}/nation"}
    assert spark.read.parquet(f"{out}/nation").count() == 25


def test_kafka_publish_error_fails_the_job(spark, sf_dir, tmp_path, monkeypatch):
    """With the connector present, a publish error (broker timeout,
    missing option, partial batch) fails the job: no parquet fallback
    and no `_metrics` row."""
    import os

    from reader_spark import sinks
    from reader_spark.job import run_job

    def broker_down(*_a, **_k):
        raise RuntimeError("broker timeout")

    monkeypatch.setattr(sinks, "kafka_available", lambda _spark: True)
    monkeypatch.setattr(sinks, "write_kafka", broker_down)
    out = str(tmp_path / "out")
    with pytest.raises(RuntimeError, match="broker timeout"):
        run_job(spark, load_settings(_kafka_cfg(sf_dir, out)))
    assert not os.path.exists(f"{out}/nation")
    assert not os.path.exists(f"{out}/_metrics")


def test_job_runner_streaming_merge_yaml(spark, tmp_path):
    import json

    from reader_spark.config import load_settings
    from reader_spark.job import run_job

    log = tmp_path / "log"
    log.mkdir()
    recs = [
        {"seq": "1", "ts_ms": "1000", "db": "app", "tbl": "users",
         "kind": "ddl", "op": None, "gtid_sid": "s", "gtid_tx": "1",
         "statement": "CREATE TABLE users (id int, name text)",
         "before": None, "after": None},
        {"seq": "2", "ts_ms": "2000", "db": "app", "tbl": "users",
         "kind": "dml", "op": "c", "gtid_sid": "s", "gtid_tx": "2",
         "statement": None, "before": None,
         "after": '{"id": 1, "name": "ada"}'},
    ]
    with open(log / "shard0.jsonl", "w") as f:
        for r in recs:
            f.write(json.dumps(r) + "\n")
    cfg = f"""
source:
  kind: mysql
  database: app
  streaming: true
  options:
    log_dir: {log}
    checkpoint_dir: {tmp_path}/ck
    timeout_sec: 90
  tables:
    - name: users
destination:
  kind: transfer
  path: {tmp_path}/dest
  options:
    n_buckets: 4
"""
    out = run_job(spark, load_settings(cfg))
    state = {r["id"]: r["name"]
             for r in spark.read.parquet(out["users"]).collect()}
    assert state == {"1": "ada"}


def test_job_runner_streaming_scd2_bucketed_yaml(spark, tmp_path):
    """YAML destination option scd2 drives the history-preserving
    merge end-to-end, bucket-partitioned like the current-state one."""
    import json
    import os

    from reader_spark.config import load_settings
    from reader_spark.job import run_job

    log = tmp_path / "log"
    log.mkdir()
    recs = [
        {"seq": "1", "ts_ms": "1000", "db": "app", "tbl": "users",
         "kind": "ddl", "op": None, "gtid_sid": "s", "gtid_tx": "1",
         "statement": "CREATE TABLE users (id int, name text)",
         "before": None, "after": None},
        {"seq": "2", "ts_ms": "2000", "db": "app", "tbl": "users",
         "kind": "dml", "op": "c", "gtid_sid": "s", "gtid_tx": "2",
         "statement": None, "before": None,
         "after": '{"id": 1, "name": "ada"}'},
        {"seq": "3", "ts_ms": "3000", "db": "app", "tbl": "users",
         "kind": "dml", "op": "u", "gtid_sid": "s", "gtid_tx": "3",
         "statement": None, "before": '{"id": 1, "name": "ada"}',
         "after": '{"id": 1, "name": "ada2"}'},
    ]
    with open(log / "shard0.jsonl", "w") as f:
        for r in recs:
            f.write(json.dumps(r) + "\n")
    cfg = f"""
source:
  kind: mysql
  database: app
  streaming: true
  options:
    log_dir: {log}
    checkpoint_dir: {tmp_path}/ck
    timeout_sec: 90
  tables:
    - name: users
destination:
  kind: transfer
  path: {tmp_path}/dest
  options:
    n_buckets: 4
    scd2: true
"""
    out = run_job(spark, load_settings(cfg))
    assert any(
        d.startswith("bucket=") for d in os.listdir(out["users"])
    )
    rows = sorted(
        (r["id"], r["name"], int(r["eff_from"]),
         None if r["eff_to"] is None else int(r["eff_to"]))
        for r in spark.read.parquet(out["users"]).drop("bucket").collect()
    )
    assert rows == [("1", "ada", 2, 3), ("1", "ada2", 3, None)]


def test_job_runner_streaming_scd2_bucketed_requires_scd2(spark, tmp_path):
    """A transfer destination accepts only n_buckets and scd2: the
    retired scd2_bucketed key and a typo (n_bucket, which would
    otherwise seed and pin the default 16 buckets) are rejected by
    name before any stream starts."""
    from reader_spark.config import load_settings
    from reader_spark.job import run_job

    log = tmp_path / "log"
    log.mkdir()
    for option in ("scd2_bucketed: true", "n_bucket: 64"):
        cfg = f"""
source:
  kind: mysql
  database: app
  streaming: true
  options:
    log_dir: {log}
    checkpoint_dir: {tmp_path}/ck
  tables:
    - name: users
destination:
  kind: transfer
  path: {tmp_path}/dest
  options:
    {option}
"""
        with pytest.raises(ValueError, match=option.split(":")[0]):
            run_job(spark, load_settings(cfg))
        assert not (tmp_path / "dest").exists()


def test_job_runner_streaming_scd2_rejects_snapshot_path(spark, tmp_path):
    """scd2: true with a snapshot hand-off is refused: the hand-off
    seeds and merges current state only, so running it would silently
    drop the history the destination asks for. The error comes before
    the seed is written — nothing lands under the destination."""
    import json

    from reader_spark.config import load_settings
    from reader_spark.job import run_job

    log = tmp_path / "log"
    log.mkdir()
    with open(log / "binlog.jsonl", "w") as f:
        f.write(json.dumps({
            "seq": 1, "ts_ms": 100, "db": "app", "tbl": "users",
            "kind": "dml", "op": "c", "gtid_sid": "s1", "gtid_tx": 1,
            "statement": None, "before": None,
            "after": '{"id": 1, "name": "ada"}',
        }) + "\n")
    snapdir = tmp_path / "snap"
    spark.createDataFrame([(1, "ada")], "id int, name string").write.parquet(
        str(snapdir / "users.parquet")
    )
    dest = tmp_path / "dest"
    cfg = f"""
source:
  kind: mysql
  database: app
  streaming: true
  tables: [{{name: users}}]
  options:
    log_dir: {log}
    checkpoint_dir: {tmp_path}/ck
    snapshot_path: {snapdir}
    snapshot_position: {{"binlog.jsonl": 1}}
    bootstrap_ddl: ["CREATE TABLE users (id int, name text)"]
    timeout_sec: 90
destination:
  kind: transfer
  path: {dest}
  options:
    scd2: true
"""
    with pytest.raises(ValueError, match="snapshot_path"):
        run_job(spark, load_settings(cfg))
    assert not dest.exists()
    assert not (tmp_path / "ck").exists()


def test_job_runner_streaming_timeout_fails_and_stops(
    spark, tmp_path, monkeypatch
):
    """A stream that has not drained when timeout_sec runs out fails
    the job: the query is stopped, the job raises, and no _metrics
    row records a success."""
    from reader_spark.config import load_settings
    from reader_spark.job import run_job
    from reader_spark.plans import cdc_mysql

    class StuckQuery:
        stopped = False

        def awaitTermination(self, timeout=None):
            return False

        def stop(self):
            self.stopped = True

        def exception(self):
            return None

    q = StuckQuery()
    monkeypatch.setattr(cdc_mysql, "run_pipeline", lambda *a, **k: q)
    cfg = f"""
source:
  kind: mysql
  database: app
  streaming: true
  options:
    log_dir: {tmp_path}/log
    timeout_sec: 1
  tables:
    - name: users
destination:
  kind: parquet
  path: {tmp_path}/dest
"""
    with pytest.raises(TimeoutError, match="timeout_sec=1"):
        run_job(spark, load_settings(cfg))
    assert q.stopped
    assert not (tmp_path / "dest" / "_metrics").exists()

    # a query that failed surfaces its own error instead
    class FailedQuery(StuckQuery):
        def exception(self):
            return RuntimeError("batch 3 failed")

    monkeypatch.setattr(
        cdc_mysql, "run_pipeline", lambda *a, **k: FailedQuery()
    )
    with pytest.raises(RuntimeError, match="batch 3 failed"):
        run_job(spark, load_settings(cfg))
    assert not (tmp_path / "dest" / "_metrics").exists()


def test_write_training_shards_layout_and_order(spark, sf_dir, tmp_path):
    from reader_spark.operators.transfer import write_training_shards
    from reader_spark.session import read_table

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = str(tmp_path / "shards")
    manifest = write_training_shards(docs, out, n_shards=4, epoch=0)
    assert sum(manifest.values()) == docs.count()
    assert set(manifest) <= set(range(4))
    back = spark.read.parquet(out)
    # partition column materialized, every doc exactly once
    assert sorted(r["doc_id"] for r in back.collect()) == sorted(
        r["doc_id"] for r in docs.collect()
    )
    # within a shard file, rows are stored in pos order (sequential
    # loader contract): read one shard directory directly
    one = spark.read.parquet(f"{out}/shard=0").collect()
    poss = [r["pos"] for r in one]
    assert poss == sorted(poss)


@pytest.mark.parametrize("n_shards,epoch", [(1, 0), (1, 1), (4, 0), (4, 1)])
def test_write_training_shards_matches_epoch_shuffle(
    spark, sf_dir, tmp_path, n_shards, epoch
):
    """The write assigns shard and pos itself; every written
    (doc_id, shard, pos) row is epoch_shuffle's, and the files hold the
    id column first, then the other input columns, then pos — also
    when the id column is not first in the input."""
    from reader_spark.operators.curation import epoch_shuffle
    from reader_spark.operators.transfer import write_training_shards
    from reader_spark.session import read_table

    docs = read_table(spark, sf_dir, "documents").select(
        "text", "doc_id", "lang"
    )
    out = str(tmp_path / "shards")
    manifest = write_training_shards(
        docs, out, n_shards=n_shards, epoch=epoch
    )
    back = spark.read.parquet(out)
    assert back.columns == ["doc_id", "text", "lang", "pos", "shard"]
    written = sorted(
        tuple(r) for r in back.select("doc_id", "shard", "pos").collect()
    )
    want = sorted(
        tuple(r)
        for r in epoch_shuffle(docs, n_shards=n_shards, epoch=epoch)
        .select("doc_id", "shard", "pos")
        .collect()
    )
    assert written == want
    per_shard: dict[int, int] = {}
    for _, shard, _ in want:
        per_shard[shard] = per_shard.get(shard, 0) + 1
    assert manifest == per_shard


def test_write_training_shards_empty_input(spark, sf_dir, tmp_path):
    """An empty input (e.g. a wave the seen-set gate screened out
    entirely) writes no shard and returns an empty manifest."""
    import os

    from reader_spark.operators.transfer import write_training_shards
    from reader_spark.session import read_table

    docs = read_table(spark, sf_dir, "documents").filter("doc_id < 0")
    out = str(tmp_path / "empty")
    assert write_training_shards(docs, out, n_shards=4) == {}
    assert not [n for n in os.listdir(out) if n.startswith("shard=")]


def _shard_files(split_dir):
    """{shard dir: [(columns, rows in file order)] per parquet file}
    of one written split, read file by file."""
    import glob
    import os

    import pyarrow.parquet as pq

    out = {}
    for d in sorted(glob.glob(f"{split_dir}/shard=*")):
        out[os.path.basename(d)] = [
            (t.column_names, t.to_pylist())
            for t in map(pq.read_table, sorted(glob.glob(f"{d}/*.parquet")))
        ]
    return out


def test_write_split_shards_matches_per_split_writes(spark, sf_dir, tmp_path):
    """One split write lays out every split exactly as a
    `write_training_shards` call per split does: the same files per
    shard, rows in the same pos order, the same columns and the same
    manifests. A split with no rows is a directory with no shard, and
    a rerun into the same destination replaces the old shards."""
    import os

    from pyspark.sql import functions as F

    from reader_spark.operators.transfer import (
        SPLITS,
        write_split_shards,
        write_training_shards,
    )
    from reader_spark.session import read_table

    docs = read_table(spark, sf_dir, "documents").select(
        "text",
        "doc_id",
        F.when(F.col("doc_id") % 4 == 0, "val")
        .otherwise("train")
        .alias("split"),
        "lang",
    )
    out = str(tmp_path / "one")
    # a first, wider write leaves shards 2 and 3 for the rerun to drop
    write_split_shards(docs, out, n_shards=4, epoch=1)
    manifests = write_split_shards(docs, out, n_shards=2, epoch=1)
    for s in SPLITS:
        ref = str(tmp_path / "per_split" / s)
        want = write_training_shards(
            docs.filter(F.col("split") == s).drop("split"), ref,
            n_shards=2, epoch=1,
        )
        assert manifests[s] == want, s
        assert _shard_files(f"{out}/{s}") == _shard_files(ref), s
        assert sorted(os.listdir(f"{out}/{s}")) == sorted(os.listdir(ref)), s
    assert manifests["test"] == {}
    assert not [n for n in os.listdir(f"{out}/test") if n.startswith("shard=")]
    assert sorted(os.listdir(out)) == sorted(SPLITS)
    cols, rows = _shard_files(f"{out}/train")["shard=0"][0]
    assert cols == ["doc_id", "text", "lang", "pos"]
    assert [r["pos"] for r in rows] == list(range(1, len(rows) + 1))


def _curate_minhash_component_cfg(sf_dir, out):
    return f"""
source:
  kind: parquet
  options: {{path: {sf_dir}}}
  tables: [{{name: documents}}]
destination:
  kind: parquet
  path: {out}
curate:
  dedup: minhash
  split: component
  n_shards: 2
"""


def test_curate_split_job_leaves_no_cached_frame(spark, sf_dir, tmp_path):
    """The dedup pins and the one split write's persisted ranked frame
    (no survivor frame is cached) are all released by the end of the
    job, so the session CacheManager is as empty as it started."""
    from reader_spark.config import load_settings
    from reader_spark.job import run_job

    spark.catalog.clearCache()
    out = str(tmp_path / "curated")
    res = run_job(
        spark, load_settings(_curate_minhash_component_cfg(sf_dir, out))
    )
    assert all(
        int(res[f"manifest:documents/{s}"]) > 0
        for s in ("train", "val", "test")
    )
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_curate_split_job_spark_job_count(spark, sf_dir, tmp_path):
    """Regression guard on the work a minhash + component-split
    curate run starts: one write lays out all three splits (one
    exchange, manifest from the materialized frame, no read-back), and
    a connected-components round is one checkpoint job whose
    Observation says whether labels changed. In the test session this
    run starts 14 jobs in its own job group, the same count on every
    repeat: 20 with the separate changed-label count per round and
    the identity label seed, 24 with a write per split as well. The
    bound leaves a margin of 1 so that either regression fails.
    Broadcast jobs run in their own group and are not counted."""
    from reader_spark.config import load_settings
    from reader_spark.job import run_job

    sc = spark.sparkContext
    group = f"curate-job-count-{tmp_path.name}"
    sc.setJobGroup(group, "curate job-count guard")
    try:
        run_job(
            spark,
            load_settings(
                _curate_minhash_component_cfg(sf_dir, str(tmp_path / "c"))
            ),
        )
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(key, None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert n_jobs <= 15, n_jobs


def test_curate_rerun_reuses_generated_code(spark, sf_dir, tmp_path):
    """A curate run needs more generated classes than Spark's default
    100-entry codegen cache holds, so with that default every run
    recompiled them all. With the session's larger cache, a second
    identical run compiles 16 classes with Janino in the test session,
    the same on every repeat; with the default cache it compiled 121.
    The bound leaves room for a few new plans, not for the old
    recompile-everything behaviour."""
    from reader_spark.job import run_job

    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    cfg = _curate_minhash_component_cfg(sf_dir, str(tmp_path / "first"))
    run_job(spark, load_settings(cfg))
    before = codegen.METRIC_COMPILATION_TIME().getCount()
    cfg = _curate_minhash_component_cfg(sf_dir, str(tmp_path / "second"))
    run_job(spark, load_settings(cfg))
    compiles = codegen.METRIC_COMPILATION_TIME().getCount() - before
    assert compiles <= 30, compiles


def test_curate_job_end_to_end(spark, sf_dir, tmp_path):
    from reader_spark.config import load_settings
    from reader_spark.job import run_job

    out = str(tmp_path / "curated")
    cfg = f"""
source:
  kind: parquet
  options: {{path: {sf_dir}}}
  tables: [{{name: documents}}]
destination:
  kind: parquet
  path: {out}
curate:
  lang: en
  min_chars: 50
  min_quality: 0.3
  dedup: exact
  n_shards: 4
"""
    settings = load_settings(cfg)
    assert settings.curate is not None and settings.curate.dedup == "exact"
    res = run_job(spark, settings)
    assert res["documents"] == f"{out}/documents"
    back = spark.read.parquet(f"{out}/documents")
    rows = back.collect()
    assert len(rows) == int(res["manifest:documents"]) > 0
    import pyspark.sql.functions as F

    # gates held
    assert back.filter(F.col("lang") != "en").count() == 0
    assert back.filter(F.length("text") < 50).count() == 0
    # exact dedup held: no duplicate texts survive
    n_texts = back.select("text").distinct().count()
    assert n_texts == len(rows)
    # shard layout
    assert back.select("shard").distinct().count() <= 4


def test_curate_job_minhash_mode(spark, sf_dir, tmp_path):
    from reader_spark.config import load_settings
    from reader_spark.job import run_job

    out = str(tmp_path / "curated_mh")
    cfg = f"""
source:
  kind: parquet
  options: {{path: {sf_dir}}}
  tables: [{{name: documents}}]
destination:
  kind: parquet
  path: {out}
curate:
  dedup: minhash
  n_shards: 2
"""
    res = run_job(spark, load_settings(cfg))
    back = spark.read.parquet(f"{out}/documents")
    # minhash keep-min: strictly fewer docs than input (the fixture
    # corpus is near-dup dense), and no exact duplicates either
    n = back.count()
    assert 0 < n < 500
    assert back.select("text").distinct().count() == n


def test_streaming_job_with_snapshot_handoff(spark, tmp_path):
    import json

    from reader_spark.config import load_settings
    from reader_spark.job import run_job

    log = tmp_path / "log"
    log.mkdir()
    snapdir = tmp_path / "snap"
    snapdir.mkdir()
    dest = str(tmp_path / "dest")

    def rec(seq, kind, **kw):
        base = {
            "seq": seq, "ts_ms": seq * 100, "db": "app", "tbl": "users",
            "kind": kind, "op": None, "gtid_sid": "s1", "gtid_tx": seq,
            "statement": None, "before": None, "after": None,
        }
        base.update(kw)
        return base

    # pre-snapshot history already reflected in the snapshot
    with open(log / "binlog.jsonl", "w") as f:
        for r in [
            rec(1, "ddl", statement="CREATE TABLE users (id int, name text)"),
            rec(2, "dml", op="c", after='{"id": 1, "name": "ada"}'),
        ]:
            f.write(json.dumps(r) + "\n")
    spark.createDataFrame([(1, "ada")], "id int, name string").write.parquet(
        str(snapdir / "users.parquet")
    )
    # post-snapshot delta: arrived AFTER the snapshot was cut (the
    # snapshot_position below says 2 records were consumed), so it
    # must apply on top of the seed
    with open(log / "binlog.jsonl", "a") as f:
        f.write(json.dumps(
            rec(3, "dml", op="c", after='{"id": 2, "name": "bob"}')) + "\n")
    cfg = f"""
source:
  kind: mysql
  database: app
  streaming: true
  tables: [{{name: users}}]
  options:
    log_dir: {log}
    checkpoint_dir: {tmp_path}/ck
    snapshot_path: {snapdir}
    snapshot_position: {{"binlog.jsonl": 2}}
    bootstrap_ddl: ["CREATE TABLE users (id int, name text)"]
    timeout_sec: 90
destination:
  kind: transfer
  path: {dest}
"""
    res = run_job(spark, load_settings(cfg))
    assert res["users"] == f"{dest}/users"
    out = spark.read.parquet(f"{dest}/users")
    rows = sorted((r["id"], r["name"]) for r in out.collect())
    # pre-snapshot history (seqs 1-2) not replayed; post-cut delta
    # (seq 3) applied — no gap, no dupes
    assert rows == [("1", "ada"), ("2", "bob")]


def test_index_job_bm25_and_search(spark, tmp_path, sf_dir):
    from reader_spark.config import load_settings
    from reader_spark.job import run_job
    from reader_spark.operators import retrieval as RT
    from reader_spark.session import read_table

    out = str(tmp_path / "idx")
    cfg = f"""
source:
  kind: parquet
  options: {{path: {sf_dir}}}
  tables: [{{name: documents}}]
destination:
  kind: parquet
  path: {out}
index:
  kind: bm25
  n_buckets: 16
"""
    res = run_job(spark, load_settings(cfg))
    assert res == {"documents": f"{out}/documents"}
    qs = [(0, "table scan filter")]
    docs = read_table(spark, sf_dir, "documents")
    got = RT.bm25_topk_indexed(
        spark, f"{out}/documents", qs, k=5, n_buckets=16
    )
    want = RT.bm25_topk(docs, qs, k=5)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_index_job_ivf_and_search(spark, tmp_path, sf_dir):
    from pyspark.sql import functions as F

    from reader_spark.config import load_settings
    from reader_spark.job import run_job
    from reader_spark.operators import similarity as SIM
    from reader_spark.session import read_table

    out = str(tmp_path / "idx_ivf")
    cfg = f"""
source:
  kind: parquet
  options: {{path: {sf_dir}}}
  tables: [{{name: embeddings}}]
destination:
  kind: parquet
  path: {out}
index:
  kind: ivf
  n_clusters: 8
  id_column: vec_id
  vector_column: embedding
"""
    res = run_job(spark, load_settings(cfg))
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id").isin([0, 1]))
    got = SIM.knn_ivf_indexed(
        spark, res["embeddings"], queries, k=5, nprobe=2
    )
    rows = got.collect()
    assert {r["query_id"] for r in rows} == {0, 1}
    assert all(r["neighbor_id"] != r["query_id"] for r in rows)


def test_snapshot_job_zorder_destination(spark, tmp_path):
    from pyspark.sql import functions as F

    from reader_spark.config import load_settings
    from reader_spark.job import run_job

    out = str(tmp_path / "zout")
    cfg = f"""
source:
  kind: parquet
  database: tpch
  options:
    path: /root/testdata/sf0.01
  tables: [{{name: lineitem}}]
destination:
  kind: parquet
  path: {out}
  options:
    zorder: {{lineitem: [l_partkey, l_suppkey]}}
    zorder_files: 8
"""
    res = run_job(spark, load_settings(cfg))
    back = spark.read.parquet(res["lineitem"])
    assert back.count() == 60000
    # raw table (not envelope) columns survive
    assert "l_partkey" in back.columns and "topic" not in back.columns
    # clustered: a narrow slice of either dim touches a minority of files
    stats = (
        back.groupBy(F.input_file_name().alias("f"))
        .agg(
            F.min("l_partkey").alias("pmn"), F.max("l_partkey").alias("pmx"),
            F.min("l_suppkey").alias("smn"), F.max("l_suppkey").alias("smx"),
        )
        .collect()
    )
    assert len(stats) == 8
    pmax = max(r["pmx"] for r in stats)
    smax = max(r["smx"] for r in stats)
    phit = sum(1 for r in stats if r["pmx"] >= 0 and r["pmn"] <= pmax * 0.1)
    shit = sum(1 for r in stats if r["smx"] >= 0 and r["smn"] <= smax * 0.1)
    # both dims prune (a single-column sort leaves the other at 8/8);
    # the exact count jitters +-1 with repartitionByRange's sampling
    assert phit <= 5 and shit <= 5


def test_curate_job_with_chunking(spark, tmp_path, sf_dir):
    from pyspark.sql import functions as F

    from reader_spark.config import load_settings
    from reader_spark.job import run_job

    out = str(tmp_path / "curated_chunks")
    cfg = f"""
source:
  kind: parquet
  options: {{path: {sf_dir}}}
  tables: [{{name: documents}}]
destination:
  kind: parquet
  path: {out}
curate:
  dedup: exact
  chunk_width: 24
  chunk_overlap: 8
  n_shards: 4
"""
    res = run_job(spark, load_settings(cfg))
    shards = spark.read.parquet(res["documents"])
    # every emitted row is a chunk of <= 24 tokens and every doc id
    # decodes back to (source doc, ordinal)
    lens = shards.select(
        F.size(F.split("text", " ")).alias("n"),
        (F.col("doc_id") % 1_000_000).alias("ord"),
    )
    assert lens.filter(F.col("n") > 24).count() == 0
    assert lens.filter(F.col("n") < 1).count() == 0
    # chunk count exceeds the doc count (long docs split) and the
    # manifest total matches
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    n_chunks = shards.count()
    assert n_chunks > n_docs
    assert int(res["manifest:documents"]) == n_chunks


def test_curate_job_from_jsonl_source(spark, tmp_path, sf_dir):
    """Raw-dump ingestion: a JSONL corpus drives the same curate
    pipeline as parquet — pinned schema, no inference pass."""
    import json as _json

    from pyspark.sql import functions as F

    from reader_spark.config import load_settings
    from reader_spark.job import run_job
    from reader_spark.session import read_table

    src_dir = tmp_path / "raw"
    src_dir.mkdir()
    docs = read_table(spark, sf_dir, "documents").collect()
    with open(src_dir / "documents.jsonl", "w") as f:
        for r in docs:
            f.write(_json.dumps({
                "doc_id": r["doc_id"], "text": r["text"],
                "lang": r["lang"], "source": r["source"],
            }) + "\n")
    out = str(tmp_path / "curated_jsonl")
    cfg = f"""
source:
  kind: jsonl
  options:
    path: {src_dir}
    schemas:
      documents: "doc_id long, text string, lang string, source string"
  tables: [{{name: documents}}]
destination:
  kind: parquet
  path: {out}
curate:
  dedup: exact
  n_shards: 4
"""
    res = run_job(spark, load_settings(cfg))
    shards = spark.read.parquet(res["documents"])
    # exact dedup from the jsonl path == exact dedup from parquet
    want = (
        read_table(spark, sf_dir, "documents")
        .groupBy(F.md5("text")).agg(F.min("doc_id").alias("doc_id"))
        .count()
    )
    assert shards.count() == want


def test_snapshot_job_from_csv_source(spark, tmp_path):
    from reader_spark.config import load_settings
    from reader_spark.job import run_job

    src_dir = tmp_path / "csv_src"
    src_dir.mkdir()
    with open(src_dir / "users.csv", "w") as f:
        f.write("id,name\n1,ada\n2,bob\n")
    out = str(tmp_path / "csv_out")
    cfg = f"""
source:
  kind: csv
  database: app
  options:
    path: {src_dir}
    schemas: {{users: "id long, name string"}}
  tables: [{{name: users}}]
destination:
  kind: parquet
  path: {out}
"""
    res = run_job(spark, load_settings(cfg))
    env = spark.read.parquet(res["users"])
    assert env.count() == 2
    rows = {r["key"] for r in env.collect()}
    assert any('"id":1' in k or '"id": 1' in k for k in rows)


def test_curate_job_normalized_dedup_mode(spark, tmp_path):
    from reader_spark.config import load_settings
    from reader_spark.job import run_job

    src_dir = tmp_path / "norm_src"
    src_dir.mkdir()
    import json as _json

    rows = [
        {"doc_id": 1, "text": "Hello, World!", "lang": "en", "source": "s"},
        {"doc_id": 2, "text": "hello world", "lang": "en", "source": "s"},
        {"doc_id": 3, "text": "different doc entirely", "lang": "en", "source": "s"},
    ]
    with open(src_dir / "documents.jsonl", "w") as f:
        for r in rows:
            f.write(_json.dumps(r) + "\n")
    out = str(tmp_path / "norm_out")
    cfg = f"""
source:
  kind: jsonl
  options:
    path: {src_dir}
    schemas:
      documents: "doc_id long, text string, lang string, source string"
  tables: [{{name: documents}}]
destination:
  kind: parquet
  path: {out}
curate:
  dedup: normalized
  n_shards: 1
"""
    res = run_job(spark, load_settings(cfg))
    shards = spark.read.parquet(res["documents"])
    kept = {r["doc_id"] for r in shards.collect()}
    # "Hello, World!" and "hello world" collapse; min id kept
    assert kept == {1, 3}


def test_index_job_maintain_mode(spark, tmp_path, sf_dir):
    """index: {mode: maintain} runs the compaction pass over an
    existing index — no source read, search results unchanged."""
    from reader_spark.config import load_settings
    from reader_spark.job import run_job
    from reader_spark.operators import retrieval as RT

    out = str(tmp_path / "idx_m")
    build = f"""
source:
  kind: parquet
  options: {{path: {sf_dir}}}
  tables: [{{name: documents}}]
destination:
  kind: parquet
  path: {out}
index:
  kind: bm25
  n_buckets: 8
"""
    run_job(spark, load_settings(build))
    qs = [(0, "table scan filter")]
    before = sorted(map(tuple, RT.bm25_topk_indexed(
        spark, f"{out}/documents", qs, k=5, n_buckets=8).collect()))
    # scatter rows into many files per bucket, then maintain
    scattered = spark.read.parquet(f"{out}/documents/postings").repartition(6)
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        scattered.write.mode("overwrite").partitionBy("bucket").parquet(
            f"{out}/documents/postings"
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    maintain = build.replace("n_buckets: 8", "n_buckets: 8\n  mode: maintain\n  max_files: 2")
    res = run_job(spark, load_settings(maintain))
    assert "compacted" in res["documents"]
    after = sorted(map(tuple, RT.bm25_topk_indexed(
        spark, f"{out}/documents", qs, k=5, n_buckets=8).collect()))
    assert before == after


def test_upsert_scd2_intervals(spark, tmp_path):
    """Type-2 SCD merge: updates chain validity intervals, deletes
    close without reopening, untouched keys carry through, and the
    live version is the single open (eff_to NULL) row per key."""
    from reader_spark.operators.transfer import TransferWriter

    tw = TransferWriter(spark, str(tmp_path / "scd2"))
    b1 = spark.createDataFrame(
        [
            ("A", "v1", 1, "c"),
            ("B", "w1", 1, "c"),
            ("C", "x1", 2, "c"),
        ],
        "id string, val string, seq long, op string",
    )
    tw.upsert_scd2("t", b1, ["id"], "seq")
    b2 = spark.createDataFrame(
        [
            ("A", "v2", 5, "u"),
            ("A", "v3", 9, "u"),
            ("B", None, 6, "d"),
        ],
        "id string, val string, seq long, op string",
    )
    tw.upsert_scd2("t", b2, ["id"], "seq")
    rows = sorted(
        (r["id"], r["val"], r["eff_from"], r["eff_to"])
        for r in tw.read("t").collect()
    )
    assert rows == [
        ("A", "v1", 1, 5),
        ("A", "v2", 5, 9),
        ("A", "v3", 9, None),
        ("B", "w1", 1, 6),
        ("C", "x1", 2, None),
    ]
    # exactly one open row per live key; deleted key has none
    open_rows = [r for r in rows if r[3] is None]
    assert {r[0] for r in open_rows} == {"A", "C"}


def test_upsert_scd2_schema_evolution(spark, tmp_path):
    """A mid-stream ADD COLUMN must not silently drop the new attr
    (pre-r5b: select(*base.columns) projected it away): history rows
    carry NULL for attrs that predate them, new rows NULL for
    dropped attrs."""
    from reader_spark.operators.transfer import TransferWriter

    tw = TransferWriter(spark, str(tmp_path / "scd2evo"))
    b1 = spark.createDataFrame(
        [("A", "v1", 1, "c")],
        "id string, val string, seq long, op string",
    )
    tw.upsert_scd2("t", b1, ["id"], "seq")
    # batch 2 carries a NEW column `email`
    b2 = spark.createDataFrame(
        [("A", "v2", "a@x.io", 5, "u")],
        "id string, val string, email string, seq long, op string",
    )
    tw.upsert_scd2("t", b2, ["id"], "seq")
    rows = {
        (r["eff_from"]): (r["val"], r["email"], r["eff_to"])
        for r in tw.read("t").collect()
    }
    assert rows == {
        1: ("v1", None, 5),          # history row predates the column
        5: ("v2", "a@x.io", None),   # new attr survives
    }


@pytest.mark.parametrize("semantics", ["current", "scd2"])
def test_upsert_scd2_bucketed_matches_full_rewrite(spark, tmp_path, semantics):
    """Each bucketed merge is semantics-identical to its full-rewrite
    verb — upsert_bucketed to upsert, upsert_scd2_bucketed to
    upsert_scd2 (everything a merge needs about a key, its row or its
    whole interval chain, lives in the key's one bucket) — and a
    batch rewrites ONLY the buckets containing changed keys."""
    import os

    from reader_spark.operators.transfer import TransferWriter

    tw_full = TransferWriter(spark, str(tmp_path / "full"))
    tw_bkt = TransferWriter(spark, str(tmp_path / "bkt"))
    verb = "upsert_scd2" if semantics == "scd2" else "upsert"
    full = getattr(tw_full, verb)
    bucketed = getattr(tw_bkt, verb + "_bucketed")
    n_buckets = 8

    b1 = spark.createDataFrame(
        [(f"k{i}", f"v{i}", i, "c") for i in range(40)],
        "id string, val string, seq long, op string",
    )
    full("t", b1, ["id"], "seq")
    touched1 = bucketed("t", b1, ["id"], "seq", n_buckets=n_buckets)
    assert len(touched1) <= n_buckets  # seed touches every populated bucket

    # snapshot per-bucket file listings before the incremental batch
    root = tw_bkt._data_root("t")
    def bucket_files():
        out = {}
        for d in os.listdir(root):
            if d.startswith("bucket="):
                full_dir = os.path.join(root, d)
                out[d] = sorted(
                    (f, os.path.getmtime(os.path.join(full_dir, f)))
                    for f in os.listdir(full_dir)
                    if f.endswith(".parquet")
                )
        return out

    before = bucket_files()

    # update 2 keys + delete 1 — a narrow batch
    b2 = spark.createDataFrame(
        [("k1", "V1", 100, "u"), ("k2", "V2", 101, "u"),
         ("k3", None, 102, "d")],
        "id string, val string, seq long, op string",
    )
    full("t", b2, ["id"], "seq")
    touched2 = bucketed("t", b2, ["id"], "seq", n_buckets=n_buckets)
    assert 1 <= len(touched2) <= 3  # at most one bucket per changed key

    after = bucket_files()
    for d, files in before.items():
        b_id = int(d.split("=", 1)[1])
        if b_id in touched2:
            continue
        assert after[d] == files, f"untouched {d} was rewritten"

    cols = ["id", "val"] + (["eff_from", "eff_to"] if semantics == "scd2" else [])

    def canon(tw):
        return sorted(
            (tuple(r) for r in tw.read("t").select(*cols).collect()), key=repr
        )

    assert canon(tw_bkt) == canon(tw_full)
    rows = canon(tw_bkt)
    if semantics == "scd2":
        # SCD2 invariants hold in the bucketed layout too
        open_rows = [r for r in rows if r[3] is None]
        assert len(open_rows) == 39  # 40 keys - 1 deleted
        assert ("k1", "V1", 100, None) in rows and ("k1", "v1", 1, 100) in rows
    else:
        assert len(rows) == 39 and ("k1", "V1") in rows
        assert not any(r[0] == "k3" for r in rows)


def test_index_job_neardup_build_and_maintain(spark, tmp_path, sf_dir):
    """index: {kind: neardup} materializes the graph-edge artifact
    from YAML; a later {mode: maintain} run compacts it. The edges
    equal the hand-built pipeline's."""
    from reader_spark.config import load_settings
    from reader_spark.job import run_job
    from reader_spark.operators import dedup as DD
    from reader_spark.session import read_table

    out = str(tmp_path / "idx")
    cfg = f"""
source:
  kind: parquet
  options: {{path: {sf_dir}}}
  tables: [{{name: documents}}]
destination:
  kind: parquet
  path: {out}
index:
  kind: neardup
  num_hashes: 8
  band_size: 2
  threshold: 0.8
  components: true
  cc_buckets: 4
"""
    res = run_job(spark, load_settings(cfg))
    assert res == {"documents": f"{out}/documents"}
    docs = read_table(spark, sf_dir, "documents")
    toks = DD.token_hashes(docs)
    sigs = DD.minhash_signature(toks, num_hashes=8, hashes_col="toks")
    pairs = DD.lsh_candidate_pairs(sigs, num_hashes=8, band_size=2)
    want = sorted(
        (r["doc_a"], r["doc_b"])
        for r in DD.jaccard_verify(pairs, docs, threshold=0.8, toks=toks)
        .select("doc_a", "doc_b").collect()
    )
    got = sorted(
        (r["doc_a"], r["doc_b"])
        for r in DD.neardup_edges(spark, f"{out}/documents").collect()
    )
    assert got == want and got
    # components: true also materialized the cc/ map == a direct CC run
    from pyspark.sql import functions as F

    comp = DD.connected_components(
        DD.neardup_edges(spark, f"{out}/documents")
    )
    want_cc = {
        r["doc_id"]: r["label"]
        for r in docs.select("doc_id")
        .join(comp, docs.doc_id == comp.node, "left")
        .select(
            "doc_id", F.coalesce(comp.label, docs.doc_id).alias("label")
        )
        .collect()
    }
    got_cc = {
        r["doc_id"]: r["component_id"]
        for r in DD.neardup_canonical(spark, f"{out}/documents").collect()
    }
    assert got_cc == want_cc
    # maintain pass over the existing artifact
    mres = run_job(spark, load_settings(cfg.replace(
        "threshold: 0.8", "threshold: 0.8\n  mode: maintain")))
    assert "compacted" in mres["documents"]
    assert sorted(
        (r["doc_a"], r["doc_b"])
        for r in DD.neardup_edges(spark, f"{out}/documents").collect()
    ) == want


def test_drift_job_baseline_then_check(spark, tmp_path, sf_dir):
    """drift: {mode: baseline} publishes the reference histogram from
    YAML; a later {mode: check} run verdicts the (here: identical)
    source against it and appends to the drift log."""
    from reader_spark.config import load_settings
    from reader_spark.job import run_job

    out = str(tmp_path / "dq")
    cfg = f"""
source:
  kind: parquet
  options: {{path: {sf_dir}}}
  tables: [{{name: events}}]
destination:
  kind: parquet
  path: {out}
drift:
  value_column: value
  n_buckets: 10
"""
    res = run_job(spark, load_settings(cfg))
    assert res == {"events": f"{out}/events/_driftref"}
    chk = run_job(spark, load_settings(cfg.replace(
        "n_buckets: 10", "n_buckets: 10\n  mode: check")))
    assert "tvd_ppm=0" in chk["events"]  # identical source: no drift
    log = spark.read.parquet(f"{out}/events/_driftlog").collect()
    assert len(log) == 1 and log[0]["n_drifted_buckets"] == 0


def test_drift_job_categorical_yaml(spark, tmp_path, sf_dir):
    """drift: {category_column} drives the categorical family from
    YAML: baseline publishes the top-K + OTHER share histogram, a
    later check verdicts the source's category mix against it and
    appends to the drift log (identical source -> zero drift)."""
    from reader_spark.config import load_settings
    from reader_spark.job import run_job

    out = str(tmp_path / "dqc")
    cfg = f"""
source:
  kind: parquet
  options: {{path: {sf_dir}}}
  tables: [{{name: documents}}]
destination:
  kind: parquet
  path: {out}
drift:
  category_column: source
  top_k: 12
"""
    res = run_job(spark, load_settings(cfg))
    assert res == {"documents": f"{out}/documents/_driftref"}
    chk = run_job(spark, load_settings(cfg.replace(
        "top_k: 12", "top_k: 12\n  mode: check")))
    assert "tvd_ppm=0" in chk["documents"]
    log = spark.read.parquet(f"{out}/documents/_driftlog").collect()
    assert len(log) == 1 and log[0]["n_drifted_categories"] == 0
    # exactly one of value_column / category_column is enforced
    import pytest as _pt

    with _pt.raises(ValueError):
        load_settings(cfg.replace(
            "category_column: source",
            "category_column: source\n  value_column: n_chars"))
    with _pt.raises(ValueError):
        load_settings(cfg.replace("category_column: source\n", ""))


def test_upsert_schema_evolution_add_and_drop(spark, tmp_path):
    """Upstream DDL lands as NULL-padded evolution, not dropped data
    or a crashed merge: a NEW change column appears on the
    destination (existing rows NULL), a DROPPED column stays (new
    rows NULL)."""
    tw = TransferWriter(spark, str(tmp_path))
    tw.append("t", base_df(spark))
    added = spark.createDataFrame(
        [(4, "d", "extra4", "c", 1), (1, "a1", "extra1", "u", 2)],
        "id long, val string, note string, op string, seq long",
    )
    tw.upsert("t", added, ["id"], "seq")
    got = {r["id"]: (r["val"], r["note"]) for r in tw.read("t").collect()}
    assert got[4] == ("d", "extra4") and got[1] == ("a1", "extra1")
    assert got[2] == ("b", None) and got[3] == ("c", None)  # evolved NULLs
    # dropped column: the change set no longer carries `note`
    dropped = spark.createDataFrame(
        [(5, "e", "c", 3), (4, "d2", "u", 4)],
        "id long, val string, op string, seq long",
    )
    tw.upsert("t", dropped, ["id"], "seq")
    got = {r["id"]: (r["val"], r["note"]) for r in tw.read("t").collect()}
    assert got[5] == ("e", None) and got[4] == ("d2", None)
    assert got[1] == ("a1", "extra1")  # untouched rows keep their data


def test_bucketed_upsert_schema_evolution_untouched_buckets(spark, tmp_path):
    """Evolution under the bucketed layout: only touched buckets are
    rewritten, so files legitimately disagree on schema — the
    mergeSchema read must still surface the new column (NULL on
    untouched buckets) and preserve every row."""
    tw = TransferWriter(spark, str(tmp_path))
    seed = spark.range(0, 100).selectExpr(
        "id", "concat('v', id) AS v", "'c' AS op", "0L AS seq"
    )
    tw.upsert_bucketed("t", seed, ["id"], "seq", n_buckets=8)
    changes = spark.createDataFrame(
        [(7, "V7", "N7", "u", 1)],
        "id long, v string, note string, op string, seq long",
    )
    touched = tw.upsert_bucketed("t", changes, ["id"], "seq", n_buckets=8)
    assert len(touched) == 1
    out = {r["id"]: (r["v"], r["note"]) for r in tw.read("t").collect()}
    assert len(out) == 100
    assert out[7] == ("V7", "N7")
    assert out[0] == ("v0", None)  # untouched bucket: evolved NULL


def test_bucketed_evolution_manifest_pinned_before_swap(spark, tmp_path):
    """Crash-ordering invariant (r8 advice): the widened manifest is
    written BEFORE the bucket swap. A crash between the two leaves a
    manifest advertising a column old files lack (pinned reads
    null-fill — harmless); the old order left a STALE manifest that
    hid the evolved column, so the next upsert read base without it
    and rewrote touched buckets with NULLs over real values."""
    import json

    from reader_spark.operators import transfer as TR

    tw = TransferWriter(spark, str(tmp_path))
    seed = spark.range(0, 100).selectExpr(
        "id", "concat('v', id) AS v", "'c' AS op", "0L AS seq"
    )
    tw.upsert_bucketed("t", seed, ["id"], "seq", n_buckets=8)
    changes = spark.createDataFrame(
        [(7, "V7", "N7", "u", 1)],
        "id long, v string, note string, op string, seq long",
    )
    # crash INSIDE the swap, after the manifest write
    orig = TR.TransferWriter.__dict__["_swap_buckets"]

    def boom(path, staging, touched):
        raise RuntimeError("crash before swap")

    TR.TransferWriter._swap_buckets = staticmethod(boom)
    try:
        import pytest as _pt

        with _pt.raises(RuntimeError):
            tw.upsert_bucketed("t", changes, ["id"], "seq", n_buckets=8)
    finally:
        TR.TransferWriter._swap_buckets = orig
    root = tw._data_root("t")
    with open(f"{root}/_schema.json") as f:
        pinned = [fl["name"] for fl in json.load(f)["fields"]]
    assert "note" in pinned  # widened manifest already pinned
    # the live data was never swapped: read null-fills the new column
    out = {r["id"]: (r["v"], r["note"]) for r in tw.read("t").collect()}
    assert len(out) == 100 and out[7] == ("v7", None)
    # retrying the merge applies cleanly and LOSES NOTHING
    tw.upsert_bucketed("t", changes, ["id"], "seq", n_buckets=8)
    out = {r["id"]: (r["v"], r["note"]) for r in tw.read("t").collect()}
    assert out[7] == ("V7", "N7") and out[0] == ("v0", None)
    assert len(out) == 100


def test_curation_job_component_split(spark, tmp_path, sf_dir):
    """curate: {split: component} writes per-split shard trees whose
    union is the gated corpus, with every near-dup family entirely
    inside ONE split (the leakage guard, asserted against an
    independently derived component map)."""
    from reader_spark.config import load_settings
    from reader_spark.job import run_job
    from reader_spark.operators import dedup as DD
    from reader_spark.session import read_table

    out = str(tmp_path / "shards")
    cfg = f"""
source:
  kind: parquet
  options: {{path: {sf_dir}}}
  tables: [{{name: documents}}]
destination:
  kind: parquet
  path: {out}
curate:
  dedup: none
  split: component
  n_shards: 2
"""
    res = run_job(spark, load_settings(cfg))
    assert res["documents"] == f"{out}/documents"
    docs = read_table(spark, sf_dir, "documents")
    parts = {}
    total = 0
    for s in ("train", "val", "test"):
        ids = {
            r["doc_id"]
            for r in spark.read.parquet(f"{out}/documents/{s}")
            .select("doc_id").collect()
        }
        parts[s] = ids
        total += len(ids)
        assert int(res[f"manifest:documents/{s}"]) == len(ids)
    assert total == docs.count()  # partition of the corpus
    # independent component derivation: no family straddles splits
    base = DD.token_hashes(docs)
    sigs = DD.minhash_signature(base, num_hashes=16, hashes_col="toks")
    pairs = DD.lsh_candidate_pairs(sigs, num_hashes=16, band_size=8)
    comp = DD.connected_components(
        DD.jaccard_verify(pairs, docs, threshold=0.8, toks=base)
    )
    fam = {}
    for r in comp.collect():
        fam.setdefault(r["label"], set()).add(r["node"])
    where = {s: ids for s, ids in parts.items()}
    for members in fam.values():
        homes = {s for s, ids in where.items() if members & ids}
        assert len(homes) == 1, f"family straddles splits: {members}"


def test_curation_split_from_materialized_index(spark, tmp_path, sf_dir):
    """curate: {split: component, component_index: <idx>} reads the
    cc/ artifact instead of re-deriving the near-dup pipeline — same
    assignment as the derive path (labels differ only in never being
    computed twice)."""
    from reader_spark.config import load_settings
    from reader_spark.job import run_job
    from reader_spark.operators import dedup as DD
    from reader_spark.session import read_table

    docs = read_table(spark, sf_dir, "documents")
    idx = str(tmp_path / "ndidx")
    DD.neardup_index_write(docs, idx)
    DD.neardup_cc_write(spark, idx, n_buckets=8)
    out = str(tmp_path / "shards")
    cfg = f"""
source:
  kind: parquet
  options: {{path: {sf_dir}}}
  tables: [{{name: documents}}]
destination:
  kind: parquet
  path: {out}
curate:
  dedup: none
  split: component
  component_index: {idx}
  n_shards: 2
"""
    res = run_job(spark, load_settings(cfg))
    out2 = str(tmp_path / "shards_derive")
    res2 = run_job(spark, load_settings(
        cfg.replace(f"component_index: {idx}\n  ", "").replace(out, out2)
    ))
    for s in ("train", "val", "test"):
        a = {r["doc_id"] for r in spark.read.parquet(
            f"{out}/documents/{s}").select("doc_id").collect()}
        b = {r["doc_id"] for r in spark.read.parquet(
            f"{out2}/documents/{s}").select("doc_id").collect()}
        assert a == b  # index path == derive path, split for split


@pytest.mark.slow  # r13 tier: see pytest.ini
def test_index_job_stream_mode_maintains_neardup(spark, tmp_path, sf_dir):
    """index: {mode: stream} drains a jsonl backlog through the
    neardup maintainer from YAML: edges AND component map equal a
    scratch rebuild over the full corpus; a second run with nothing
    new is a checkpointed no-op."""
    import json as _json

    from reader_spark.config import load_settings
    from reader_spark.job import run_job
    from reader_spark.operators import dedup as DD
    from reader_spark.session import read_table

    docs = read_table(spark, sf_dir, "documents").filter("doc_id < 400")
    out = str(tmp_path / "idx")
    DD.neardup_index_write(
        docs.filter("doc_id % 5 != 0"), f"{out}/documents",
        num_hashes=8, band_size=2, threshold=0.8,
    )
    DD.neardup_cc_write(spark, f"{out}/documents", n_buckets=4)
    stream_dir = tmp_path / "in" / "documents"
    stream_dir.mkdir(parents=True)
    with open(stream_dir / "delta.jsonl", "w") as f:
        for r in docs.filter("doc_id % 5 = 0").collect():
            f.write(_json.dumps(
                {"doc_id": r["doc_id"], "text": r["text"]}) + "\n")
    cfg = f"""
source:
  kind: jsonl
  streaming: true
  options: {{path: {tmp_path / 'in'}}}
  tables: [{{name: documents}}]
destination:
  kind: parquet
  path: {out}
index:
  kind: neardup
  mode: stream
  num_hashes: 8
  band_size: 2
  threshold: 0.8
"""
    res = run_job(spark, load_settings(cfg))
    assert "drained" in res["documents"]
    scratch = str(tmp_path / "scratch")
    DD.neardup_index_write(docs, scratch, num_hashes=8, band_size=2,
                           threshold=0.8)
    DD.neardup_cc_write(spark, scratch, n_buckets=4)

    def edges(p):
        return sorted(
            (r["doc_a"], r["doc_b"])
            for r in DD.neardup_edges(spark, p).collect()
        )

    def cc(p):
        return {
            r["doc_id"]: r["component_id"]
            for r in DD.neardup_canonical(spark, p).collect()
        }

    assert edges(f"{out}/documents") == edges(scratch)
    assert cc(f"{out}/documents") == cc(scratch)
    # re-run: checkpoint replays nothing
    before = edges(f"{out}/documents")
    run_job(spark, load_settings(cfg))
    assert edges(f"{out}/documents") == before


def test_index_job_stream_explicit_checkpoint_is_per_table(
    spark, tmp_path, sf_dir
):
    """An explicit source options.checkpoint_dir is suffixed per
    table (r8 advice): two tables looping through sequential
    streaming queries must never share one checkpoint — Spark's
    offset/seen-files logs would mix across sources and the second
    table's backlog would be silently skipped."""
    import json as _json
    import os as _os

    from reader_spark.config import load_settings
    from reader_spark.job import run_job
    from reader_spark.operators import dedup as DD
    from reader_spark.session import read_table

    docs = read_table(spark, sf_dir, "documents").filter("doc_id < 200")
    out = str(tmp_path / "idx")
    for t in ("ta", "tb"):
        DD.neardup_index_write(
            docs.filter("doc_id % 5 != 0"), f"{out}/{t}",
            num_hashes=8, band_size=2, threshold=0.8,
        )
        d = tmp_path / "in" / t
        d.mkdir(parents=True)
        with open(d / "delta.jsonl", "w") as f:
            for r in docs.filter("doc_id % 5 = 0").collect():
                f.write(_json.dumps(
                    {"doc_id": r["doc_id"], "text": r["text"]}) + "\n")
    cfg = f"""
source:
  kind: jsonl
  streaming: true
  options:
    path: {tmp_path / 'in'}
    checkpoint_dir: {tmp_path / 'sharedck'}
  tables: [{{name: ta}}, {{name: tb}}]
destination:
  kind: parquet
  path: {out}
index:
  kind: neardup
  mode: stream
  num_hashes: 8
  band_size: 2
  threshold: 0.8
"""
    res = run_job(spark, load_settings(cfg))
    assert "drained" in res["ta"] and "drained" in res["tb"]
    # per-table checkpoints exist under the user-provided dir
    kids = set(_os.listdir(tmp_path / "sharedck"))
    assert {"ta", "tb"} <= kids
    # BOTH tables drained their identical backlog: same edge sets
    ea = sorted((r["doc_a"], r["doc_b"])
                for r in DD.neardup_edges(spark, f"{out}/ta").collect())
    eb = sorted((r["doc_a"], r["doc_b"])
                for r in DD.neardup_edges(spark, f"{out}/tb").collect())
    assert ea == eb and len(ea) > 0


def test_index_job_stream_mode_maintains_ivf(spark, tmp_path, sf_dir):
    """index: {kind: ivf, mode: stream}: a parquet vector backlog
    drains through ivf_index_maintainer; the updated index returns
    search results identical to a full re-index under the same
    stored quantizer."""
    from reader_spark.config import load_settings
    from reader_spark.job import run_job
    from reader_spark.operators import similarity as SIM
    from reader_spark.session import read_table

    from pyspark.sql import functions as F

    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    ).filter("vec_id < 300")
    seed = emb.filter("vec_id % 3 != 0")
    out = str(tmp_path / "idx")
    model = SIM.ivf_fit(seed, 8, seed=7)
    SIM.ivf_index_write(seed, f"{out}/embeddings", model)
    in_dir = tmp_path / "in" / "embeddings"
    in_dir.mkdir(parents=True)
    emb.filter("vec_id % 3 = 0").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    ).coalesce(1).write.mode("overwrite").parquet(str(in_dir))
    cfg = f"""
source:
  kind: parquet
  streaming: true
  options: {{path: {tmp_path / 'in'}}}
  tables: [{{name: embeddings}}]
destination:
  kind: parquet
  path: {out}
index:
  kind: ivf
  mode: stream
  id_column: vec_id
"""
    res = run_job(spark, load_settings(cfg))
    assert "drained" in res["embeddings"]
    queries = emb.filter("vec_id % 50 = 1").limit(5)
    got = sorted(
        tuple(r) for r in SIM.knn_ivf_indexed(
            spark, f"{out}/embeddings", queries, k=3, nprobe=8
        ).collect()
    )
    rebuilt = str(tmp_path / "rebuilt")
    SIM.ivf_index_write(emb, rebuilt, model)
    want = sorted(
        tuple(r) for r in SIM.knn_ivf_indexed(
            spark, rebuilt, queries, k=3, nprobe=8
        ).collect()
    )
    assert got == want


def test_index_job_stream_autorefit_closed_loop(spark, tmp_path, sf_dir):
    """index: {kind: ivf, mode: stream, autorefit: true} runs the
    full closed loop from YAML: health tables bootstrap on first run,
    a stable backlog leaves the index version alone, and the health
    table equals a full rescan (the monoid-merge contract)."""
    from pyspark.sql import functions as F

    from reader_spark.config import load_settings
    from reader_spark.job import run_job
    from reader_spark.operators import atomic_dir
    from reader_spark.operators import similarity as SIM
    from reader_spark.session import read_table

    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    ).filter("vec_id < 300")
    seed = emb.filter("vec_id % 3 != 0")
    out = str(tmp_path / "idx")
    idx = f"{out}/embeddings"
    model = SIM.ivf_fit(seed, 8, seed=7)
    SIM.ivf_index_write(seed, idx, model)
    in_dir = tmp_path / "in" / "embeddings"
    in_dir.mkdir(parents=True)
    emb.filter("vec_id % 3 = 0").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    ).coalesce(1).write.mode("overwrite").parquet(str(in_dir))
    cfg = f"""
source:
  kind: parquet
  streaming: true
  options: {{path: {tmp_path / 'in'}}}
  tables: [{{name: embeddings}}]
destination:
  kind: parquet
  path: {out}
index:
  kind: ivf
  mode: stream
  autorefit: true
  id_column: vec_id
  n_clusters: 8
"""
    v0 = atomic_dir.versions(idx)[-1] if atomic_dir.versions(idx) else None
    res = run_job(spark, load_settings(cfg))
    assert "drained" in res["embeddings"]
    # same-distribution backlog: no refit fired
    v1 = atomic_dir.versions(idx)[-1] if atomic_dir.versions(idx) else None
    assert v0 == v1
    # health == full rescan after the drain
    got = {tuple(r) for r in SIM.ivf_health_read(
        spark, f"{idx}/health").collect()}
    hp2 = str(tmp_path / "rescan")
    SIM.ivf_health_write(spark, idx, hp2)
    want = {tuple(r) for r in SIM.ivf_health_read(spark, hp2).collect()}
    assert got == want
    assert sum(r[1] for r in got) == emb.count()


@pytest.mark.parametrize(
    "verb",
    ["upsert", "upsert_bucketed", "upsert_scd2", "upsert_scd2_bucketed"],
)
def test_upsert_missing_pk_fails_loudly(spark, tmp_path, verb):
    """Schema evolution must never null-fill the PRIMARY KEY: a
    change set without it is unmergeable, and every MERGE verb raises
    the same ValueError instead of collapsing into one null-key group
    or failing inside the bucket hash or the interval window."""
    tw = TransferWriter(spark, str(tmp_path))
    kw = {"n_buckets": 4} if verb.endswith("_bucketed") else {}
    merge = getattr(tw, verb)
    merge("t", changes_df(spark), ["id"], "seq", **kw)
    bad = spark.createDataFrame(
        [("x", "c", 1)], "val string, op string, seq long"
    )
    with pytest.raises(ValueError, match="missing primary-key"):
        merge("t", bad, ["id"], "seq", **kw)


@pytest.mark.parametrize("verb", ["upsert", "upsert_scd2"])
def test_bucketed_verb_on_flat_table_raises_before_pinning(
    spark, tmp_path, verb
):
    """A bucketed merge on a table the flat verb created fails with a
    ValueError naming the flat layout, and writes no `_layout.json`
    into the flat version dir (a false pin would ride along through
    later truncate/compact calls). The table is left as it was."""
    from reader_spark.operators.transfer import _read_layout_manifest

    tw = TransferWriter(spark, str(tmp_path))
    getattr(tw, verb)("t", changes_df(spark), ["id"], "seq")
    before = sorted((tuple(r) for r in tw.read("t").collect()), key=repr)
    with pytest.raises(ValueError, match="flat layout"):
        getattr(tw, verb + "_bucketed")(
            "t", changes_df(spark), ["id"], "seq", n_buckets=4
        )
    assert _read_layout_manifest(tw._data_root("t")) is None
    assert sorted((tuple(r) for r in tw.read("t").collect()), key=repr) == before


def test_schema_manifest_pins_reads_no_footer_merge(spark, tmp_path):
    """Upsert verbs pin the table schema as _schema.json next to the
    data; reads use it (old-file missing columns null-fill by name)
    instead of footer-merging every file — the manifest answer at
    the many-thousand-file tier."""
    import json
    import os

    from reader_spark.operators import atomic_dir

    tw = TransferWriter(spark, str(tmp_path))
    seed = spark.range(0, 100).selectExpr(
        "id", "concat('v', id) AS v", "'c' AS op", "0L AS seq"
    )
    tw.upsert_bucketed("t", seed, ["id"], "seq", n_buckets=8)
    assert os.path.isfile(str(tmp_path / "t" / "_schema.json"))
    changes = spark.createDataFrame(
        [(7, "V7", "N7", "u", 1)],
        "id long, v string, note string, op string, seq long",
    )
    tw.upsert_bucketed("t", changes, ["id"], "seq", n_buckets=8)
    with open(str(tmp_path / "t" / "_schema.json")) as f:
        names = [fld["name"] for fld in json.load(f)["fields"]]
    assert "note" in names  # manifest re-pinned after evolution
    out = {r["id"]: (r["v"], r["note"]) for r in tw.read("t").collect()}
    assert out[7] == ("V7", "N7") and out[0] == ("v0", None)
    # full-rewrite upsert carries the manifest inside the version dir
    tw2 = TransferWriter(spark, str(tmp_path / "full"))
    tw2.upsert("u", changes, ["id"], "seq")
    root = atomic_dir.resolve(str(tmp_path / "full" / "u"))
    assert os.path.isfile(os.path.join(root, "_schema.json"))
    assert {r["id"] for r in tw2.read("u").collect()} == {7}


def test_truncate_verb_keeps_schema_and_versions(spark, tmp_path):
    """TransferWriter.truncate: rows clear behind a pointer flip, the
    schema stays readable (zero rows, same columns incl. evolved
    ones), the displaced snapshot stays on disk for in-flight readers,
    and a later bucketed upsert seeds cleanly onto the cleared
    layout."""
    import os

    from pyspark.sql import functions as F

    from reader_spark.operators import atomic_dir
    from reader_spark.operators.transfer import TransferWriter

    w = TransferWriter(spark, str(tmp_path / "dest"))
    seed = spark.range(6).select(
        F.col("id"), F.concat(F.lit("n"), F.col("id")).alias("name"),
        F.lit("c").alias("op"), F.lit(1).alias("seq"),
    )
    w.upsert_bucketed("t", seed, ["id"], "seq", n_buckets=4)
    assert w.read("t").count() == 6
    pre = atomic_dir.resolve(str(tmp_path / "dest" / "t"))

    w.truncate("t")
    # the pre-truncate snapshot is the one displaced version kept
    assert os.path.isdir(pre) and len(os.listdir(pre)) > 0
    emptied = w.read("t")
    assert emptied.count() == 0
    assert {"id", "name"} <= set(emptied.columns)  # schema survives
    # truncate twice = no-op (replayed micro-batch)
    w.truncate("t")
    assert w.read("t").count() == 0

    post = spark.range(2).select(
        (F.col("id") + 10).alias("id"),
        F.lit("x").alias("name"),
        F.lit("c").alias("op"), F.lit(2).alias("seq"),
    )
    w.upsert_bucketed("t", post, ["id"], "seq", n_buckets=4)
    assert sorted(r["id"] for r in w.read("t").collect()) == [10, 11]

    # truncate of a table that never existed is a silent no-op
    w.truncate("missing")


def test_sketch_rebuild_is_the_delete_path(spark, tmp_path, sf_dir):
    """sketch: {mode: rebuild} — the documented right-to-be-forgotten
    verb for maintained sketch tables: monotone tile merges (KMV
    union, bottom-k containment, CMS increment) cannot un-merge a
    forgotten document, so deletion = rebuild from the surviving
    corpus. Roundtrip: build tiles, maintain them past the build
    (so the stored table provably diverges from any fresh build),
    delete documents, rebuild — the published tiles equal a fresh
    build over the survivors, for all three kinds."""
    from pyspark.sql import functions as F

    from reader_spark.config import load_settings
    from reader_spark.job import run_job
    from reader_spark.operators import sketches as SK

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    full = docs.limit(200)
    survivors = full.filter(F.col("doc_id") % 3 != 0)
    corpus = str(tmp_path / "corpus")
    full.write.parquet(f"{corpus}/documents.parquet")

    def cfg(mode, kind, extra=""):
        return f"""
source:
  kind: parquet
  options: {{path: {corpus}}}
  tables: [{{name: documents}}]
destination:
  kind: parquet
  path: {tmp_path}/tiles_{kind}
sketch:
  kind: {kind}
  key_columns: [source]
  value_column: doc_id
  k: 16
  mode: {mode}{extra}
"""

    def rows(df):
        def norm(v):
            return tuple(v) if isinstance(v, list) else v

        return sorted(tuple(norm(v) for v in r) for r in df.collect())

    # --- kmv ---------------------------------------------------------
    out = f"{tmp_path}/tiles_kmv/documents"
    res = run_job(spark, load_settings(cfg("build", "kmv")))
    assert res == {"documents": f"{out} (build)"}
    # maintain past the build: stored tiles now cover rows a fresh
    # build over the ORIGINAL corpus would too, but the update proves
    # the rebuild truly resets (epoch) rather than merging
    SK.kmv_tiles_update(
        spark, out, full.limit(50), ["source"], "doc_id", k=16, epoch=7
    )
    # the deletion: survivors replace the corpus, then rebuild
    survivors.write.mode("overwrite").parquet(
        f"{corpus}/documents.parquet"
    )
    run_job(spark, load_settings(cfg("rebuild", "kmv")))
    fresh = str(tmp_path / "fresh_kmv")
    SK.kmv_tiles_write(survivors, fresh, ["source"], "doc_id", k=16)
    got = rows(SK.kmv_tiles_read(spark, out))
    want = rows(SK.kmv_tiles_read(spark, fresh))
    assert got == want

    # --- bottomk -----------------------------------------------------
    out = f"{tmp_path}/tiles_bottomk/documents"
    run_job(spark, load_settings(
        cfg("rebuild", "bottomk", "\n  id_column: doc_id")))
    fresh = str(tmp_path / "fresh_bottomk")
    SK.bottomk_tiles_write(
        survivors, fresh, ["source"], "doc_id", k=16, id_col="doc_id"
    )
    got = rows(SK.bottomk_tiles_read(spark, out))
    want = rows(SK.bottomk_tiles_read(spark, fresh))
    assert got == want

    # --- cms (rebuild atomically retires a MAINTAINED published
    # layout — cms_tiles_write now pointer-flips like the others) ----
    out = f"{tmp_path}/tiles_cms/documents"
    run_job(spark, load_settings(cfg("build", "cms")))
    SK.cms_tiles_update(
        spark, out, full.select(F.col("doc_id").alias("term")), epoch=3
    )
    run_job(spark, load_settings(cfg("rebuild", "cms")))
    fresh = str(tmp_path / "fresh_cms")
    SK.cms_tiles_write(survivors.select(F.col("doc_id").alias("term")), fresh)
    got = rows(SK.cms_tiles_read(spark, out))
    want = rows(SK.cms_tiles_read(spark, fresh))
    assert got == want


def test_drift_job_vector_yaml(spark, tmp_path, sf_dir):
    """drift: {vector_column} drives the embedding family from YAML:
    baseline publishes the per-dimension mean reference, a later
    check verdicts the source's embeddings against it and appends to
    the drift log (identical source -> no drift); exactly-one-family
    validation rejects ambiguous configs."""
    import pytest

    from reader_spark.config import load_settings
    from reader_spark.job import run_job

    out = str(tmp_path / "dqv")
    cfg = f"""
source:
  kind: parquet
  options: {{path: {sf_dir}}}
  tables: [{{name: embeddings}}]
destination:
  kind: parquet
  path: {out}
drift:
  vector_column: embedding
"""
    res = run_job(spark, load_settings(cfg))
    assert res == {"embeddings": f"{out}/embeddings/_driftref"}
    chk = run_job(spark, load_settings(
        cfg + "  mode: check\n"))
    assert "drifted=False" in chk["embeddings"]
    log = spark.read.parquet(f"{out}/embeddings/_driftlog").collect()
    assert len(log) == 1 and log[0]["n_dims"] == 64

    with pytest.raises(ValueError):
        load_settings(cfg + "  value_column: v\n")


def test_drift_job_watch_yaml(spark, tmp_path, sf_dir):
    """drift: {mode: watch} drives the streaming drift family from
    YAML: a baseline run publishes the reference, then a watch run
    drains jsonl files landing under <source>/<table> exactly-once
    (availableNow) and logs one verdict row per micro-batch at
    <destination>/<table>/_driftwatch; a re-run with no new files
    adds nothing."""
    import json as _json

    from reader_spark.config import load_settings
    from reader_spark.job import run_job

    out = str(tmp_path / "dqw")
    # baseline from the parquet events table
    base_cfg = f"""
source:
  kind: parquet
  options: {{path: {sf_dir}}}
  tables: [{{name: events}}]
destination:
  kind: parquet
  path: {out}
drift:
  value_column: value
  n_buckets: 10
"""
    run_job(spark, load_settings(base_cfg))

    stream_dir = tmp_path / "incoming" / "events"
    stream_dir.mkdir(parents=True)
    vals = [r["value"] for r in spark.read.parquet(
        f"{sf_dir}/events.parquet").limit(50).collect()]
    with open(stream_dir / "wave1.jsonl", "w") as f:
        for v in vals:
            f.write(_json.dumps({"value": v}) + "\n")

    watch_cfg = f"""
source:
  kind: jsonl
  options: {{path: {tmp_path}/incoming}}
  tables: [{{name: events}}]
destination:
  kind: parquet
  path: {out}
drift:
  value_column: value
  n_buckets: 10
  mode: watch
"""
    res = run_job(spark, load_settings(watch_cfg))
    assert res == {"events": f"{out}/events/_driftwatch"}
    log = spark.read.parquet(f"{out}/events/_driftwatch").collect()
    assert len(log) == 1 and log[0]["n_cur"] == 50

    # drained backlog: a re-run adds no rows (exactly-once)
    run_job(spark, load_settings(watch_cfg))
    assert len(spark.read.parquet(f"{out}/events/_driftwatch").collect()) == 1

    # a second wave appends exactly one more verdict row
    with open(stream_dir / "wave2.jsonl", "w") as f:
        for v in vals[:10]:
            f.write(_json.dumps({"value": v * 1000.0}) + "\n")
    run_job(spark, load_settings(watch_cfg))
    rows = {r["batch"]: r for r in
            spark.read.parquet(f"{out}/events/_driftwatch").collect()}
    assert len(rows) == 2
    shifted = rows[max(rows)]
    assert shifted["n_cur"] == 10 and shifted["tvd_ppm"] > 0


def test_sketch_stream_maintains_tiles(spark, tmp_path, sf_dir):
    """sketch: {mode: stream} drains jsonl waves through the kind's
    maintainer exactly-once: after two waves the stored KMV tiles
    equal a fresh build over seed + both waves (exact containment
    merge), and a re-run with no new files changes nothing."""
    import json as _json

    from pyspark.sql import functions as F

    from reader_spark.config import load_settings
    from reader_spark.job import run_job
    from reader_spark.operators import sketches as SK

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(150)
    seed = docs.filter(F.col("doc_id") % 3 == 0)
    w1 = docs.filter(F.col("doc_id") % 3 == 1)
    w2 = docs.filter(F.col("doc_id") % 3 == 2)
    corpus = str(tmp_path / "corpus")
    seed.write.parquet(f"{corpus}/documents.parquet")

    out_base = str(tmp_path / "tiles")
    build_cfg = f"""
source:
  kind: parquet
  options: {{path: {corpus}}}
  tables: [{{name: documents}}]
destination:
  kind: parquet
  path: {out_base}
sketch:
  kind: kmv
  key_columns: [source]
  value_column: doc_id
  k: 16
"""
    run_job(spark, load_settings(build_cfg))

    incoming = tmp_path / "incoming" / "documents"
    incoming.mkdir(parents=True)

    def dump(df, name):
        with open(incoming / name, "w") as f:
            for r in df.select("source", "doc_id").collect():
                f.write(_json.dumps(
                    {"source": r["source"], "doc_id": r["doc_id"]}) + "\n")

    stream_cfg = f"""
source:
  kind: jsonl
  options: {{path: {tmp_path}/incoming}}
  tables: [{{name: documents}}]
destination:
  kind: parquet
  path: {out_base}
sketch:
  kind: kmv
  key_columns: [source]
  value_column: doc_id
  k: 16
  value_type: long
  mode: stream
"""
    dump(w1, "w1.jsonl")
    run_job(spark, load_settings(stream_cfg))
    dump(w2, "w2.jsonl")
    run_job(spark, load_settings(stream_cfg))

    def rows(df):
        def norm(v):
            return tuple(v) if isinstance(v, list) else v

        return sorted(tuple(norm(v) for v in r) for r in df.collect())

    fresh = str(tmp_path / "fresh")
    SK.kmv_tiles_write(docs, fresh, ["source"], "doc_id", k=16)
    got = rows(SK.kmv_tiles_read(spark, f"{out_base}/documents"))
    assert got == rows(SK.kmv_tiles_read(spark, fresh))

    # drained: a re-run with no new files changes nothing
    run_job(spark, load_settings(stream_cfg))
    assert got == rows(SK.kmv_tiles_read(spark, f"{out_base}/documents"))


def test_drift_job_watch_categorical_and_vector_yaml(spark, tmp_path, sf_dir):
    """drift: {mode: watch} routes by configured column for the other
    two families: a categorical watch logs per-batch mix verdicts and
    an embedding watch logs per-batch vector verdicts, each against
    its own published baseline."""
    import json as _json

    from reader_spark.config import load_settings
    from reader_spark.job import run_job

    # --- categorical ------------------------------------------------
    out = str(tmp_path / "dqwc")
    base = f"""
source:
  kind: parquet
  options: {{path: {sf_dir}}}
  tables: [{{name: documents}}]
destination:
  kind: parquet
  path: {out}
drift:
  category_column: source
  top_k: 8
"""
    run_job(spark, load_settings(base))
    inc = tmp_path / "inc_cat" / "documents"
    inc.mkdir(parents=True)
    srcs = [r["source"] for r in spark.read.parquet(
        f"{sf_dir}/documents.parquet").limit(40).collect()]
    with open(inc / "w1.jsonl", "w") as f:
        for s in srcs:
            f.write(_json.dumps({"source": s}) + "\n")
    watch = f"""
source:
  kind: jsonl
  options: {{path: {tmp_path}/inc_cat}}
  tables: [{{name: documents}}]
destination:
  kind: parquet
  path: {out}
drift:
  category_column: source
  top_k: 8
  mode: watch
"""
    res = run_job(spark, load_settings(watch))
    assert res == {"documents": f"{out}/documents/_driftwatch"}
    log = spark.read.parquet(f"{out}/documents/_driftwatch").collect()
    assert len(log) == 1 and log[0]["n_cur"] == 40

    # --- embedding ----------------------------------------------------
    out2 = str(tmp_path / "dqwv")
    base2 = f"""
source:
  kind: parquet
  options: {{path: {sf_dir}}}
  tables: [{{name: embeddings}}]
destination:
  kind: parquet
  path: {out2}
drift:
  vector_column: embedding
"""
    run_job(spark, load_settings(base2))
    inc2 = tmp_path / "inc_vec" / "embeddings"
    inc2.mkdir(parents=True)
    vecs = [list(r["embedding"]) for r in spark.read.parquet(
        f"{sf_dir}/embeddings.parquet").limit(30).collect()]
    with open(inc2 / "w1.jsonl", "w") as f:
        for v in vecs:
            f.write(_json.dumps(
                {"embedding": [x + 0.5 for x in v]}) + "\n")
    watch2 = f"""
source:
  kind: jsonl
  options: {{path: {tmp_path}/inc_vec}}
  tables: [{{name: embeddings}}]
destination:
  kind: parquet
  path: {out2}
drift:
  vector_column: embedding
  mode: watch
"""
    run_job(spark, load_settings(watch2))
    log2 = spark.read.parquet(f"{out2}/embeddings/_driftwatch").collect()
    assert len(log2) == 1
    assert log2[0]["n_cur"] == 30 and log2[0]["drifted"]  # +0.5 shift


def test_checks_job_gate(spark, tmp_path, sf_dir):
    """checks: YAML gate — a clean table reads clean; a corrupted
    copy reads every violation class (PK dup, null, range, min_rows)
    in one verdict row; fail_on_violation raises before anything
    downstream would publish."""
    import pytest

    from reader_spark.config import load_settings
    from reader_spark.job import run_job

    out = str(tmp_path / "gate")
    clean_cfg = f"""
source:
  kind: parquet
  options: {{path: {sf_dir}}}
  tables: [{{name: events}}]
destination:
  kind: parquet
  path: {out}
checks:
  pk: [event_id]
  not_null: [event_type]
  ranges: {{value: [-1000000.0, 1000000.0]}}
  min_rows: 10
"""
    res = run_job(spark, load_settings(clean_cfg))
    assert "clean=True" in res["events"]
    log = spark.read.parquet(f"{out}/events/_checks").collect()
    # fixed LONG schema: one row per constraint, constraints as data
    by = {(r["constraint"], r["kind"]): r for r in log}
    assert by[("*", "verdict")]["value"] == 0
    assert by[("event_id", "pk_unique")]["ok"]
    assert by[("event_type", "not_null")]["value"] == 0
    assert by[("value", "range")]["ok"]

    # corrupt copy: dup PK, null type, out-of-range value, tiny table
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").limit(5)
    bad = ev.unionByName(ev.limit(1)).select(  # 1 dup key
        "event_id", "ts", "user_id",
        F.when(F.col("event_id") == ev.collect()[0]["event_id"],
               None).otherwise(F.col("event_type")).alias("event_type"),
        F.lit(9e12).alias("value"),            # every value out of range
        "props",
    )
    corrupted = str(tmp_path / "corrupt")
    bad.write.parquet(f"{corrupted}/events.parquet")
    bad_cfg = clean_cfg.replace(f"path: {sf_dir}", f"path: {corrupted}")
    res2 = run_job(spark, load_settings(bad_cfg))
    assert "clean=False" in res2["events"]
    rows = spark.read.parquet(f"{out}/events/_checks").collect()
    # the corrupt run's rows: pick the run by its failing verdict
    bad_ts = {r["run_ts"] for r in rows
              if r["kind"] == "verdict" and not r["ok"]}
    assert len(bad_ts) == 1
    v = {(r["constraint"], r["kind"]): r
         for r in rows if r["run_ts"] in bad_ts}
    assert v[("event_id", "pk_dup_keys")]["value"] == 1
    assert v[("event_id", "pk_unique")]["value"] == 1  # dup rows
    assert v[("event_type", "not_null")]["value"] >= 1
    assert v[("value", "range")]["value"] == 6
    assert not v[("rows", "min_rows")]["ok"]
    assert not v[("*", "verdict")]["ok"]

    with pytest.raises(ValueError, match="checks failed"):
        run_job(spark, load_settings(
            bad_cfg + "  fail_on_violation: true\n"))

    # THE regression the fixed schema exists for: a later run with a
    # DIFFERENT constraint set appends to the same log, and a plain
    # read (no mergeSchema) returns the whole history as one frame
    minimal_cfg = clean_cfg.replace(
        "  pk: [event_id]\n  not_null: [event_type]\n"
        "  ranges: {value: [-1000000.0, 1000000.0]}\n  min_rows: 10\n",
        "  min_rows: 1\n",
    )
    run_job(spark, load_settings(minimal_cfg))
    hist = spark.read.parquet(f"{out}/events/_checks")
    assert set(hist.columns) == {
        "run_ts", "constraint", "kind", "value", "ok"
    }
    assert hist.filter("kind = 'verdict'").count() == 4


def test_checks_legacy_wide_log_migrates_aside(spark, tmp_path, sf_dir):
    """A _checks log written by the pre-r10 WIDE-row form must not be
    appended to with the long schema (two incompatible schemas in one
    parquet dir breaks a plain read — the exact failure the long form
    exists to end): the legacy dir is moved to _checks_legacy and the
    fixed-schema log starts fresh."""
    import os

    from reader_spark.config import load_settings
    from reader_spark.job import run_job

    out = str(tmp_path / "gate")
    log = f"{out}/events/_checks"
    # simulate the pre-r10 wide row (config-derived columns)
    spark.createDataFrame(
        [(100, 0, True, True)],
        "n_rows long, null_event_type long, min_rows_ok boolean, "
        "clean boolean",
    ).write.parquet(log)
    cfg = f"""
source:
  kind: parquet
  options: {{path: {sf_dir}}}
  tables: [{{name: events}}]
destination:
  kind: parquet
  path: {out}
checks:
  min_rows: 1
"""
    run_job(spark, load_settings(cfg))
    hist = spark.read.parquet(log)  # plain read, no mergeSchema
    assert set(hist.columns) == {
        "run_ts", "constraint", "kind", "value", "ok"
    }
    assert hist.filter("kind = 'verdict'").count() == 1
    # the legacy history is preserved, readable on its own
    legacy = f"{log}_legacy"
    assert os.path.isdir(legacy)
    assert spark.read.parquet(legacy).collect()[0]["n_rows"] == 100
    # a second run appends to the migrated log without re-migrating
    run_job(spark, load_settings(cfg))
    assert spark.read.parquet(log).filter(
        "kind = 'verdict'"
    ).count() == 2
    assert not os.path.isdir(f"{log}_legacy1")


def test_checks_gate_freshness(spark, tmp_path):
    """checks: freshness enforcement — a just-written table passes a
    generous max_lag_s, the fixture's 2024 timestamps fail a tight
    one, and an empty table reads maximally stale."""
    from pyspark.sql import functions as F

    from reader_spark.config import load_settings
    from reader_spark.job import run_job

    src = str(tmp_path / "src")
    spark.range(20).select(
        F.col("id").alias("event_id"),
        F.current_timestamp().alias("ts"),
    ).write.parquet(f"{src}/events.parquet")

    out = str(tmp_path / "gate")
    cfg = f"""
source:
  kind: parquet
  options: {{path: {src}}}
  tables: [{{name: events}}]
destination:
  kind: parquet
  path: {out}
checks:
  pk: [event_id]
  ts_column: ts
  max_lag_s: 3600
"""
    res = run_job(spark, load_settings(cfg))
    assert "clean=True" in res["events"]
    fresh = [r for r in spark.read.parquet(
        f"{out}/events/_checks").collect()
        if r["kind"] == "freshness_lag_s"]
    assert len(fresh) == 1 and fresh[0]["ok"] and fresh[0]["value"] < 3600

    stale = spark.range(5).select(
        F.col("id").alias("event_id"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("ts"),
    )
    stale_src = str(tmp_path / "stale")
    stale.write.parquet(f"{stale_src}/events.parquet")
    res2 = run_job(spark, load_settings(
        cfg.replace(f"path: {src}", f"path: {stale_src}")))
    assert "clean=False" in res2["events"]

    empty_src = str(tmp_path / "empty")
    stale.limit(0).write.parquet(f"{empty_src}/events.parquet")
    res3 = run_job(spark, load_settings(
        cfg.replace(f"path: {src}", f"path: {empty_src}")))
    assert "clean=False" in res3["events"]  # empty = maximally stale

    import pytest

    with pytest.raises(ValueError, match="freshness"):
        load_settings(cfg.replace("  max_lag_s: 3600\n", ""))


def test_bucket_layout_pinned_across_mismatched_callers(spark, tmp_path):
    """n_buckets is a property of the TABLE, not the call: a merge
    invoked with a different default must resolve the
    seed-time pin from _layout.json — trusting the parameter would
    recompute pmod(hash, wrong_n), rewrite the wrong bucket dirs and
    leave the stale row behind as a duplicate PK."""
    import os

    from reader_spark.operators.transfer import (
        TransferWriter,
        _read_layout_manifest,
    )

    w = TransferWriter(spark, str(tmp_path))
    seed = spark.range(0, 500).selectExpr(
        "id", "concat('v', id) AS v", "'c' AS op", "0L AS seq"
    )
    w.upsert_bucketed("t", seed, ["id"], "seq", n_buckets=16)
    root = str(tmp_path / "t")
    assert _read_layout_manifest(root) == 16

    # merge with the OTHER default (64): pinned 16 must win
    delta = spark.createDataFrame(
        [(7, "V7", "u", 1)], "id long, v string, op string, seq long"
    )
    w.upsert_bucketed("t", delta, ["id"], "seq", n_buckets=64)
    got = w.read("t")
    assert got.count() == 500  # no duplicate for id=7
    assert {r["v"] for r in got.filter("id = 7").collect()} == {"V7"}
    ids = [
        int(d.split("=")[1])
        for d in os.listdir(root)
        if d.startswith("bucket=")
    ]
    assert max(ids) < 16


def test_legacy_layout_incompatible_buckets_raises(spark, tmp_path):
    """A legacy table (no _layout.json) merged with an n_buckets
    smaller than an existing bucket id is provably mismatched —
    fail loudly instead of scattering keys."""
    import os

    import pytest

    from reader_spark.operators.transfer import TransferWriter

    w = TransferWriter(spark, str(tmp_path))
    seed = spark.range(0, 500).selectExpr(
        "id", "concat('v', id) AS v", "'c' AS op", "0L AS seq"
    )
    w.upsert_bucketed("t", seed, ["id"], "seq", n_buckets=16)
    os.remove(str(tmp_path / "t" / "_layout.json"))

    delta = spark.createDataFrame(
        [(7, "V7", "u", 1)], "id long, v string, op string, seq long"
    )
    with pytest.raises(ValueError, match="incompatible"):
        w.upsert_bucketed("t", delta, ["id"], "seq", n_buckets=8)

    # a compatible legacy merge adopts AND pins the requested value
    w.upsert_bucketed("t", delta, ["id"], "seq", n_buckets=16)
    from reader_spark.operators.transfer import _read_layout_manifest

    assert _read_layout_manifest(str(tmp_path / "t")) == 16


def test_legacy_layout_larger_requested_count_probed(spark, tmp_path):
    """The one-sided max-id guard alone misses the OTHER direction:
    a legacy table seeded with 8 buckets (ids 0-7) merged with
    requested=16 passes max(id) < 16 — but new versions of existing
    keys would hash into different bucket dirs and strand the stale
    rows as duplicate PKs. The resolve now PROBES stored rows
    (pmod(xxhash64(pk), requested) must reproduce their dir id)
    before adopting; the seed-time value still passes."""
    import os

    import pytest

    from reader_spark.operators.transfer import (
        TransferWriter,
        _read_layout_manifest,
    )

    w = TransferWriter(spark, str(tmp_path))
    seed = spark.range(0, 500).selectExpr(
        "id", "concat('v', id) AS v", "'c' AS op", "0L AS seq"
    )
    w.upsert_bucketed("t", seed, ["id"], "seq", n_buckets=8)
    os.remove(str(tmp_path / "t" / "_layout.json"))

    delta = spark.createDataFrame(
        [(7, "V7", "u", 1)], "id long, v string, op string, seq long"
    )
    with pytest.raises(ValueError, match="seeded with a different"):
        w.upsert_bucketed("t", delta, ["id"], "seq", n_buckets=16)
    # no pin was written by the failed attempt
    assert _read_layout_manifest(str(tmp_path / "t")) is None

    # the true seed-time count probes clean, merges, and re-pins
    w.upsert_bucketed("t", delta, ["id"], "seq", n_buckets=8)
    assert _read_layout_manifest(str(tmp_path / "t")) == 8
    got = w.read("t")
    assert got.count() == 500
    assert {r["v"] for r in got.filter("id = 7").collect()} == {"V7"}


def test_layout_pin_survives_truncate_and_compact(spark, tmp_path):
    """truncate/compact publish fresh version dirs; the bucket-layout
    pin is table identity and must ride along — losing it would
    reopen the mismatched-default hazard on the next merge."""
    from reader_spark.operators.transfer import (
        TransferWriter,
        _read_layout_manifest,
    )

    w = TransferWriter(spark, str(tmp_path))
    seed = spark.range(0, 200).selectExpr(
        "id", "concat('v', id) AS v", "'c' AS op", "0L AS seq"
    )
    w.upsert_bucketed("t", seed, ["id"], "seq", n_buckets=4)

    w.compact("t")
    assert _read_layout_manifest(w._data_root("t")) == 4

    w.truncate("t")
    assert _read_layout_manifest(w._data_root("t")) == 4
    assert w.read("t").count() == 0

    # post-truncate reseed then a mismatched-default merge still lands
    # in the pinned layout
    w.upsert_bucketed("t", seed, ["id"], "seq", n_buckets=64)
    got = w.read("t")
    assert got.count() == 200


def test_scd2_close_all_replay_after_reopen_is_noop(spark, tmp_path):
    """Crash replay ordering: if the batch's post-truncate DML already
    merged (fresh intervals opened at seq > truncate seq), re-applying
    the truncate must NOT close them at the earlier position — that
    would mint inverted rows (eff_to < eff_from) in the history."""
    from pyspark.sql import functions as F

    from reader_spark.operators.transfer import TransferWriter

    w = TransferWriter(spark, str(tmp_path))
    b1 = spark.createDataFrame(
        [(1, "a", "c", 1), (2, "b", "c", 2)],
        "id long, v string, op string, seq long",
    )
    w.upsert_scd2("t", b1, ["id"], "seq")
    w.scd2_close_all("t", at_seq=10)

    # post-truncate insert reopens id=1 at seq 20
    b2 = spark.createDataFrame(
        [(1, "a2", "c", 20)], "id long, v string, op string, seq long"
    )
    w.upsert_scd2("t", b2, ["id"], "seq")

    # crash replay re-applies the truncate at the OLD position
    w.scd2_close_all("t", at_seq=10)

    hist = w.read("t")
    inverted = hist.filter(F.col("eff_to") < F.col("eff_from")).count()
    assert inverted == 0
    open_rows = hist.filter(F.col("eff_to").isNull()).collect()
    assert [(r["id"], r["v"], r["eff_from"]) for r in open_rows] == [
        (1, "a2", 20)
    ]


def test_drift_job_quantile_tiles_yaml(spark, tmp_path, sf_dir):
    """drift: {quantile_column} — the TILE-BACKED quantile drift
    through the YAML loop (VERDICT r9 #2): baseline publishes
    bottom-k sample tiles, check verdicts a wave against them, and
    with `tiles_path` the verdict reads a MAINTAINED sketch table
    (sketch: job output) instead of scanning the source at all.
    With tile width k >= the wave size, the tile sample IS the full
    wave, so the tile-read quantiles equal exact nearest-rank
    quantiles computed directly on the rows."""
    import math

    from pyspark.sql import functions as F

    from reader_spark.config import load_settings
    from reader_spark.job import run_job

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ref = ev.filter(F.col("event_id") % 2 == 0).limit(100)
    cur = ev.filter(F.col("event_id") % 2 == 1).limit(100)
    ref_src, cur_src = str(tmp_path / "ref"), str(tmp_path / "cur")
    ref.write.parquet(f"{ref_src}/events.parquet")
    cur.write.parquet(f"{cur_src}/events.parquet")
    out = str(tmp_path / "dq")

    def cfg(src, extra=""):
        return f"""
source:
  kind: parquet
  options: {{path: {src}}}
  tables: [{{name: events}}]
destination:
  kind: parquet
  path: {out}
drift:
  quantile_column: value
  group_column: event_type
  id_column: event_id
  k: 4096
{extra}"""

    res = run_job(spark, load_settings(cfg(ref_src)))
    assert res == {"events": f"{out}/events/_driftref"}

    chk = run_job(spark, load_settings(cfg(cur_src, "  mode: check\n")))
    assert "_driftlog" in chk["events"]
    log = spark.read.parquet(f"{out}/events/_driftlog").collect()
    assert len(log) > 0 and all(r["n_ref"] >= 0 for r in log)

    # tile quantiles == exact nearest-rank over the full wave
    # (k >= wave size: the sample is lossless)
    by_key = {}
    for r in cur.collect():
        by_key.setdefault(r["event_type"], []).append(r["value"])
    for row in log:
        k = row["event_type"]
        if k not in by_key or row["n_cur"] == 0:
            continue
        vals = sorted(by_key[k])
        for p, col in ((0.5, "p50_cur"), (0.9, "p90_cur"), (0.99, "p99_cur")):
            want = vals[max(1, math.ceil(p * len(vals))) - 1]
            assert row[col] == want, (k, col, row[col], want)

    # tiles_path: a maintained sketch table replaces the source scan
    tiles_out = str(tmp_path / "sk")
    sketch_cfg = f"""
source:
  kind: parquet
  options: {{path: {cur_src}}}
  tables: [{{name: events}}]
destination:
  kind: parquet
  path: {tiles_out}
sketch:
  kind: bottomk
  key_columns: [event_type]
  value_column: value
  id_column: event_id
  k: 4096
"""
    run_job(spark, load_settings(sketch_cfg))
    run_job(spark, load_settings(cfg(
        cur_src, f"  mode: check\n  tiles_path: {tiles_out}/events\n"
    )))
    log2 = spark.read.parquet(f"{out}/events/_driftlog").collect()
    # second check appended the same per-key verdicts (same wave,
    # same tile construction — maintained == direct)
    assert len(log2) == 2 * len(log)
    direct = sorted(
        (tuple(r[c] for c in log[0].__fields__) for r in log)
    )
    halves = sorted(direct * 2)
    assert sorted(
        tuple(r[c] for c in log2[0].__fields__) for r in log2
    ) == halves

    # config guard: tiles_path without quantile_column is rejected
    import pytest

    with pytest.raises(ValueError, match="tiles_path"):
        load_settings(f"""
source:
  kind: parquet
  options: {{path: {cur_src}}}
  tables: [{{name: events}}]
destination:
  kind: parquet
  path: {out}
drift:
  value_column: value
  tiles_path: {tiles_out}/events
""")


def test_drift_job_quantile_watch_yaml(spark, tmp_path, sf_dir):
    """drift: {quantile_column, mode: watch} — streaming quantile
    drift through the YAML loop: each jsonl wave folds into the
    maintained current tiles and logs per-key verdicts by batch;
    replay adds nothing; and the final tile state equals the exact
    wave (k >= rows: lossless), so the watch verdict == the batch
    check verdict on the same accumulated wave."""
    import json as _json

    from pyspark.sql import functions as F

    from reader_spark.config import load_settings
    from reader_spark.job import run_job

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ref = ev.filter(F.col("event_id") % 2 == 0).limit(60)
    ref_src = str(tmp_path / "ref")
    ref.write.parquet(f"{ref_src}/events.parquet")
    out = str(tmp_path / "dqw")

    base_cfg = f"""
source:
  kind: parquet
  options: {{path: {ref_src}}}
  tables: [{{name: events}}]
destination:
  kind: parquet
  path: {out}
drift:
  quantile_column: value
  id_column: event_id
  k: 4096
"""
    run_job(spark, load_settings(base_cfg))

    stream_dir = tmp_path / "incoming" / "events"
    stream_dir.mkdir(parents=True)
    cur_rows = ev.filter(F.col("event_id") % 2 == 1).limit(40).collect()
    with open(stream_dir / "wave1.jsonl", "w") as f:
        for r in cur_rows[:25]:
            f.write(_json.dumps(
                {"value": r["value"], "event_id": r["event_id"]}) + "\n")

    watch_cfg = f"""
source:
  kind: jsonl
  options: {{path: {tmp_path}/incoming}}
  tables: [{{name: events}}]
destination:
  kind: parquet
  path: {out}
drift:
  quantile_column: value
  id_column: event_id
  k: 4096
  mode: watch
"""
    res = run_job(spark, load_settings(watch_cfg))
    assert res == {"events": f"{out}/events/_driftwatch"}
    log = spark.read.parquet(f"{out}/events/_driftwatch").collect()
    assert len(log) == 1 and log[0]["n_cur"] == 25

    # replay: drained backlog adds nothing
    run_job(spark, load_settings(watch_cfg))
    assert len(
        spark.read.parquet(f"{out}/events/_driftwatch").collect()) == 1

    # second wave folds in (containment merge: 25 + 15 rows)
    with open(stream_dir / "wave2.jsonl", "w") as f:
        for r in cur_rows[25:]:
            f.write(_json.dumps(
                {"value": r["value"], "event_id": r["event_id"]}) + "\n")
    run_job(spark, load_settings(watch_cfg))
    rows = {r["batch"]: r for r in
            spark.read.parquet(f"{out}/events/_driftwatch").collect()}
    assert len(rows) == 2
    last = rows[max(rows)]
    assert last["n_cur"] == 40 and last["n_ref"] == 60

    # watch verdict == exact nearest-rank over everything streamed
    import math

    vals = sorted(r["value"] for r in cur_rows)
    for p, col in ((0.5, "p50_cur"), (0.9, "p90_cur"), (0.99, "p99_cur")):
        want = vals[max(1, math.ceil(p * len(vals))) - 1]
        assert last[col] == want, (col, last[col], want)


def test_job_metrics_flight_recorder(spark, tmp_path, sf_dir):
    """Every run_job mode appends exactly one fixed-schema row per
    table to <destination>/_metrics (VERDICT r9 #5 — the reference's
    lib/mtr counters as DATA): run_ts, mode, table, rows (where the
    handler knows it without a second scan), wall_s, detail. Four
    modes exercised; the history reads back as one frame."""
    from reader_spark.config import load_settings
    from reader_spark.job import run_job

    out = str(tmp_path / "dest")
    head = f"""
source:
  kind: parquet
  options: {{path: {sf_dir}}}
  tables: [{{name: events}}]
destination:
  kind: parquet
  path: {out}
"""
    # snapshot mode (rows observed on the write itself)
    run_job(spark, load_settings(head))
    # checks mode (rows = the gate's census count)
    run_job(spark, load_settings(head + """
checks:
  pk: [event_id]
"""))
    # drift baseline mode
    run_job(spark, load_settings(head + """
drift:
  value_column: value
"""))
    # sketch build mode
    run_job(spark, load_settings(head + """
sketch:
  kind: bottomk
  key_columns: [event_type]
  value_column: value
  id_column: event_id
"""))

    m = spark.read.parquet(f"{out}/_metrics")
    assert set(m.columns) == {
        "run_ts", "mode", "table", "rows", "wall_s", "detail"
    }
    rows = m.collect()
    assert sorted(r["mode"] for r in rows) == [
        "checks", "drift", "sketch", "snapshot"
    ]
    n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    by_mode = {r["mode"]: r for r in rows}
    assert by_mode["snapshot"]["rows"] == n_events
    assert by_mode["checks"]["rows"] == n_events
    assert all(r["table"] == "events" and r["wall_s"] > 0 for r in rows)
    assert all(r["detail"] for r in rows)

    # a drift CHECK run carries the current-wave size (the verdict
    # already computed it — no extra scan)
    run_job(spark, load_settings(head + """
drift:
  value_column: value
  mode: check
"""))
    drift_rows = [
        r for r in spark.read.parquet(f"{out}/_metrics").collect()
        if r["mode"] == "drift"
    ]
    assert sorted(
        (r["rows"] for r in drift_rows), key=lambda v: (v is not None, v or 0)
    ) == [None, n_events]


def test_curate_decontaminate_index_yaml(spark, tmp_path, sf_dir):
    """curate: {decontaminate_index} — benchmark decontamination
    inside the YAML curation loop: docs with a verified near-dup in
    the materialized benchmark index never reach the shards, and the
    surviving set equals the operator-level call."""
    from pyspark.sql import functions as F

    from reader_spark.config import load_settings
    from reader_spark.job import run_job
    from reader_spark.operators import curation as CU
    from reader_spark.operators import dedup as DD

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    splits = CU.dataset_split(docs).select("doc_id", "split")
    bench = docs.join(
        splits.filter(F.col("split") != "train").select("doc_id"),
        "doc_id", "left_semi",
    )
    train = docs.join(
        splits.filter(F.col("split") == "train").select("doc_id"),
        "doc_id", "left_semi",
    )
    idx = str(tmp_path / "benchidx")
    DD.neardup_index_write(bench, idx)

    src = str(tmp_path / "src")
    train.write.parquet(f"{src}/documents.parquet")
    out = str(tmp_path / "out")
    cfg = f"""
source:
  kind: parquet
  options: {{path: {src}}}
  tables: [{{name: documents}}]
destination:
  kind: parquet
  path: {out}
curate:
  dedup: none
  n_shards: 2
  decontaminate_index: {idx}
"""
    run_job(spark, load_settings(cfg))
    shards = spark.read.parquet(f"{out}/documents")
    got = {r["doc_id"] for r in shards.select("doc_id").collect()}
    want = {
        r["doc_id"]
        for r in DD.decontaminate_incremental(spark, train, idx)
        .select("doc_id").collect()
    }
    assert got == want and len(got) < train.count()


def test_curate_gate_census(spark, tmp_path, sf_dir):
    """The curate loop logs a per-gate drop census at <out>/<table>/
    _gates with a fixed schema — counts ride the shard write's own
    action (Observation), never a second corpus scan. Stages are
    ordered; each gate's rows_after is monotone non-increasing for
    row-filtering gates; the final count equals the shard total."""
    from reader_spark.config import load_settings
    from reader_spark.job import run_job

    out = str(tmp_path / "cg")
    cfg = f"""
source:
  kind: parquet
  options: {{path: {sf_dir}}}
  tables: [{{name: documents}}]
destination:
  kind: parquet
  path: {out}
curate:
  min_chars: 10
  dedup: normalized
  n_shards: 2
"""
    res = run_job(spark, load_settings(cfg))
    g = spark.read.parquet(f"{out}/documents/_gates")
    assert set(g.columns) == {"run_ts", "stage", "gate", "rows_after"}
    rows = sorted(g.collect(), key=lambda r: r["stage"])
    names = [r["gate"] for r in rows]
    assert names == ["raw", "min_chars", "dedup", "write"]
    counts = [r["rows_after"] for r in rows]
    assert counts[0] >= counts[1] >= counts[2] > 0
    assert counts[2] == int(res["manifest:documents"])
    # the write stage's survivors come from the shard manifest —
    # zero extra scans — and close the funnel: write == post-dedup
    assert counts[3] == counts[2]

    # and the _metrics row carries the final count
    m = {r["mode"]: r for r in spark.read.parquet(f"{out}/_metrics").collect()}
    assert m["curate"]["rows"] == counts[2]


def test_curate_seen_index_gate_two_waves(spark, tmp_path, sf_dir):
    """curate: seen_index — the Bloom ingest gate end-to-end. Wave 1
    creates the filter from its survivors; wave 2 (old corpus + new
    docs) drops every previously-ingested doc at the gate (zero
    false negatives means no old doc ever re-ships) and ingests only
    the new ones; the census logs the seen stage; survivor ids come
    from a column-pruned read of the written shards, never a second
    corpus pass."""
    from pyspark.sql import functions as F

    from reader_spark.config import load_settings
    from reader_spark.job import run_job

    bloom = str(tmp_path / "seen_bloom")

    def cfg(src, out):
        return f"""
source:
  kind: parquet
  options: {{path: {src}}}
  tables: [{{name: documents}}]
destination:
  kind: parquet
  path: {out}
curate:
  dedup: none
  n_shards: 2
  seen_index: {bloom}
"""

    out1 = str(tmp_path / "wave1")
    res1 = run_job(spark, load_settings(cfg(sf_dir, out1)))
    n1 = int(res1["manifest:documents"])
    assert n1 > 0
    import os

    assert os.path.isdir(bloom)  # first run created the filter

    # wave 2: the same corpus plus 20 genuinely new docs
    src2 = str(tmp_path / "src2")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    extra = docs.limit(20).select(
        (F.col("doc_id") + 50_000_000).alias("doc_id"),
        *[c for c in docs.columns if c != "doc_id"],
    )
    docs.unionByName(extra).write.parquet(f"{src2}/documents.parquet")

    out2 = str(tmp_path / "wave2")
    res2 = run_job(spark, load_settings(cfg(src2, out2)))
    n2 = int(res2["manifest:documents"])
    # only the new docs survive the gate (fp could drop a few new
    # ones; false negatives CANNOT re-ship an old one)
    assert 0 < n2 <= 20
    shipped = {
        r["doc_id"]
        for r in spark.read.parquet(out2 + "/documents").select(
            "doc_id"
        ).collect()
    }
    assert all(d >= 50_000_000 for d in shipped)
    # census logged the seen stage between raw and write
    g = sorted(
        spark.read.parquet(f"{out2}/documents/_gates").collect(),
        key=lambda r: r["stage"],
    )
    assert [r["gate"] for r in g] == ["raw", "seen", "write"]
    # wave 2's survivors were folded in: a third run of wave 2's
    # corpus ships nothing new
    out3 = str(tmp_path / "wave3")
    res3 = run_job(spark, load_settings(cfg(src2, out3)))
    assert int(res3["manifest:documents"]) == 0


def test_curate_gate_census_covers_chunk_and_split_writes(
    spark, tmp_path, sf_dir
):
    """With chunking and a split configured, the census covers the
    WHOLE funnel: the chunk stage (rows become windows — the one
    stage where counts may grow) and one write:<split> row per shard
    write, each sourced from that write's own manifest (no extra
    scan). The split writes partition the chunk survivors exactly."""
    from reader_spark.config import load_settings
    from reader_spark.job import run_job

    out = str(tmp_path / "cgs")
    cfg = f"""
source:
  kind: parquet
  options: {{path: {sf_dir}}}
  tables: [{{name: documents}}]
destination:
  kind: parquet
  path: {out}
curate:
  min_chars: 10
  dedup: exact
  split: doc
  chunk_width: 40
  n_shards: 2
"""
    res = run_job(spark, load_settings(cfg))
    rows = sorted(
        spark.read.parquet(f"{out}/documents/_gates").collect(),
        key=lambda r: r["stage"],
    )
    names = [r["gate"] for r in rows]
    assert names == [
        "raw", "min_chars", "dedup", "chunk",
        "write:train", "write:val", "write:test",
    ]
    by = {r["gate"]: r["rows_after"] for r in rows}
    writes = by["write:train"] + by["write:val"] + by["write:test"]
    assert writes == by["chunk"] > 0
    for s in ("train", "val", "test"):
        assert by[f"write:{s}"] == int(res[f"manifest:documents/{s}"])


def test_curate_seen_index_recovers_from_half_created_filter(
    spark, tmp_path, sf_dir
):
    """A crash during the very FIRST bloom_write can leave the
    seen_index directory existing but without a readable artifact
    (no _bloom.json). The rerun must treat that as 'no filter yet'
    (gate passes everything) and publish the artifact properly —
    not wedge every later run at the gate."""
    import os

    from reader_spark.config import load_settings
    from reader_spark.job import run_job

    bloom = str(tmp_path / "torn_bloom")
    os.makedirs(bloom)  # the torn first write: dir, no artifact
    out = str(tmp_path / "wave")
    cfg = f"""
source:
  kind: parquet
  options: {{path: {sf_dir}}}
  tables: [{{name: documents}}]
destination:
  kind: parquet
  path: {out}
curate:
  dedup: none
  n_shards: 2
  seen_index: {bloom}
"""
    res = run_job(spark, load_settings(cfg))
    assert int(res["manifest:documents"]) > 0  # nothing dropped
    from reader_spark.operators import sketches as SK

    stored, m_w, k_h = SK.bloom_read(spark, bloom)  # artifact healed
    assert stored.count() > 0 and m_w > 0 and k_h > 0


def test_legacy_layout_probe_not_fooled_by_near_empty_bucket(
    spark, tmp_path
):
    """r12 (advice): the legacy probe must sample EVERY non-empty
    bucket dir — a near-empty dir whose few rows happen to also hash
    correctly under the (wrong) requested count would otherwise pass
    alone and pin the wrong count permanently. Fixture: bucket 0
    holds exactly one 'lucky' row (h8 == h16 == 0) while later
    buckets contain provable mismatches; the first-dir-only probe
    adopted 16, the all-dirs probe must raise."""
    import os

    import pytest

    from reader_spark.operators.transfer import (
        TransferWriter,
        _read_layout_manifest,
    )

    h = spark.range(0, 4000).selectExpr(
        "id",
        "pmod(xxhash64(id), 8) AS h8",
        "pmod(xxhash64(id), 16) AS h16",
    ).collect()
    lucky = next(r.id for r in h if r.h8 == 0 and r.h16 == 0)
    others = [r.id for r in h if r.h8 != 0][:400]
    # precondition: some later-bucket row mismatches under 16
    byid = {r.id: r for r in h}
    assert any(byid[i].h8 != byid[i].h16 for i in others)

    seed = (
        spark.createDataFrame([(i,) for i in [lucky] + others], "id long")
        .selectExpr("id", "concat('v', id) AS v", "'c' AS op", "0L AS seq")
    )
    w = TransferWriter(spark, str(tmp_path))
    w.upsert_bucketed("t", seed, ["id"], "seq", n_buckets=8)
    os.remove(str(tmp_path / "t" / "_layout.json"))
    # bucket 0 really is the single lucky row
    got0 = spark.read.parquet(str(tmp_path / "t" / "bucket=0"))
    assert got0.count() == 1

    delta = spark.createDataFrame(
        [(int(lucky), "V", "u", 1)],
        "id long, v string, op string, seq long",
    )
    with pytest.raises(ValueError, match="seeded with a different"):
        w.upsert_bucketed("t", delta, ["id"], "seq", n_buckets=16)
    assert _read_layout_manifest(str(tmp_path / "t")) is None
