"""applyInPandasWithState sessionization: in-batch gap splits and
watermark-driven event-time timeout across micro-batches."""

import json
import os
import time

from reader_spark.streaming.stateful import sessionize_stream

SCHEMA = "user_id long, ts timestamp"


def _write(d, name, rows):
    with open(os.path.join(d, name), "w") as f:
        for uid, ts in rows:
            f.write(json.dumps({"user_id": uid, "ts": ts}) + "\n")


def _wait_rows(spark, table, want, timeout=90):
    deadline = time.time() + timeout
    while time.time() < deadline:
        if spark.table(table).count() >= want:
            return
        time.sleep(0.5)


def test_sessionize_gap_and_timeout(spark, tmp_path):
    src = tmp_path / "events_in"
    src.mkdir()
    # batch 1: user 1 has two sessions separated by > gap within the
    # batch; the second session stays OPEN.
    _write(
        str(src), "a.jsonl",
        [
            (1, "2024-01-01 10:00:00"),
            (1, "2024-01-01 10:00:30"),
            (1, "2024-01-01 12:00:00"),
        ],
    )
    stream = (
        spark.readStream.schema(SCHEMA).json(str(src))
    )
    q = (
        sessionize_stream(stream, gap_s=600)
        .writeStream.format("memory")
        .queryName("sessions_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        _wait_rows(spark, "sessions_out", 1)
        rows = {
            (r.user_id, r.session_start.isoformat(), r.n_events)
            for r in spark.table("sessions_out").collect()
        }
        assert (1, "2024-01-01T10:00:00", 2) in rows  # closed by in-batch gap

        # batch 2: a much later event advances the watermark past
        # 12:00 + gap -> the open session times out and is emitted.
        _write(str(src), "b.jsonl", [(2, "2024-01-01 18:00:00")])
        _wait_rows(spark, "sessions_out", 2)
        rows = {
            (r.user_id, r.session_start.isoformat(), r.n_events)
            for r in spark.table("sessions_out").collect()
        }
        assert (1, "2024-01-01T12:00:00", 1) in rows  # closed by timeout
    finally:
        q.stop()


def test_funnel_stream_completions_and_expiry(spark, tmp_path):
    import json

    import pyspark.sql.types as T

    from reader_spark.streaming import stateful

    src = tmp_path / "fev"
    src.mkdir()
    ck = str(tmp_path / "fck")

    def write(name, rows):
        with open(src / name, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    # batch 1: user 1 completes; user 2's first click is beyond the
    # 30-min horizon (failure proven immediately); user 3 opens a
    # chain that never advances
    write("b1.json", [
        {"ts": "2024-01-01T00:00:00", "user_id": 1, "event_type": "view"},
        {"ts": "2024-01-01T00:10:00", "user_id": 1, "event_type": "click"},
        {"ts": "2024-01-01T00:20:00", "user_id": 1, "event_type": "purchase"},
        {"ts": "2024-01-01T00:00:00", "user_id": 2, "event_type": "view"},
        {"ts": "2024-01-01T00:40:00", "user_id": 2, "event_type": "click"},
        {"ts": "2024-01-01T00:00:00", "user_id": 3, "event_type": "view"},
    ])

    schema = T.StructType([
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
    ])

    out_dir = str(tmp_path / "fout")

    def run(name):
        stream = spark.readStream.schema(schema).json(str(src))
        q = (stateful.funnel_stream(stream, horizon_s=1800)
             .writeStream.outputMode("append").format("parquet")
             .option("path", out_dir).trigger(availableNow=True)
             .option("checkpointLocation", ck).start())
        q.awaitTermination(90)
        return {
            (r["user_id"], r["ts_0"]): (r["ts_1"], r["ts_2"])
            for r in spark.read.parquet(out_dir).collect()
        }

    got = run("funnel1")
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    assert got[(1, t0)] == (
        t0 + dt.timedelta(minutes=10), t0 + dt.timedelta(minutes=20)
    )
    assert got[(2, t0)] == (None, None)   # out-of-horizon click
    # user 3: availableNow's trailing batch advances the watermark to
    # 00:40 (max seen ts, 0s delay) which is past the 00:30 deadline —
    # the open chain expires as a proven failure in the same run
    assert got[(3, t0)] == (None, None)

    # batch 2: nothing new is provable (user 9's chain stays open) and
    # NOTHING re-emits — exactly-once per opened chain across restarts
    write("b2.json", [
        {"ts": "2024-01-01T03:00:00", "user_id": 9, "event_type": "view"},
    ])
    got2 = run("funnel2")
    assert got2 == got  # accumulated output unchanged: no re-emission


def test_funnel_stream_equals_batch_on_random_soup(spark, tmp_path):
    """With a far-future sentinel forcing every chain to a proven
    outcome, the streaming funnel's emitted rows must equal the batch
    funnel_steps result row-for-row on a random event soup."""
    import datetime as dt
    import json
    import random

    import pyspark.sql.types as T

    from reader_spark.operators.joins import funnel_steps
    from reader_spark.streaming import stateful

    rng = random.Random(42)
    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for _ in range(120):
        rows.append((
            rng.randint(1, 6),
            t0 + dt.timedelta(minutes=rng.randint(0, 180)),
            rng.choice(["view", "click", "purchase"]),
        ))
    # distinct timestamps per user (the batch operator's right side
    # should be unique per (key, ts); random soup may collide — dedup)
    seen = set()
    uniq = []
    for u, ts, k in sorted(rows, key=lambda r: (r[0], r[1])):
        if (u, ts) in seen:
            continue
        seen.add((u, ts))
        uniq.append((u, ts, k))

    src = tmp_path / "eqev"
    src.mkdir()
    with open(src / "b1.json", "w") as f:
        for u, ts, k in uniq:
            f.write(json.dumps(
                {"user_id": u, "ts": ts.isoformat(), "event_type": k}) + "\n")
        # sentinel far past every deadline
        f.write(json.dumps(
            {"user_id": 999, "ts": "2024-02-01T00:00:00",
             "event_type": "click"}) + "\n")

    schema = T.StructType([
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
    ])
    out_dir = str(tmp_path / "eqout")
    stream = spark.readStream.schema(schema).json(str(src))
    q = (stateful.funnel_stream(stream, horizon_s=1800)
         .writeStream.outputMode("append").format("parquet")
         .option("path", out_dir).trigger(availableNow=True)
         .option("checkpointLocation", str(tmp_path / "eqck")).start())
    q.awaitTermination(120)
    got = sorted(
        (r["user_id"], r["ts_0"], r["ts_1"], r["ts_2"])
        for r in spark.read.parquet(out_dir).collect()
        if r["user_id"] != 999
    )

    ev = spark.createDataFrame(
        [(u, ts, k) for u, ts, k in uniq],
        "user_id long, ts timestamp, event_type string",
    )
    want = sorted(
        (r["user_id"], r["ts_0"], r["ts_1"], r["ts_2"])
        for r in funnel_steps(
            ev, ["view", "click", "purchase"], horizon_s=1800
        ).collect()
    )
    assert got == want


# ---------------------------------------------------------------------------
# streaming heavy hitters


def test_heavy_hitters_stream_state_bounded_and_exact_superset(spark, tmp_path):
    from reader_spark.streaming.stateful import heavy_hitters_stream

    src = tmp_path / "hh_in"
    src.mkdir()

    def write_terms(name, terms):
        with open(os.path.join(str(src), name), "w") as f:
            for t in terms:
                f.write(json.dumps({"term": t}) + "\n")

    # batch 1: hot0 dominates, long tail of singletons
    b1 = ["hot0"] * 50 + [f"rare{i}" for i in range(60)]
    # batch 2: hot1 emerges later; more tail
    b2 = ["hot1"] * 40 + ["hot0"] * 10 + [f"tail{i}" for i in range(60)]
    write_terms("a.jsonl", b1)

    stream = spark.readStream.schema("term string").json(str(src))
    k = 5
    q = (
        heavy_hitters_stream(stream, k=k, n_buckets=4)
        .writeStream.format("memory")
        .queryName("hh_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "hh_ckpt"))
        .start()
    )
    try:
        _wait_rows(spark, "hh_out", 1)
        write_terms("b.jsonl", b2)
        deadline = time.time() + 90
        while time.time() < deadline:
            rows = spark.table("hh_out").collect()
            terms = {r.term for r in rows}
            if {"hot0", "hot1"} <= terms:
                break
            time.sleep(0.5)
        rows = spark.table("hh_out").collect()
        # the heavy terms survive the stream summary
        terms = {r.term for r in rows}
        assert {"hot0", "hot1"} <= terms
        # state bound: every (batch, bucket) summary emitted <= k rows.
        # memory sink in update mode appends each batch's emission, so
        # group by bucket and take the LAST batch's size via lb sums:
        per_bucket = {}
        for r in rows:
            per_bucket.setdefault(r.bucket, []).append(r)
        # total distinct (bucket, term) pairs per emission wave is
        # bounded; conservative check: hot0's lower bound is substantial
        hot0 = max(r.lb for r in rows if r.term == "hot0")
        assert hot0 >= 50  # never evicted: true count 60, lb within MG error
    finally:
        q.stop()
