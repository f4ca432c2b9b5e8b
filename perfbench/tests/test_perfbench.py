"""Self-tests of the benchmark: its generators are deterministic, its
expected-state replays match what the pipelines produce on tiny inputs,
and each output check rejects a tampered output.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REPO = os.path.dirname(HERE)
sys.path[:0] = [REPO, HERE]

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import workloads as W  # noqa: E402


def _tree_bytes(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = f.read()
    return out


def _all_inputs(root: str, seed: int) -> dict[str, bytes]:
    gen.gen_snapshot(os.path.join(root, "snap"), seed,
                     {"orders": 500, "customers": 200, "events": 200})
    state = gen.gen_waves(os.path.join(root, "waves"), seed, 300, 150)
    for alter in (True, False):
        state.log.write(state.next_wave(120, alter=alter))
    gen.gen_corpus(os.path.join(root, "corpus"), seed, 80, 0.3)
    return _tree_bytes(root)


def test_generators_are_deterministic(tmp_path):
    a = _all_inputs(str(tmp_path / "a"), 1)
    b = _all_inputs(str(tmp_path / "b"), 1)
    c = _all_inputs(str(tmp_path / "c"), 2)
    assert a == b
    assert a.keys() == c.keys()
    assert all(a[k] != c[k] for k in a if "snap" in k or "corpus" in k or "log" in k)
    # the binlog rotated, as MySQL rotates its binlog
    assert sum("mysql-bin" in k for k in a) > 1


def test_run_without_the_program_fails_without_a_result(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "snapshot", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert p.returncode != 0
    assert not p.stdout.strip()


@pytest.fixture(scope="module")
def ctx(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("perfbench"))
    cpus = run._pin_environment(work)
    from reader_spark.session import get_spark

    spark = get_spark("perfbench-tests", cpus=cpus,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    try:
        yield W.Ctx(spark=spark, work=work, seed=5)
    finally:
        run._stop(spark)


def test_snapshot_check(ctx, monkeypatch):
    from pyspark.sql import functions as F

    monkeypatch.setattr(W, "SNAPSHOT_ROWS", {"orders": 300, "customers": 100, "events": 100})
    wl = W.Snapshot()
    wl.generate(ctx, os.path.join(ctx.work, "snapshot-in"))
    op = wl.op(ctx, 0)
    wl.check(ctx, [op])
    assert op.problems == []

    dest = wl._dest(ctx, 0)
    tampered = os.path.join(ctx.work, "snapshot-tampered")
    for t in wl.inputs.tables:
        df = ctx.spark.read.parquet(f"{dest}/{t}")
        if t == "orders":
            # same row count, one key rewritten
            first = df.agg(F.min("key")).first()[0]
            df = df.withColumn("key", F.when(
                F.col("key") == first,
                F.regexp_replace("key", '"id":([0-9]+)', '"id":-1')).otherwise(F.col("key")))
        df.write.parquet(f"{tampered}/{t}")
    problems = checks.snapshot(ctx.spark, wl.inputs, tampered)
    assert len(problems) == 1 and "orders: key digest" in problems[0]

    ctx.spark.read.parquet(f"{dest}/events").limit(1).write.mode("append").parquet(
        f"{tampered}/events")
    assert any("events: 101 rows" in p for p in checks.snapshot_counts(
        ctx.spark, wl.inputs, tampered))


def test_waves_replay_matches_the_pipeline(ctx, monkeypatch):
    from pyspark.sql import functions as F

    from reader_spark.operators.transfer import TransferWriter

    for name, value in (("WAVES_ROWS", 300), ("WAVES_CHANGES", 80), ("WAVES_ROTATE", 100)):
        monkeypatch.setattr(W, name, value)
    wl = W.CdcWaves()
    wl.generate(ctx, os.path.join(ctx.work, "waves-in"))
    wl.warm_up(ctx)
    ops = [wl._wave(ctx, W.WAVES_CHANGES) for _ in range(2)]
    wl.check(ctx, ops)
    assert [o.problems for o in ops] == [[], []]
    assert wl.state.altered and any(r[-1] is not None for r in wl.state.live.values())

    # tamper: delete one live key behind the pipeline's back
    key = min(wl.state.live, key=int)
    writer = TransferWriter(ctx.spark, wl.dest)
    gone = (writer.read(gen.WAVE_TABLE).filter(F.col("id") == key)
            .select(*gen.STATE_COLS).withColumn("op", F.lit("d"))
            .withColumn("seq", F.lit(10**12)))
    writer.upsert_bucketed(gen.WAVE_TABLE, gone, ["id"], "seq", n_buckets=W.N_BUCKETS)
    problems = checks.waves(ctx.spark, wl.state, wl.dest)
    assert len(problems) == 1 and "1 missing" in problems[0]


def test_curate_check(ctx, monkeypatch):
    monkeypatch.setattr(W, "CORPUS_DOCS", 60)
    wl = W.CurateNeardup()
    wl.generate(ctx, os.path.join(ctx.work, "curate-in"))
    op = wl.op(ctx, 0)
    wl.check(ctx, [op])
    assert op.problems == []
    assert any(len(f) > 1 for f in wl.corpus.families)

    # tamper: one training survivor also lands in val
    out = f"{wl._dest(ctx, 0)}/documents"
    (ctx.spark.read.parquet(f"{out}/train").drop("shard").limit(1)
     .write.mode("append").parquet(f"{out}/val/shard=0"))
    problems = checks.curate(ctx.spark, wl.corpus, wl._dest(ctx, 0))
    assert len(problems) == 1 and "in both train and val" in problems[0]


def test_benchmark_json_declares_what_run_emits():
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {w["name"] for w in bench["workloads"]} == set(run.WORKLOADS)
    assert set(run.WORKLOADS) == set(W.WORKLOADS)
    assert {"rows_per_s", "latency_p50_s", "setup_s"} == {
        m["name"] for m in bench["end_to_end"]}
