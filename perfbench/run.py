"""Reader-job benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload snapshot --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones, measured untraced; with
--trace 1 they are the per-layer ones from a separate traced run (see
perfbench/README.md). The run exits non-zero without a result line
when the program under test is not there to set up.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORKLOADS = ("snapshot", "cdc_waves", "curate_neardup")


def _process_age_s() -> float:
    """Seconds since this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _pin_environment(work: str) -> int:
    """Pin what the session factory and the Python workers read from
    the environment; returns the core count."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(next(x for x in f if x.startswith("MemTotal")).split()[1])
    # a quarter of host memory, between 1 and 4 GB: the inputs are small
    driver_gb = max(1, min(4, mem_kb // (4 << 20)))
    local, tmp = os.path.join(work, "spark-local"), os.path.join(work, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_gb}g",
        "SPARK_LOCAL_DIRS": local,
        # the logtail source runs in Python workers, which import the
        # package from the repository root
        "PYTHONPATH": os.pathsep.join(
            [REPO, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
        "OMP_NUM_THREADS": "1",
        "PYSPARK_PYTHON": sys.executable,
        # keep the JVM's and Python's scratch files inside the run's work dir
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    return cpus


def _stop(spark) -> None:
    """Stop the session, then the JVM it launched and the Python workers
    the JVM started, and wait until each has ended."""
    import signal

    from tracing import descendants

    children = descendants(os.getpid())
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    while children and time.monotonic() < deadline:
        children = {p for p in children if _alive(p)}
        time.sleep(0.05)
    for p in children:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(REPO, "reader_spark")):
        print(f"perfbench: no reader_spark/ package under {REPO}; run from the "
              "repository root", file=sys.stderr)
        return 2
    work = os.path.join(REPO, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str) -> int:
    cpus = _pin_environment(work)
    sys.path[:0] = [REPO, HERE]
    from tracing import RssSampler, Tracer, spark_counters
    import workloads as W

    events = os.path.join(work, "events")
    extra = {"spark.ui.showConsoleProgress": "false"}
    if args.trace:
        os.makedirs(events)
        extra.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": events,
                      "spark.eventLog.compress": "false"})
    with RssSampler() as rss:
        from reader_spark.session import get_spark

        spark = get_spark("perfbench", cpus=cpus, extra_conf=extra)
        try:
            session_s = _process_age_s()
            ctx = W.Ctx(spark=spark, work=work, seed=args.seed,
                        tracer=Tracer() if args.trace else None)
            wl = W.WORKLOADS[args.workload]()
            t0 = time.perf_counter()
            wl.generate(ctx, os.path.join(work, "inputs"))
            gen_s = time.perf_counter() - t0
            t0 = time.perf_counter()
            wl.warm_up(ctx)
            warm_s = time.perf_counter() - t0
            print(f"# setup: session {session_s:.2f} s, generate {gen_s:.2f} s, "
                  f"warm-up {warm_s:.2f} s", flush=True)
            if args.trace:
                ops, metrics = _traced(ctx, wl)
            else:
                ops, metrics = _timed(ctx, wl, args.seconds)
                metrics["setup_s"] = (session_s + gen_s + warm_s, "s")
        finally:
            _stop(spark)
        if args.trace:
            metrics.update(_spark_metrics(spark_counters(events)))
            ctx.tracer.dump(os.path.join(_out_dir(), f"{args.workload}-{args.seed}-spans.json"))
    if not args.trace:
        metrics["peak_rss_mb"] = (rss.peak / 2**20, "MB")

    failed = [o for o in ops if o.problems]
    for o in failed:
        for p in o.problems:
            print(f"FAILED: {p}", file=sys.stderr)
    _summary(args, ops, metrics, ctx)
    declared = _declared("per_layer" if args.trace else "end_to_end")
    print(json.dumps({
        "correct": not failed,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items() if k in declared},
    }))
    return 0


def _timed(ctx, wl, seconds: float):
    """Closed loop: the next operation starts when the previous one
    returns, until `seconds` have passed (at least one operation)."""
    from workloads import Op

    ops = []
    t0 = time.perf_counter()
    while True:
        t_op = time.perf_counter()
        try:
            ops.append(wl.op(ctx, len(ops)))
        except Exception as e:  # a failed operation is counted, not fatal
            traceback.print_exc()
            ops.append(Op(0, time.perf_counter() - t_op, [f"{type(e).__name__}: {e}"]))
        elapsed = time.perf_counter() - t0
        if elapsed >= seconds:
            break
    t_check = time.perf_counter()
    wl.check(ctx, ops)
    print(f"# {len(ops)} operations in {elapsed:.2f} s, checked in "
          f"{time.perf_counter() - t_check:.2f} s", flush=True)
    done = [o for o in ops if not o.problems]
    return ops, {
        "rows_per_s": (sum(o.records for o in done) / elapsed, "1/s"),
        "latency_p50_s": (statistics.median(o.latency for o in ops), "s"),
    }


def _traced(ctx, wl):
    """One untraced operation, then the workload's traced
    decomposition. Tracing overhead is the wall of the traced operation
    minus that of the untraced one. Metrics of layers the workload does
    not run read 0."""
    ops = [wl.op(ctx, 0)]
    layers, traced_op_s = wl.traced(ctx)
    wl.check(ctx, ops)
    metrics = {name: (float(layers.get(name, 0.0)), unit)
               for name, unit in _declared("per_layer").items()
               if not name.startswith("spark.")}
    metrics["trace.overhead_s"] = (traced_op_s - ops[0].latency, "s")
    return ops, metrics


def _spark_metrics(c: dict) -> dict:
    groups = c["groups"]
    job_count = lambda g: float(groups.get(g, {}).get("jobs", 0))  # noqa: E731
    return {
        "spark.jobs": (job_count("job.run_job"), "count"),
        "operators.dedup.cc_jobs": (job_count("operators.dedup.cc"), "count"),
        "spark.tasks": (float(c["tasks"]), "count"),
        "spark.executor_cpu_s": (c["executor_cpu_s"], "s"),
        "spark.shuffle_write_bytes": (float(c["shuffle_write_bytes"]), "bytes"),
        "spark.gc_s": (c["gc_s"], "s"),
    }


def _declared(kind: str) -> dict[str, str]:
    """{metric: unit} of BENCHMARK.json's "end_to_end" or "per_layer" list."""
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def _out_dir() -> str:
    d = os.path.join(REPO, ".perfbench_out")
    os.makedirs(d, exist_ok=True)
    return d


def _summary(args, ops, metrics, ctx) -> None:
    """Human-readable lines before the result line."""
    n, bad = len(ops), sum(1 for o in ops if o.problems)
    print(f"# {args.workload} seed={args.seed} trace={args.trace}, "
          f"{_process_age_s():.1f} s since process start")
    for k, (v, u) in sorted(metrics.items()):
        print(f"{k:48s} {v:14.4f} {u}")
    print(f"{'failed_frac':48s} {bad / n:14.4f} ratio  ({bad} of {n} operations)")
    print("# operation latencies (s): " + " ".join(f"{o.latency:.3f}" for o in ops))
    if args.workload == "cdc_waves" and not args.trace:
        print(f"{'wave_latency_p50_s':48s} {metrics['latency_p50_s'][0]:14.4f} s"
              f"  (median of {n} timed waves)")
    if ctx.tracer is not None:
        for name, t in sorted(ctx.tracer.self_times().items()):
            print(f"self_s {name:41s} {t:14.4f} s")


if __name__ == "__main__":
    sys.exit(main())
