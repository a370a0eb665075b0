"""Benchmark entry point: one workload, one seed, one fresh driver.

    python3 perfbench/run.py --workload crawl-durable --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The program is built from that
checkout's source; generated inputs, the checkpoint and output files
and Spark's scratch space all stay under ``.perfbench/`` there. The last
line of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics of BENCHMARK.json
with ``--trace 0``, the per-layer metrics with ``--trace 1``. The lines
before it record the host (cores, heap, versions, load, calibration)
and the metrics under the workload's own names.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")

UNITS = {"setup_s": "s", "op_s": "s", "op_cpu_s": "s", "peak_rss_mb": "MB"}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["crawl-durable", "queries"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--scale", choices=["tiny", "host"], default="host",
                   help="input sizes: host (default) fits the benchmark budget; "
                        "tiny is the smoke test's size")
    return p.parse_args(argv)


def _fit_environment(work: str) -> dict:
    """Size Spark to this host and keep every scratch file in the
    checkout. Must run before pyspark (or bench.py) is imported: both
    read these variables at import or session start."""
    import host

    n = host.cores()
    heap = host.driver_heap_gib(n, host.mem_total_gib())
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(n),
        "URLMAP_SPARK_DRIVER_MEM": f"{heap}g",
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        # the JVM's perf-data file goes to /tmp whatever java.io.tmpdir says
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    })
    return {"cores": n, "driver_heap_gib": heap, **host.versions()}


def _session(cores: int, work: str, event_dir: str | None):
    from urlmap_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    heap = os.environ["URLMAP_SPARK_DRIVER_MEM"]
    # a heap committed at its full size from the start: otherwise the
    # resident size depends on when G1 chose to grow it, and peak RSS
    # swings by a third between identical runs
    conf = {"spark.local.dir": tmp, "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-Xms{heap} -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    if event_dir:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + event_dir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    spark = get_spark(master=f"local[{cores}]", app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop the session and the JVM behind it, and wait until the JVM and
    the Python workers it forked have exited."""
    import host
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = host.descendants(proc.pid) if proc is not None else set()
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    deadline = time.monotonic() + 60
    while any(map(host.alive, workers)) and time.monotonic() < deadline:
        time.sleep(0.1)


def _code_hash() -> str:
    """Hash of the code a run executes: the package, the bench modules
    and tools it imports, and the benchmark itself."""
    paths = [os.path.join(ROOT, f) for f in os.listdir(ROOT) if f.endswith(".py")]
    for top in ("urlmap_spark", "tools", "perfbench"):
        for d, dirs, files in os.walk(os.path.join(ROOT, top)):
            dirs[:] = [x for x in dirs if x != "__pycache__"]
            paths += [os.path.join(d, f) for f in files if not f.endswith(".pyc")]
    h = hashlib.sha1()
    for path in sorted(paths):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _overhead(record: dict, traced_op_s: float) -> dict | None:
    """Tracing overhead: this traced operation against the median of the
    untraced runs of the same workload and scale over the same code,
    recorded in this checkout; those with the same seed when there are
    any."""
    path = os.path.join(STATE, "untraced.jsonl")
    if not os.path.exists(path):
        return None
    same = ("workload", "scale", "code")
    with open(path) as f:
        past = [r for r in map(json.loads, f) if all(r.get(k) == record[k] for k in same)]
    same_seed = [r for r in past if r["seed"] == record["seed"]]
    past = same_seed or past
    if not past:
        return None
    base = statistics.median(r["op_s"] for r in past)
    return {"untraced_runs": len(past), "same_seed": bool(same_seed),
            "overhead_s": traced_op_s - base, "overhead_frac": traced_op_s / base - 1}


def run(args) -> tuple[dict, dict]:
    import host

    t_start = time.perf_counter()
    work = os.path.join(STATE, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env = _fit_environment(work)
    env["load_start"] = host.loadavg()
    env["calib_s"] = host.calibrate()

    import bench  # after _fit_environment: it reads the CPU count and heap at import
    import workloads

    event_dir = os.path.join(work, "events") if args.trace else None
    if event_dir:
        os.makedirs(event_dir)
    ctx = workloads.Ctx(
        spark=None, seed=args.seed, scale=args.scale, seconds=args.seconds,
        work=work, cache=os.path.join(STATE, "cache"), procs=env["cores"],
        corpus_version=bench.CORPUS_VERSION, cached_corpus=bench.cached_corpus)
    # inputs are generated (or found in the cache) before anything is timed
    workloads.prepare(ctx, args.workload)

    with host.PeakRss() as rss:
        ctx.meter = rss
        t0 = time.perf_counter()
        ctx.spark = _session(env["cores"], work, event_dir)
        session_s = time.perf_counter() - t0
        tracer = None
        if args.trace:
            import layers
            tracer = ctx.tracer = layers.Tracer(ctx.spark)
            tracer.install()
        try:
            outcome = workloads.WORKLOADS[args.workload](ctx)
        finally:
            if tracer:
                tracer.uninstall()
                tracer.before_stop()
            _stop(ctx.spark)
    env["load_end"] = host.loadavg()
    env["run_peak_mb"] = rss.run_peak / (1 << 20)
    env["wall_s"] = time.perf_counter() - t_start

    setup_s = session_s + statistics.median(outcome.input_s) + outcome.warmup_s
    e2e = {
        "setup_s": setup_s,
        "op_s": workloads.median_of(outcome.ops, "op_s"),
        "op_cpu_s": workloads.median_of(outcome.ops, "cpu_s"),
        "peak_rss_mb": rss.peak_mb,
    }
    detail = workloads.detail_metrics(args.workload, outcome, e2e)
    record = {"workload": args.workload, "scale": args.scale, "seed": args.seed,
              "code": _code_hash()}
    report = {"env": env, "detail": detail, "errors": outcome.errors}
    if tracer:
        trace_file = os.path.join(STATE, "traces", f"{args.workload}-s{args.seed}-{os.getpid()}.json")
        metrics = tracer.layer_metrics(args.workload, outcome, env, event_dir,
                                       session_s=session_s, trace_file=trace_file)
        report["tracing"] = _overhead(record, e2e["op_s"])
    else:
        metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in e2e.items()}
        with open(os.path.join(STATE, "untraced.jsonl"), "a") as f:
            f.write(json.dumps({**record, "op_s": e2e["op_s"]}) + "\n")
    shutil.rmtree(work, ignore_errors=True)
    return report, {
        "correct": outcome.failed == 0 and not outcome.errors,
        "attempted": max(1, outcome.attempted),
        "failed": outcome.failed if outcome.attempted else 1,
        "metrics": metrics,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "urlmap_spark")):
        print(f"perfbench: no urlmap_spark package under {ROOT}; run from the "
              "root of a full checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    import host

    host.become_subreaper()
    try:
        report, result = run(args)
    finally:
        stragglers = host.end_children()
    report["env"]["stragglers"] = stragglers
    print(json.dumps(report))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
