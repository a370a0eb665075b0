"""The benchmark's workloads: set-up, the timed operation, and the
output checks that run outside the timed window.

Each workload is a closed loop with one client: the next operation
starts only after the previous one (and its check) finished, and the
loop stops once the operations' summed wall time reaches ``--seconds``.
A crawl operation is one ``crawl()`` plus writing its URL list; a query
operation is one pass over the 19 headline leaves.
"""

from __future__ import annotations

import contextlib
import glob
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field, replace

import host
import inputs

# bench.py run_headline's picks: the headline query leaves, in its order.
HEADLINE = [
    "fetch-join", "stats-agg", "per-host-quota-topk", "seen-anti-join",
    "first-wins-dedup", "url-normalize", "extract-explode",
    "dedup-exact", "dedup-minhash-lsh", "dedup-ngram-capped",
    "embed-cosine-topk", "embed-ann-lsh", "text-langid", "text-quality",
    "token-count", "image-decode-meta", "image-phash-neardup",
    "stream-window-metrics", "caption-align-gate",
]
# image-decode-meta decodes a fixed 40-page corpus (seed 7) whatever
# the tables hold; the two LSH leaves have no exact twin to compare with.
RECORDED_ROWS = {"image-decode-meta": 40}

# crawl-durable seeds every corpus page, so round 0 fetches the whole
# corpus and round 1 the links it found (depth 1; deeper URLs are gated).
# The per-host quota is above any host's page count, so seeds are never
# deferred and every URL keeps its BFS depth; but the Zipf-hot host (558
# pages) finds 900-1000 depth-1 URLs on every seed, so its depth-1 work
# always spans exactly two rounds under this quota. The crawl runs cold,
# as a command-line user pays it: its first round also pays the JIT,
# codegen and Python-worker start-up.
DURABLE_DEPTH = 1
DURABLE_QUOTA = 600
DURABLE_FIRST_ROUNDS = 2
INPUT_REPS = 3


@dataclass
class Ctx:
    spark: object
    seed: int
    scale: str
    seconds: float
    work: str            # scratch directory for checkpoints and outputs
    cache: str           # per-seed input cache
    procs: int
    corpus_version: int
    cached_corpus: object  # bench.cached_corpus: the bench's bucketed cache
    meter: object = None   # host.PeakRss, told when an operation runs
    tracer: object = None  # layers.Tracer on a traced run

    def layer(self, name: str):
        return self.tracer.layer(name) if self.tracer else contextlib.nullcontext()


@dataclass
class Outcome:
    input_s: list[float] = field(default_factory=list)
    warmup_s: float = 0.0
    ops: list[dict] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.errors.append(msg)


def _loop(ctx: Ctx, out: Outcome, one_op) -> None:
    spent = 0.0
    while spent < ctx.seconds:
        ctx.meter.measuring = True
        try:
            op = one_op(len(out.ops))
        finally:
            ctx.meter.measuring = False
        out.ops.append(op)
        spent += op.get("result_s", op["op_s"])


def _cpu_s() -> float:
    return host.tree_cpu_s(os.getpid())


def _cache_corpus(ctx: Ctx, path: str, extra=None):
    """The input is ready once the corpus sits cached in the bench's
    bucketed layout and ``extra()``, if given, has built the rest of the
    input; done INPUT_REPS times, the last copy is kept."""
    out, corpus, made = [], None, None
    for _ in range(INPUT_REPS):
        if corpus is not None:
            corpus.unpersist(blocking=True)
        t0 = time.perf_counter()
        corpus = ctx.cached_corpus(ctx.spark, path)
        corpus.count()
        made = extra() if extra else None
        out.append(time.perf_counter() - t0)
    return corpus, made, out


def _write_urls(ctx: Ctx, results, path: str) -> None:
    from urlmap_spark.operators.output import unique_sorted_urls, write_output

    with ctx.layer("output"):
        write_output(unique_sorted_urls(results), path)


def _read_urls(path: str) -> list[str]:
    lines = []
    for part in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(part) as f:
            lines += f.read().splitlines()
    return lines


def _crawl_stats(metrics: list[dict]) -> dict:
    processed = sum(m.get("processed", 0) for m in metrics)
    big = [m for m in metrics if m.get("frontier", 0) >= 10_000]
    steady = (sum(m["processed"] for m in big) / sum(m["wall_s"] for m in big)) if big else None
    return {"processed": processed,
            "crawled": sum(m.get("crawled", 0) for m in metrics),
            "steady_urls_per_s": steady,
            "rounds": sum(1 for m in metrics if m.get("processed", 0) > 0)}


def _same_rows(got, expected) -> bool:
    cols = list(expected.columns)
    a = got[cols].astype(expected.dtypes.to_dict()).sort_values(cols).reset_index(drop=True)
    b = expected.sort_values(cols).reset_index(drop=True)
    return a.equals(b)


def crawl_durable(ctx: Ctx) -> Outcome:
    """Checkpointed crawl with everything the in-memory crawl skips:
    per-host quota with a priority, robots rules, payload verification,
    the disk-backed seen probe behind the cuckoo prefilter (broadcast
    off) with periodic compaction, and a stop after
    DURABLE_FIRST_ROUNDS rounds that a second ``crawl(resume=True)``
    finishes. Politeness only delays URLs, so the fetched (url, depth,
    status) rows equal the oracle's."""
    import pyarrow.parquet as pq

    from urlmap_spark.operators.robots import parse_robots
    from urlmap_spark.plans.crawl import CrawlConfig, crawl

    spec = inputs.SCALES[ctx.scale]["crawl-durable"]
    inp = inputs.crawl_inputs(ctx.cache, ctx.seed, spec, DURABLE_DEPTH,
                              ctx.corpus_version, ctx.procs)
    expected = pq.read_table(inp.oracle).to_pandas()
    out = Outcome()
    spark = ctx.spark

    def robots_rules():
        raw = spark.createDataFrame(inp.robots, "host string, lineno int, line string")
        return parse_robots(raw)[0].localCheckpoint(eager=True)

    with ctx.layer("setup/input"):
        corpus, rules, out.input_s = _cache_corpus(ctx, inp.corpus, robots_rules)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")

    def config(ck: str) -> CrawlConfig:
        shutil.rmtree(ck, ignore_errors=True)
        return CrawlConfig(
            max_depth=DURABLE_DEPTH, same_domain=False, checkpoint_dir=ck,
            default_quota=DURABLE_QUOTA, priority_expr="-depth", robots_rules=rules,
            verify_payload=True, bloom_seen=True, seen_filter="cuckoo",
            disk_seen=True, disk_seen_buckets=8, broadcast_seen_max_urls=0,
            compact_seen_every=2)

    def one_op(k: int) -> dict:
        ck = os.path.join(ctx.work, f"ck-{k}")
        cfg = config(ck)
        if ctx.tracer:
            cfg = ctx.tracer.wrap_cfg(cfg)
        dest = os.path.join(ctx.work, f"urls-{k}")
        t0, cpu0 = time.perf_counter(), _cpu_s()
        with ctx.layer("crawl"):
            crawl(spark, corpus, inp.seeds, replace(cfg, max_rounds=DURABLE_FIRST_ROUNDS))
        with ctx.layer("restore"):
            run = crawl(spark, corpus, inp.seeds, cfg, resume=True)
        crawl_s, cpu_s = time.perf_counter() - t0, _cpu_s() - cpu0
        _write_urls(ctx, run.results, dest)
        result_s = time.perf_counter() - t0
        out.attempted += 1
        got = run.results.select("url", "depth", "status").toPandas()
        n_seen = run.seen.distinct().count()
        stats = _crawl_stats(run.metrics)
        blocked = sum(m.get("blocked_robots", 0) for m in run.metrics)
        gated = sum(m.get("skipped_depth", 0) for m in run.metrics)
        verified = sum(m.get("payload_ok", 0) for m in run.metrics)
        if len(got) != got["url"].nunique():
            out.fail(f"crawl-durable op {k}: a URL repeats in the results")
        elif not _same_rows(got, expected[["url", "depth", "status"]]):
            out.fail(f"crawl-durable op {k}: (url, depth, status) differs from oracle_bfs")
        elif n_seen != len(got) + blocked + gated:
            out.fail(f"crawl-durable op {k}: |seen| {n_seen} != fetched + blocked + gated")
        elif verified != stats["crawled"]:
            out.fail(f"crawl-durable op {k}: payload_verified {verified} != crawled")
        elif _read_urls(dest) != sorted(expected["url"]):
            out.fail(f"crawl-durable op {k}: written URL list differs from the oracle's")
        return {"op_s": crawl_s, "cpu_s": cpu_s, "result_s": result_s, "metrics": run.metrics,
                "output_rows": len(got), "checkpoint": ck, "seen": n_seen,
                "payload_verified": verified, "blocked": blocked, **stats}

    _loop(ctx, out, one_op)
    corpus.unpersist()
    return out


def check_leaf(name: str, got, oracle_sql: dict, duck) -> str | None:
    """None when a leaf's rows equal its DuckDB twin (tools/check_oracle
    normalization), or its recorded row count where it has no twin."""
    from tools.check_oracle import normalize

    if name in oracle_sql:
        a, b = normalize(got), normalize(duck.sql(oracle_sql[name]).df())
        if list(a.columns) != list(b.columns):
            return f"{name}: columns {list(a.columns)} vs {list(b.columns)}"
        if not a.equals(b):
            return f"{name}: {len(a)} rows vs the oracle's {len(b)}, or values differ"
        return None
    if name in RECORDED_ROWS and len(got) != RECORDED_ROWS[name]:
        return f"{name}: {len(got)} rows, recorded {RECORDED_ROWS[name]}"
    return None


def queries(ctx: Ctx) -> Outcome:
    """The 19 headline leaves over seeded TPC-H-style tables, each forced
    with a noop write. The first pass is cold and belongs to set-up; its
    collected rows are what the checks compare. Warm passes then repeat
    until their summed wall reaches ``--seconds``; the run reports their
    median."""
    import duckdb

    import __spark_entry__ as entry
    from tools.check_oracle import TABLES

    spec = inputs.SCALES[ctx.scale]["queries"]
    sf_dir = inputs.query_tables(ctx.cache, ctx.seed, spec, ctx.corpus_version)
    spark = ctx.spark
    # get_spark already puts the package on the workers' PYTHONPATH; the
    # marker stops __spark_entry__ from zipping it into /tmp again
    setattr(spark, "_urlmap_spark_shipped", True)
    qs, oracle_sql = entry.queries(), entry.oracle_sql()
    out = Outcome()
    with ctx.layer("setup/input"):
        for _ in range(INPUT_REPS):
            t0 = time.perf_counter()
            for t in TABLES:
                spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet")).count()
            out.input_s.append(time.perf_counter() - t0)

    rows, broken = {}, set()

    def run_leaf(name: str, layer: str, collect: bool) -> None:
        try:
            with ctx.layer(layer):
                df = qs[name](spark, sf_dir)
                if collect:
                    rows[name] = df.toPandas()
                else:
                    df.write.format("noop").mode("overwrite").save()
        except Exception as e:  # noqa: BLE001 — a failing leaf is a counted failure
            broken.add(name)
            out.errors.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")

    t0 = time.perf_counter()
    for name in HEADLINE:
        run_leaf(name, "setup/warmup", collect=True)
    out.warmup_s = time.perf_counter() - t0

    duck = duckdb.connect()
    for t in TABLES:
        duck.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                 f"'{os.path.join(sf_dir, t)}.parquet')")
    for name, got in rows.items():
        msg = check_leaf(name, got, oracle_sql, duck)
        if msg:
            broken.add(name)
            out.errors.append(msg)
    duck.close()

    def one_op(k: int) -> dict:
        leaf_s, cpu0 = {}, _cpu_s()
        for name in HEADLINE:
            out.attempted += 1
            t1 = time.perf_counter()
            run_leaf(name, f"q/{name}", collect=False)
            leaf_s[name] = time.perf_counter() - t1
        return {"op_s": sum(leaf_s.values()), "cpu_s": _cpu_s() - cpu0, "leaf_s": leaf_s}

    _loop(ctx, out, one_op)
    out.failed = len(broken) * len(out.ops)
    return out


WORKLOADS = {"crawl-durable": crawl_durable, "queries": queries}


def median_of(ops: list[dict], key: str) -> float | None:
    vals = [o[key] for o in ops if o.get(key) is not None]
    return statistics.median(vals) if vals else None


def prepare(ctx: Ctx, workload: str) -> None:
    """Generate (or find cached) the workload's inputs, untimed."""
    if workload == "queries":
        inputs.query_tables(ctx.cache, ctx.seed, inputs.SCALES[ctx.scale]["queries"],
                            ctx.corpus_version)
    else:
        inputs.crawl_inputs(ctx.cache, ctx.seed, inputs.SCALES[ctx.scale][workload],
                            DURABLE_DEPTH, ctx.corpus_version, ctx.procs)


def detail_metrics(workload: str, out: Outcome, e2e: dict) -> dict:
    """The end-to-end metrics under the workload's own names, as the
    crawl and query reports have named them: crawl_s / suite_s are op_s,
    URLs/s divide the processed URLs by it."""
    d = {"setup_s": [e2e["setup_s"], "s"], "op_cpu_s": [e2e["op_cpu_s"], "s"],
         "peak_rss_mb": [e2e["peak_rss_mb"], "MB"],
         "error_rate": [out.failed / max(1, out.attempted), "fraction"],
         "ops": [len(out.ops), "count"]}
    if workload == "queries":
        d["suite_s"] = [e2e["op_s"], "s"]
        return d
    d["crawl_s"] = [e2e["op_s"], "s"]
    d["result_s"] = [median_of(out.ops, "result_s"), "s"]
    d["urls_per_s"] = [statistics.median(o["processed"] / o["op_s"] for o in out.ops), "URLs/s"]
    steady = median_of(out.ops, "steady_urls_per_s")
    if steady is not None:
        d["steady_urls_per_s"] = [steady, "URLs/s"]
    d["processed"] = [out.ops[0]["processed"], "URLs"]
    d["round_walls_s"] = [[m["wall_s"] for m in out.ops[0]["metrics"]], "s"]
    d["rounds"] = [out.ops[0]["rounds"], "count"]
    return d
