"""Per-layer trace of one benchmark run, taken from outside the program.

Three sources, none of which edits the program:

1. The Spark event log, enabled through ``get_spark(extra_conf=...)``:
   job and task times, shuffle and spill bytes, and the SQL plan-node
   metrics (rows out, data size, hash-build time, bytes sent to Python).
2. Thin wrappers on the public functions ``crawl()`` calls: the names
   ``urlmap_spark.plans.crawl`` binds, the seen helpers it reaches
   through their modules, and ``RoundCatalog.commit_round``/``compact``.
   Each wrapper records a span and sets the job description
   ``r{n}/{layer}``, so the jobs that follow are attributed to that
   layer. Round boundaries come from the public ``CrawlConfig.progress``
   callback.
3. Spark's ``CodegenMetrics`` compile count, read through py4j around
   each crawl call.

Several layers are lazy: canonicalize, first-wins and the seen probe
only build plans, and all of them run inside the job that
``with_global_order`` materializes. Their share of that job is read from
the plan-node metrics of its SQL execution, not by dividing wall time.
Spans stay in memory and are written when the run ends.
"""

from __future__ import annotations

import contextlib
import dataclasses
import functools
import glob
import importlib
import json
import os
import statistics
import time

# (module, attribute) -> layer. A description set by a wrapper holds
# until the next wrapper (or round boundary) replaces it.
WRAPPED = {
    ("urlmap_spark.plans.crawl", "schedule_frontier"): "schedule",
    ("urlmap_spark.plans.crawl", "robots_gate"): "robots",
    ("urlmap_spark.plans.crawl", "status_ok_expr"): "fetch",
    ("urlmap_spark.plans.crawl", "explode_hrefs"): "extract",
    ("urlmap_spark.plans.crawl", "canonicalize_links"): "canonicalize",
    ("urlmap_spark.plans.crawl", "first_wins"): "first_wins",
    ("urlmap_spark.plans.crawl", "first_wins_packed"): "first_wins",
    ("urlmap_spark.plans.crawl", "with_global_order"): "order",
    ("urlmap_spark.operators.seen", "build_filters"): "seen_filter",
    ("urlmap_spark.operators.seen", "seen_anti_join"): "seen",
    ("urlmap_spark.operators.cuckoo", "build_filters"): "seen_filter",
    ("urlmap_spark.operators.cuckoo", "seen_anti_join"): "seen",
    ("urlmap_spark.operators.diskseen", "disk_seen_anti_join"): "seen_disk",
    ("urlmap_spark.sources.catalog", "RoundCatalog.commit_round"): "commit",
    ("urlmap_spark.sources.catalog", "RoundCatalog.compact"): "compact",
}
# jobs started after these wrappers return belong to the round's tail
# (frontier checkpoint, seen bookkeeping), not to the layer itself
TAIL_AFTER = {"order", "commit", "compact"}
# plan wrappers that stand between an operator and its real input
_PASS_THROUGH = ("ShuffleQueryStage", "InputAdapter", "AQEShuffleRead", "Sort",
                 "WholeStageCodegen", "BroadcastQueryStage", "Project")
MB = 1 << 20


@dataclasses.dataclass
class Span:
    name: str
    round: int | None
    t0: float
    t1: float = 0.0


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.round = 0
        self.spans: list[Span] = []
        self.rounds_disk: set[int] = set()
        self.codegen_compiles = 0
        self._saved: list[tuple] = []
        self._restore_t0: float | None = None
        self.restore_s = 0.0
        self.active = False  # inside a measured crawl call

    # --- description + spans ---------------------------------------------
    def _describe(self, text: str) -> None:
        self.spark.sparkContext.setJobDescription(text)

    def _codegen(self) -> int:
        # the histogram's count is exact; its decaying reservoir gives no
        # exact total time. The counter is JVM-wide, but nothing else runs
        # Spark work while a crawl call does.
        return self.spark.sparkContext._jvm.org.apache.spark.metrics.source \
            .CodegenMetrics.METRIC_COMPILATION_TIME().getCount()

    @contextlib.contextmanager
    def layer(self, name: str):
        """A layer the benchmark itself drives: set-up, a crawl call, the
        resume call, output writing, one query leaf."""
        if name == "crawl":
            self.round = 0
        if name == "restore":
            self._restore_t0 = time.time()
            self._describe(f"r{self.round}/restore")
        elif name == "crawl":
            self._describe("r0/pre")
        else:
            self._describe(name)
        crawling = name in ("crawl", "restore")
        span = Span(name, self.round if crawling else None, time.time())
        n0 = self._codegen()
        self.active = crawling
        try:
            yield
        finally:
            self.active = False
            span.t1 = time.time()
            self.spans.append(span)
            if crawling:
                self.codegen_compiles += self._codegen() - n0
            self._describe("bench")

    def _on_round(self, m: dict) -> None:
        if not self.active:
            return
        self.spans.append(Span("round_end", m["round"], time.time(), time.time()))
        self.round = m["round"] + 1
        self._describe(f"r{self.round}/pre")

    def wrap_cfg(self, cfg):
        return dataclasses.replace(cfg, progress=self._on_round)

    def _wrapper(self, layer: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.active:  # e.g. a query leaf calling the seen operators
                return fn(*args, **kwargs)
            if self._restore_t0 is not None:
                self.restore_s += time.time() - self._restore_t0
                self._restore_t0 = None
            if layer == "seen_disk":
                self.rounds_disk.add(self.round)
            self._describe(f"r{self.round}/{layer}")
            span = Span(layer, self.round, time.time())
            try:
                return fn(*args, **kwargs)
            finally:
                span.t1 = time.time()
                self.spans.append(span)
                if layer in TAIL_AFTER:
                    self._describe(f"r{self.round}/tail")
        return traced

    def install(self) -> None:
        for (mod_name, attr), layer in WRAPPED.items():
            owner = importlib.import_module(mod_name)
            *path, name = attr.split(".")
            for p in path:
                owner = getattr(owner, p)
            fn = getattr(owner, name)
            self._saved.append((owner, name, fn))
            setattr(owner, name, self._wrapper(layer, fn))

    def uninstall(self) -> None:
        for owner, name, fn in reversed(self._saved):
            setattr(owner, name, fn)
        self._saved.clear()

    def before_stop(self) -> None:
        self._describe("bench")

    # --- metrics ---------------------------------------------------------
    def layer_metrics(self, workload: str, outcome, env: dict, event_dir: str,
                      session_s: float, trace_file: str) -> dict:
        log = EventLog.read(event_dir)
        out = per_layer(workload, outcome, env, log, self, session_s)
        os.makedirs(os.path.dirname(trace_file), exist_ok=True)
        with open(trace_file, "w") as f:
            json.dump({"spans": [dataclasses.asdict(s) for s in self.spans],
                       "metrics": out}, f)
        return out


# --- event log ----------------------------------------------------------------

def _union_s(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


class EventLog:
    """The parts of one application's event log the trace uses."""

    def __init__(self):
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.tasks: list[dict] = []
        self.accum: dict[int, float] = {}
        self.plans: dict[int, list[dict]] = {}

    @classmethod
    def read(cls, event_dir: str) -> "EventLog":
        log = cls()
        for path in glob.glob(os.path.join(event_dir, "*")):
            with open(path) as f:
                for line in f:
                    log._add(json.loads(line))
        return log

    def _add(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jid = e["Job ID"]
            self.jobs[jid] = {"desc": props.get("spark.job.description", ""),
                              "exec": props.get("spark.sql.execution.id"),
                              "t0": e["Submission Time"] / 1000, "t1": None}
            for s in e["Stage IDs"]:
                self.stage_job.setdefault(s, jid)
        elif kind == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]]["t1"] = e["Completion Time"] / 1000
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            sr, sw = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
            self.tasks.append({
                "stage": e["Stage ID"],
                "run_s": m.get("Executor Run Time", 0) / 1000,
                "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                "written": m.get("Output Metrics", {}).get("Bytes Written", 0)})
            for a in e.get("Task Info", {}).get("Accumulables", []):
                if a.get("Metadata") == "sql":
                    self.accum[a["ID"]] = self.accum.get(a["ID"], 0) + float(a["Update"])
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for aid, v in e["accumUpdates"]:
                self.accum[aid] = self.accum.get(aid, 0) + float(v)
        elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            self.plans.setdefault(e["executionId"], []).append(e["sparkPlanInfo"])

    # --- selections ---
    def job_ids(self, pred) -> list[int]:
        return [j for j, v in self.jobs.items() if v["t1"] is not None and pred(v["desc"])]

    def job_s(self, jobs) -> float:
        return _union_s((self.jobs[j]["t0"], self.jobs[j]["t1"]) for j in jobs)

    def task_sum(self, jobs, key: str) -> float:
        js = set(jobs)
        return sum(t[key] for t in self.tasks if self.stage_job.get(t["stage"]) in js)

    def execs(self, jobs) -> set:
        return {int(self.jobs[j]["exec"]) for j in jobs if self.jobs[j]["exec"] is not None}

    def nodes(self, execs):
        """(node, parent) pairs over every plan version of the
        executions; a node met in several versions is kept once, by its
        first metric's accumulator."""
        seen = set()
        for x in execs:
            for plan in self.plans.get(x, []):
                stack = [(plan, None)]
                while stack:
                    n, parent = stack.pop()
                    key = (n["nodeName"], tuple(m["accumulatorId"] for m in n["metrics"]))
                    if not n["metrics"] or key not in seen:
                        seen.add(key)
                        yield n, parent
                    stack.extend((c, n) for c in n["children"])

    def metric(self, node: dict, name: str) -> float:
        """A node metric's total, in bytes, seconds or rows."""
        for m in node["metrics"]:
            if m["name"] == name:
                v = self.accum.get(m["accumulatorId"], 0.0)
                return {"timing": v / 1e3, "nsTiming": v / 1e9}.get(m["metricType"], v)
        return 0.0

    def sum_metric(self, execs, name_pred, metric: str) -> float:
        return sum(self.metric(n, metric) for n, _ in self.nodes(execs) if name_pred(n))


def _under(node: dict) -> list[dict]:
    """The operators feeding ``node``, looking through stage and codegen
    wrappers."""
    out, stack = [], list(node["children"])
    while stack:
        n = stack.pop()
        if n["nodeName"].startswith(_PASS_THROUGH):
            stack.extend(n["children"])
        else:
            out.append(n)
    return out


def _rows_in(log: EventLog, node: dict) -> float:
    """Rows flowing into ``node``: the row counts of the operators under
    it, looking through wrappers, projections and unions."""
    total = 0.0
    for c in _under(node):
        if c["nodeName"] == "Union":
            total += sum(_rows_in(log, {"children": [g]}) for g in c["children"])
        else:
            total += log.metric(c, "number of output rows")
    return total


def _layer_is(*names):
    def pred(desc: str) -> bool:
        return "/" in desc and desc.startswith("r") and desc.split("/", 1)[1] in names
    return pred


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def per_layer(workload: str, outcome, env: dict, log: EventLog, tr: Tracer,
              session_s: float) -> dict:
    ops = outcome.ops
    metrics = ops[0].get("metrics", []) if ops else []
    done = [m for m in metrics if m.get("processed", 0) > 0]
    v: dict[str, tuple[float, str]] = {}

    def put(name, value, unit):
        v[name] = (float(value), unit)

    # whole run + host + setup
    put("shuffle_mb", sum(t["shuffle_write"] for t in log.tasks) / MB, "MB")
    put("spill_mb", sum(t["spill"] for t in log.tasks) / MB, "MB")
    put("host.calib_s", env["calib_s"], "s")
    put("host.load_start", env["load_start"], "load")
    put("host.load_end", env["load_end"], "load")
    put("setup.session_s", session_s, "s")
    put("setup.corpus_cache_s", statistics.median(outcome.input_s), "s")
    put("setup.warmup_s", outcome.warmup_s, "s")
    put("trace.op_s", statistics.median(o["op_s"] for o in ops), "s")

    # plans.crawl: the round driver
    crawl_spans = [s for s in tr.spans if s.name in ("crawl", "restore")]
    crawl_wall = sum(s.t1 - s.t0 for s in crawl_spans)
    crawl_jobs = log.job_ids(lambda d: d.startswith("r") and "/" in d)
    covered = sum(_union_s((max(log.jobs[j]["t0"], s.t0), min(log.jobs[j]["t1"], s.t1))
                           for j in crawl_jobs
                           if log.jobs[j]["t1"] > s.t0 and log.jobs[j]["t0"] < s.t1)
                  for s in crawl_spans)
    walls = [m["wall_s"] for m in done]
    put("crawl.rounds", len(done), "count")
    put("crawl.round_s.p50", statistics.median(walls) if walls else 0, "s")
    put("crawl.round_s.max", max(walls, default=0), "s")
    put("crawl.pre_round_s", log.job_s(log.job_ids(_layer_is("pre"))), "s")
    put("crawl.post_round_s", log.job_s(log.job_ids(_layer_is("tail"))), "s")
    put("crawl.jobs_per_round", _ratio(len(crawl_jobs), len(done)), "count")
    put("crawl.no_job_s", crawl_wall - covered if crawl_spans else 0, "s")
    put("crawl.codegen_compiles", tr.codegen_compiles, "count")
    put("crawl.busy_frac", _ratio(log.task_sum(crawl_jobs, "run_s"),
                                  env["cores"] * crawl_wall), "fraction")

    def s_of(*names):
        return log.job_s(log.job_ids(_layer_is(*names)))

    def task_of(key, *names):
        return log.task_sum(log.job_ids(_layer_is(*names)), key)

    def ex(*names):
        return log.execs(log.job_ids(_layer_is(*names)))

    processed = sum(m.get("processed", 0) for m in metrics)
    crawled = sum(m.get("crawled", 0) for m in metrics)

    def named(*prefixes):
        return lambda n: n["nodeName"].startswith(prefixes)

    # fetch: the corpus join, with the payload UDF fused into its job
    put("fetch.s", s_of("fetch"), "s")
    put("fetch.task_s", task_of("run_s", "fetch"), "s")
    put("fetch.rows", processed, "rows")
    put("fetch.ok_ratio", _ratio(crawled, processed), "fraction")
    put("fetch.shuffle_read_mb", task_of("shuffle_read", "fetch") / MB, "MB")

    # operators.multimodal: payload_ok_udf, an ArrowEvalPython node in the fetch job
    py = named("ArrowEvalPython")
    fx = ex("fetch")
    put("verify.task_s", log.sum_metric(fx, py, "time to run Python workers"), "s")
    put("verify.rows", log.sum_metric(fx, py, "number of output rows"), "rows")
    put("verify.ok_ratio", _ratio(sum(m.get("payload_ok", 0) for m in metrics), crawled),
        "fraction")
    put("verify.python_mb", (log.sum_metric(fx, py, "data sent to Python workers")
                             + log.sum_metric(fx, py, "data returned from Python workers"))
        / MB, "MB")

    # operators.extract (+ urlkernel/urlcore): explode job; canonicalize runs in the order job
    ox = ex("order")
    put("extract.s", s_of("extract"), "s")
    put("extract.task_s", task_of("run_s", "extract"), "s")
    put("extract.hrefs", log.sum_metric(ex("extract"), named("Generate"),
                                        "number of output rows"), "rows")
    put("extract.links", sum(log.metric(n, "number of output rows")
                             for n, _ in log.nodes(ex("extract"))
                             if n["nodeName"] == "Filter"
                             and any(c["nodeName"] == "Generate" for c in n["children"])), "rows")
    put("extract.udf_rows", log.sum_metric(ox, named("ArrowEvalPython", "BatchEvalPython"),
                                           "number of output rows"), "rows")

    # operators.order: with_global_order's eager materialization
    fw = sum(_rows_in(log, n) for n, _ in log.nodes(ox)
             if n["nodeName"] == "HashAggregate" and "partial_min(" in n.get("simpleString", ""))
    new_urls = sum(m.get("new_discovered", 0) for m in metrics)
    put("order.s", s_of("order"), "s")
    put("order.shuffle_mb", task_of("shuffle_write", "order") / MB, "MB")
    put("order.candidates", fw, "rows")
    put("order.new_urls", new_urls, "rows")
    put("order.new_ratio", _ratio(new_urls, fw), "fraction")

    # seen: operators.cuckoo / diskseen, probed inside the order job. The
    # benchmarked crawl keeps seen on disk, so the in-memory broadcast and
    # shuffled-hash probes are not reported.
    probe_mb = 0.0
    for n, _ in log.nodes(ox):
        if n["nodeName"] in ("ShuffledHashJoin", "FlatMapGroupsInPandas",
                             "FlatMapCoGroupsInPandas"):
            probe_mb += sum(log.metric(c, "shuffle bytes written") for c in _under(n)
                            if c["nodeName"] == "Exchange")
    maybe = log.sum_metric(ox, lambda n: n["nodeName"] == "Filter"
                           and "_maybe" in n.get("simpleString", "")
                           and "NOT" not in n.get("simpleString", ""), "number of output rows")
    probed = log.sum_metric(ox, named("FlatMapCoGroupsInPandas"), "number of output rows")
    put("seen.size", metrics[-1].get("order_counter", 0) if metrics else 0, "urls")
    put("seen.rounds.disk", len(tr.rounds_disk), "count")
    put("seen.probe_shuffle_mb", probe_mb / MB, "MB")
    put("seen.filter_build_s", s_of("seen_filter"), "s")
    put("seen.filter_pass_ratio", _ratio(maybe, probed), "fraction")

    # operators.politeness / operators.robots
    deferred = sum(m.get("deferred", 0) for m in metrics)
    put("schedule.s", s_of("schedule"), "s")
    put("schedule.deferred", deferred, "rows")
    put("schedule.deferred_ratio", _ratio(deferred, sum(m.get("frontier", 0) for m in done)),
        "fraction")
    put("robots.s", s_of("robots"), "s")
    put("robots.blocked", sum(m.get("blocked_robots", 0) for m in metrics), "rows")

    # sources.catalog
    ck = ops[0].get("checkpoint") if ops else None
    files = sum(len(f) for _, _, f in os.walk(ck)) if ck and os.path.isdir(ck) else 0
    put("catalog.commit_s", sum(s.t1 - s.t0 for s in tr.spans if s.name == "commit"), "s")
    put("catalog.compact_s", sum(s.t1 - s.t0 for s in tr.spans if s.name == "compact"), "s")
    put("catalog.restore_s", tr.restore_s, "s")
    put("catalog.written_mb", task_of("written", "commit", "compact") / MB, "MB")
    put("catalog.files", files, "count")

    # operators.output
    put("output.s", sum(s.t1 - s.t0 for s in tr.spans if s.name == "output") / max(1, len(ops)),
        "s")
    put("output.rows", ops[0].get("output_rows", 0) if ops and workload != "queries" else 0,
        "rows")

    # query leaves
    from workloads import HEADLINE

    for name in HEADLINE:
        vals = [o["leaf_s"][name] for o in ops if "leaf_s" in o]
        put(f"query.{name}_s", statistics.median(vals) if vals else 0, "s")
    put("query.jobs", _ratio(len(log.job_ids(lambda d: d.startswith("q/"))),
                             len(ops) if workload == "queries" else 0), "count")
    return {k: {"value": val, "unit": unit} for k, (val, unit) in v.items()}
