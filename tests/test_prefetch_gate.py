"""The round's one materialization before the fetch: the depth gate,
the politeness schedule and the robots gate build one flagged frame,
stored by one checkpoint whose Observation carries the round's
skipped_depth / deferred / blocked_robots counts.

Pinned here: the per-round metrics of a politeness + robots +
depth-gated crawl (including its last round, where every frontier row
is gated), the crawl `order` across core counts, and a ceiling on the
Spark jobs a durable-config crawl runs — a re-run exchange or a
schema-inference read per round shows up as extra jobs."""

import json
import os
import subprocess
import sys
from dataclasses import replace

from urlmap_spark.plans.crawl import CrawlConfig, crawl
from urlmap_spark.plans.oracle import oracle_bfs
from urlmap_spark.sources import corpus as C

HOST = "h{}.example-42.test"
RULES = [(HOST.format(0), "*", "Disallow", "/d1/", 1),
         (HOST.format(0), "*", "Allow", "/d1/p2", 2),
         (HOST.format(1), "*", "Disallow", "/p1*", 1),
         (HOST.format(1), "*", "Allow", "/p1/", 2),
         (HOST.format(2), "*", "Disallow", "/d2", 1)]
SEEDS = [f"https://{HOST.format(h)}/" for h in range(4)]


def _rules(spark):
    return spark.createDataFrame(
        RULES, "host string, user_agent string, directive string, path string, lineno int")


def _polite_cfg(spark, **kw):
    return CrawlConfig(max_depth=2, same_domain=False, same_path_prefix=False,
                       default_quota=3, priority_expr="-depth",
                       robots_rules=_rules(spark), **kw)


# (round, frontier, skipped_depth, deferred, blocked_robots, processed,
#  crawled, failed, new_discovered, max_depth, order_counter): the crawl
# with the depth gate, the schedule and the robots gate run as separate
# materializations gave exactly these
GOLDEN = [
    [0, 4, 0, 0, 0, 4, 4, 0, 18, 0, 22],
    [1, 18, 0, 6, 3, 9, 4, 5, 13, 1, 35],
    [2, 19, 0, 7, 1, 11, 5, 6, 12, 2, 47],
    [3, 19, 9, 4, 0, 6, 4, 2, 14, 2, 61],
    [4, 18, 14, 0, 0, 4, 1, 3, 2, 2, 63],
    [5, 2, 2, None, 0, 0, 0, 0, 0, 0, 63],
]
KEYS = ["round", "frontier", "skipped_depth", "deferred", "blocked_robots",
        "processed", "crawled", "failed", "new_discovered", "max_depth",
        "order_counter"]
ROUND_KEYS = {"round", "frontier", "skipped_depth", "deferred", "blocked_robots",
              "new_discovered", "order_counter", "wall_s", "urls_per_sec",
              "processed", "crawled", "failed", "max_depth"}
GATED_KEYS = ROUND_KEYS - {"deferred", "urls_per_sec"}


def test_polite_robots_depth_metrics_golden(spark):
    """Every per-round metrics dict — keys and values — of a crawl that
    defers (quota 3 + priority), blocks (robots) and depth-gates rows;
    the last round has only depth-gated rows and appends the zero row
    without a `deferred` key before it stops. The fetched set equals the
    oracle's under the same robots verdicts."""
    pdf = C.corpus_pandas(seed=42, n_hosts=4, total_pages=60, with_bytes=False)
    run = crawl(spark, spark.createDataFrame(pdf), SEEDS, _polite_cfg(spark))
    assert [[m.get(k) for k in KEYS] for m in run.metrics] == GOLDEN
    assert [set(m) for m in run.metrics] == [ROUND_KEYS] * 5 + [GATED_KEYS]
    got = {(r["url"], r["depth"]) for r in run.results.collect()}
    from urlmap_spark.operators.robots import robots_gate

    scope = dict(max_depth=2, same_domain=False, same_path_prefix=False)
    reachable, _ = oracle_bfs(pdf, SEEDS, **scope)
    urls = spark.createDataFrame([(r.url,) for r in reachable], "url string")
    disallowed = {r["url"] for r in robots_gate(urls, _rules(spark)).collect()
                  if not r["robots_allowed"]}
    eres, _ = oracle_bfs(pdf, SEEDS, robots_disallowed=disallowed, **scope)
    assert sum(m["blocked_robots"] for m in run.metrics) > 0
    assert got == {(r.url, r.depth) for r in eres}


_ORDER_DRIVER = r"""
import json, sys
from tests.test_prefetch_gate import SEEDS, _polite_cfg
from urlmap_spark.session import get_spark
from urlmap_spark.sources import corpus as C
from urlmap_spark.plans.crawl import crawl

master, out = sys.argv[1:3]
spark = get_spark(master=master)
cdf = spark.createDataFrame(
    C.corpus_pandas(seed=42, n_hosts=4, total_pages=60, with_bytes=False))
run = crawl(spark, cdf, SEEDS, _polite_cfg(spark))
rows = [(r["url"], r["depth"], r["order"], r["round"])
        for r in run.results.orderBy("order").collect()]
with open(out, "w") as f:
    json.dump(rows, f)
spark.stop()
"""


def test_polite_robots_order_parallelism_invariant(tmp_path):
    """The politeness + robots crawl assigns the identical `order` (and
    round) to every URL at local[2] and local[4], each in its own JVM:
    the flagged frame's partitioning cannot leak into the schedule."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    driver = tmp_path / "order.py"
    driver.write_text(_ORDER_DRIVER)
    env = {**os.environ, "PYTHONPATH": repo + os.pathsep + os.environ.get("PYTHONPATH", "")}
    procs = {}
    for n in (2, 4):  # both JVMs at once
        with open(tmp_path / f"err{n}.txt", "w") as err:
            procs[n] = subprocess.Popen([sys.executable, str(driver), f"local[{n}]",
                                         str(tmp_path / f"rows{n}.json")],
                                        stderr=err, env=env)
    got = {}
    for n, p in procs.items():
        assert p.wait(timeout=600) == 0, (tmp_path / f"err{n}.txt").read_text()[-3000:]
        got[n] = json.loads((tmp_path / f"rows{n}.json").read_text())
    assert got[2] == got[4] and len(got[2]) > 10


def _next_job_id(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


# Spark jobs of the tiny durable crawl below (two rounds, then a resume
# that runs the other four): 122 when this ceiling was pinned, against
# 193 with the gates materialized one by one. One more job per round —
# a window exchange run twice, a schema-inference read of a committed
# table — exceeds it.
DURABLE_JOB_CEILING = 124


def test_durable_crawl_job_budget(spark, tmp_path):
    """quota + priority + robots + payload checks + disk seen behind the
    cuckoo filter + compaction + resume, counted with the DAG
    scheduler's job ids around both crawl calls."""
    cdf = spark.createDataFrame(
        C.corpus_pandas(seed=42, n_hosts=4, total_pages=60, with_bytes=True))
    cdf.cache().count()
    rules = _rules(spark).localCheckpoint(eager=True)
    cfg = CrawlConfig(
        max_depth=2, same_domain=False, same_path_prefix=False,
        checkpoint_dir=str(tmp_path / "ck"), default_quota=3,
        priority_expr="-depth", robots_rules=rules, verify_payload=True,
        bloom_seen=True, seen_filter="cuckoo", disk_seen=True,
        disk_seen_buckets=4, seen_filter_bits=4 << 14,
        broadcast_seen_max_urls=0, compact_seen_every=2)
    j0 = _next_job_id(spark)
    crawl(spark, cdf, SEEDS, replace(cfg, max_rounds=2))
    run = crawl(spark, cdf, SEEDS, cfg, resume=True)
    jobs = _next_job_id(spark) - j0
    cdf.unpersist()
    assert [[m.get(k) for k in KEYS] for m in run.metrics] == GOLDEN
    assert jobs <= DURABLE_JOB_CEILING, jobs
