"""Politeness scheduling: per-host quotas (salted two-phase top-k),
global cap, delay-never-drop semantics (reference crawl-delay:
internal/crawler/crawler.go:603-606; rate limiter: progress.go:108-159)."""

import pandas as pd
from pyspark.sql import functions as F

from urlmap_spark.operators.politeness import quota_from_delays, schedule_frontier
from urlmap_spark.plans.crawl import CrawlConfig, crawl
from urlmap_spark.plans.oracle import oracle_bfs
from urlmap_spark.sources import corpus as C


def _frontier(spark, rows):
    return spark.createDataFrame(rows, "url string, depth int, `order` long")


def test_per_host_quota_earliest_wins(spark):
    rows = [(f"https://h{i % 2}.test/p{i}", 1, i) for i in range(10)]
    fr = _frontier(spark, rows)
    sched, deferred = schedule_frontier(fr, default_quota=2)
    s = sorted((r["url"], r["order"]) for r in sched.collect())
    d = sorted(r["order"] for r in deferred.collect())
    # per host: the 2 lowest-order rows win
    assert [o for _, o in s] == [0, 2, 1, 3] or sorted(o for _, o in s) == [0, 1, 2, 3]
    assert d == [4, 5, 6, 7, 8, 9]
    # nothing lost
    assert len(s) + len(d) == 10


def test_global_cap(spark):
    rows = [(f"https://h{i}.test/", 1, i) for i in range(8)]
    sched, deferred = schedule_frontier(_frontier(spark, rows), global_cap=3)
    assert sorted(r["order"] for r in sched.collect()) == [0, 1, 2]
    assert sorted(r["order"] for r in deferred.collect()) == [3, 4, 5, 6, 7]


def test_quota_from_delays(spark):
    delays = spark.createDataFrame(
        [("a.test", 2.0), ("b.test", 100.0)], "host string, crawl_delay_s double")
    q = {r["host"]: r["quota"] for r in quota_from_delays(delays, 10.0).collect()}
    assert q == {"a.test": 5, "b.test": 1}  # floor(10/2); min 1 keeps progress


def test_quota_crawl_delays_but_never_drops(spark):
    """A quota-limited crawl must reach the SAME final URL-seen set as an
    unlimited crawl (politeness delays, never drops — the plan-property
    analog of crawl-delay sleeps), just over more rounds."""
    pdf = C.corpus_pandas(seed=7, n_hosts=3, total_pages=40, with_bytes=False)
    cdf = spark.createDataFrame(pdf)
    seed_url = "https://h0.example-7.test/"
    free = crawl(spark, cdf, seed_url, CrawlConfig(max_depth=3, same_path_prefix=False))
    slow = crawl(spark, cdf, seed_url, CrawlConfig(
        max_depth=3, same_path_prefix=False, default_quota=3))
    urls_free = {r["url"] for r in free.results.collect()}
    urls_slow = {r["url"] for r in slow.results.collect()}
    assert urls_slow == urls_free
    assert slow.rounds > free.rounds  # quota stretched the schedule
    # oracle agreement on the seen set
    _, stats = oracle_bfs(pdf, seed_url, max_depth=3, same_path_prefix=False)
    assert sum(m["processed"] for m in slow.metrics) == len(urls_free)


def test_salting_bounds_hot_host_partitions(spark):
    """Zipf-hot host rows spread across salts in phase 1 (north_rule skew
    mitigation): with one dominant host, phase-1 ranks are computed per
    (host, salt) so no single task sees the whole host."""
    rows = [(f"https://hot.test/p{i}", 1, i) for i in range(2000)]
    rows += [(f"https://cold{i}.test/", 1, 2000 + i) for i in range(5)]
    sched, deferred = schedule_frontier(_frontier(spark, rows), default_quota=50,
                                        n_salts=8)
    s = [r for r in sched.collect()]
    hot = [r for r in s if "hot.test" in r["url"]]
    assert len(hot) == 50
    # earliest 50 by order win despite salting (two-phase re-rank is exact)
    assert sorted(r["order"] for r in hot) == list(range(50))
    assert len([r for r in s if "cold" in r["url"]]) == 5


def test_priority_quota_highest_wins(spark):
    """priority_col turns the budget pick into a priority queue (north
    rule): per host, the HIGHEST-priority rows win the quota, FIFO order
    breaking ties; scheduled + deferred still partition the frontier."""
    rows = [(f"https://h{i % 2}.test/p{i}", 1, i, i % 5) for i in range(20)]
    fr = spark.createDataFrame(
        rows, "url string, depth int, `order` long, prio long")
    sched, deferred = schedule_frontier(fr, default_quota=3, priority_col="prio")
    s = sched.collect()
    assert len(s) == 6 and sched.columns == fr.columns  # _pk never leaks
    # independent reference: per host, sort by (-prio, order), take 3
    want = set()
    for h in (0, 1):
        host_rows = sorted((r for r in rows if r[2] % 2 == h),
                           key=lambda r: (-r[3], r[2]))[:3]
        want |= {r[0] for r in host_rows}
    assert {r["url"] for r in s} == want
    assert deferred.count() == 14
    assert {r["url"] for r in deferred.collect()} == {r[0] for r in rows} - want


def test_priority_global_cap_and_tiebreak(spark):
    """The global cap stage ranks by the same (priority desc, order)
    key: equal priorities fall back to pure FIFO, and the two-phase
    salted top-k stays exact under the composite key."""
    rows = [(f"https://h{i % 7}.test/p{i}", 1, i, (i * i) % 11) for i in range(300)]
    fr = spark.createDataFrame(
        rows, "url string, depth int, `order` long, prio long")
    sched, deferred = schedule_frontier(fr, global_cap=40, priority_col="prio")
    got = sorted((r["prio"], r["order"]) for r in sched.collect())
    want = sorted(sorted(((r[3], r[2]) for r in rows),
                         key=lambda t: (-t[0], t[1]))[:40])
    assert got == want
    assert sched.count() + deferred.count() == 300
    # uniform priority == plain FIFO cap
    uni = fr.withColumn("prio", F.lit(1))
    s2, _ = schedule_frontier(uni, global_cap=40, priority_col="prio")
    assert sorted(r["order"] for r in s2.collect()) == list(range(40))


def test_priority_null_is_lowest(spark):
    """A partial priority_expr (null for unmatched rows) must rank its
    null rows LAST, not first — Spark's asc-nulls-first default would
    otherwise hand them top priority via the negated surrogate. Pinned
    through both stages (per-host quota and global cap)."""
    rows = [(f"https://h.test/p{i}", 1, i, 5 if i >= 10 else None)
            for i in range(20)]
    fr = spark.createDataFrame(
        rows, "url string, depth int, `order` long, prio long")
    sched, deferred = schedule_frontier(fr, default_quota=8, priority_col="prio")
    # the 8 quota slots go to prio=5 rows (orders 10..17), never the nulls
    assert sorted(r["order"] for r in sched.collect()) == list(range(10, 18))
    assert sched.count() + deferred.count() == 20
    s2, d2 = schedule_frontier(fr, global_cap=12, priority_col="prio")
    # cap: all ten prio=5 rows, then the two earliest nulls by FIFO order
    assert sorted(r["order"] for r in s2.collect()) == \
        sorted(list(range(10, 20)) + [0, 1])
    assert s2.count() + d2.count() == 20


def test_priority_crawl_seen_set_invariant(spark):
    """A priority-driven crawl reaches the SAME final URL-seen set as the
    FIFO crawl under the same budget (priorities reorder rounds, never
    drop), and priority_expr without any budget is rejected.

    max_depth is set past the corpus diameter: when the depth limit BINDS,
    reordering legitimately changes discovery depths (a URL's depth is
    fixed by whichever parent is fetched first), so set-equality is only
    the contract when delays are the one constraint in play."""
    import pytest

    pdf = C.corpus_pandas(seed=11, n_hosts=3, total_pages=40, with_bytes=False)
    cdf = spark.createDataFrame(pdf)
    seed_url = "https://h0.example-11.test/"
    base = CrawlConfig(max_depth=30, same_path_prefix=False, global_cap=5)
    fifo = crawl(spark, cdf, seed_url, base)
    from dataclasses import replace
    pri = crawl(spark, cdf, seed_url,
                replace(base, priority_expr="xxhash64(url)"))
    assert ({r["url"] for r in pri.results.collect()}
            == {r["url"] for r in fifo.results.collect()})
    with pytest.raises(ValueError, match="politeness budget"):
        crawl(spark, cdf, seed_url,
              CrawlConfig(max_depth=2, priority_expr="depth"))


def test_priority_crawl_reorders_rounds(spark):
    """Priorities actually ACT: with a cap of 1 and priority = desired
    rank, the fetch sequence follows the priority, not FIFO order."""
    pdf = C.corpus_pandas(seed=13, n_hosts=2, total_pages=12, with_bytes=False)
    cdf = spark.createDataFrame(pdf)
    seed_url = "https://h0.example-13.test/"
    base = CrawlConfig(max_depth=2, same_path_prefix=False, global_cap=1,
                       max_rounds=40)
    fifo = crawl(spark, cdf, seed_url, base)
    from dataclasses import replace
    # reverse-FIFO priority: later-discovered URLs first (LIFO = DFS-ish)
    rev = crawl(spark, cdf, seed_url, replace(base, priority_expr="order"))
    assert ({r["url"] for r in rev.results.collect()}
            == {r["url"] for r in fifo.results.collect()})
    # the priority visibly reorders the schedule: per-round fetched-depth
    # sequences diverge (deterministic corpus -> deterministic sequences),
    # and the DFS-ish schedule touches depth 2 strictly earlier
    fifo_d = [m["max_depth"] for m in fifo.metrics if m["processed"]]
    rev_d = [m["max_depth"] for m in rev.metrics if m["processed"]]
    assert fifo_d != rev_d
    assert rev_d.index(2) < fifo_d.index(2)


def test_global_cap_has_no_partitionless_window(spark):
    """Phase 2 of the global cap uses the count-offset rank, not a
    Window.orderBy() without partitionBy — a cap of 10^7 must never put
    cap_salts*cap rows into one task. Every window in the plan carries a
    partition spec."""
    rows = [(f"https://h{i % 5}.test/p{i}", 1, i) for i in range(500)]
    sched, deferred = schedule_frontier(_frontier(spark, rows), global_cap=100)
    assert sorted(r["order"] for r in sched.collect()) == list(range(100))
    assert deferred.count() == 400
    for df in (sched, deferred):
        plan = df._jdf.queryExecution().executedPlan().toString()
        # a partitionless window compiles to an Exchange SinglePartition
        # feeding the Window — the plan must have none anywhere
        assert "SinglePartition" not in plan, plan


def test_flagged_schedule_matches_reference(spark):
    """schedule_frontier(flag_col=...) flags every row once, and the
    flagged rows are exactly the straightforward ranking's picks: per
    host the `quota` best by (priority desc, order), then the global cap
    over those. Without a global cap the flags come from one window
    chain: two exchanges, no union, no partitionless window — even with
    a Zipf-hot host."""
    rows = [(f"https://hot.test/p{i}", 1 + i % 3, i) for i in range(600)]
    rows += [(f"https://c{i % 7}.test/p{i}", 1 + i % 2, 600 + i) for i in range(60)]
    fr = _frontier(spark, rows).withColumn("prio", F.col("depth") % 2)
    pdf = fr.toPandas()
    pdf["host"] = pdf["url"].str.extract(r"https://([^/]+)/")[0]
    quota = spark.createDataFrame([("c3.test", 1), ("hot.test", 40)], "host string, quota int")
    qmap = {"c3.test": 1, "hot.test": 40}
    for kw in (dict(default_quota=4), dict(host_quota=quota, default_quota=2),
               dict(default_quota=4, priority_col="prio"),
               dict(global_cap=25), dict(default_quota=5, global_cap=30, priority_col="prio")):
        key = (["prio", "order"], [False, True]) if "priority_col" in kw else (["order"], [True])
        ranked = pdf.sort_values(key[0], ascending=key[1])
        if "default_quota" in kw:
            q = ranked["host"].map(qmap if "host_quota" in kw else {}).fillna(kw["default_quota"])
            ranked = ranked[ranked.groupby("host").cumcount() < q]
        if "global_cap" in kw:
            ranked = ranked.head(kw["global_cap"])
        flagged = schedule_frontier(fr, n_salts=8, flag_col="_s", **kw)
        plan = flagged._jdf.queryExecution().executedPlan().toString()  # before it runs
        assert flagged.columns == fr.columns + ["_s"]
        got = sorted((r["order"], r["_s"]) for r in flagged.collect())
        assert got == sorted((o, o in set(ranked["order"])) for o in pdf["order"]), kw
        if "global_cap" not in kw:
            assert "Union" not in plan and "SinglePartition" not in plan, plan
            assert plan.count("Exchange hashpartitioning") == 2, plan
