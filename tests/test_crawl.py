"""Crawl-level equality vs the pure-Python oracle BFS (the stand-in for
the Go reference binary): URL-seen set, crawl order, depth assignment,
failure handling, depth limits, checkpoint/resume, parallelism
invariance. Mirrors the reference's crawler behavior suite
(reference: internal/crawler/comprehensive_test.go, crawler_test.go)."""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from urlmap_spark.plans.crawl import CrawlConfig, crawl, frontier_lineage
from urlmap_spark.plans.oracle import oracle_bfs
from urlmap_spark.sources import corpus as C


def run_both(spark, pdf, seed, **kw):
    cdf = spark.createDataFrame(pdf)
    run = crawl(spark, cdf, seed, CrawlConfig(**kw))
    got = [(r["url"], r["depth"], r["order"], r["ok"])
           for r in run.results.orderBy("order").collect()]
    eres, estats = oracle_bfs(
        pdf, seed,
        max_depth=kw.get("max_depth", -1),
        same_domain=kw.get("same_domain", True),
        same_path_prefix=kw.get("same_path_prefix", True),
    )
    exp = [(r.url, r.depth, r.order, r.ok) for r in eres]
    return got, exp, run, estats


def test_basic_site_order_and_depth(spark):
    got, exp, _, _ = run_both(spark, C.basic_site_pandas(), "https://basic.test/")
    assert got == exp
    assert len(got) == 4


def test_unnormalized_seed(spark):
    """Seed normalization (reference: crawler.go:494-501): fragment and
    trailing slash must not change the crawl."""
    base, expb, _, _ = run_both(spark, C.basic_site_pandas(), "https://basic.test/")
    got, exp, _, _ = run_both(spark, C.basic_site_pandas(), "https://basic.test/#frag")
    assert got == exp == base == expb


@pytest.mark.parametrize("max_depth", [0, 1, 2, -1])
def test_nested_depth_limits(spark, max_depth):
    got, exp, _, _ = run_both(
        spark, C.nested_depth_site_pandas(), "https://nested.test/", max_depth=max_depth)
    assert got == exp
    if max_depth >= 0:
        assert max(d for _, d, _, _ in got) <= max_depth


def test_generated_corpus_domain_scope(spark):
    pdf = C.corpus_pandas(seed=42, n_hosts=4, total_pages=60, with_bytes=False)
    got, exp, run, estats = run_both(
        spark, pdf, "https://h0.example-42.test/",
        max_depth=3, same_path_prefix=False)
    assert got == exp
    # failed fetches are kept in results (reference: crawler.go:215)
    assert any(not ok for _, _, _, ok in got)
    # nothing escaped the seed domain
    assert all(url.startswith("https://h0.example-42.test") for url, _, _, _ in got)
    m_crawled = sum(m["crawled"] for m in run.metrics)
    m_failed = sum(m["failed"] for m in run.metrics)
    assert m_crawled == estats["crawled"] and m_failed == estats["failed"]


def test_path_prefix_scope(spark):
    """same_path_prefix keeps the crawl under the seed's directory."""
    host = "pp.test"

    def row(path, hrefs):
        return {"image_id": f"{host}{path}", "bytes": None, "w": 32, "h": 32,
                "fmt": "ppm", "caption": " ".join(f'href="{h}"' for h in hrefs),
                "phash": 0, "url": f"https://{host}{path}", "status": 200}

    # corpus URL keys are canonical (normalized) forms — the seed
    # "https://pp.test/docs/" normalizes to ".../docs" and must hit this row
    pdf = pd.DataFrame([
        row("/docs", ["/docs/a", "/docs/b", "/api/x", "/documentation/y"]),
        row("/docs/a", ["/docs/b", "/"]),
        row("/docs/b", []),
        row("/api/x", ["/docs/a"]),
    ], columns=C.CORPUS_COLUMNS)
    got, exp, _, _ = run_both(spark, pdf, "https://pp.test/docs/")
    assert got == exp
    urls = [u for u, _, _, _ in got]
    assert "https://pp.test/api/x" not in urls
    assert "https://pp.test/documentation/y" not in urls
    assert set(urls) == {"https://pp.test/docs", "https://pp.test/docs/a", "https://pp.test/docs/b"}


def test_parallelism_invariance(spark):
    """Same crawl, shuffled/repartitioned input, different partitioning —
    identical order (determinism under parallelism, SURVEY.md §7)."""
    pdf = C.corpus_pandas(seed=7, n_hosts=3, total_pages=40, with_bytes=False)
    cdf1 = spark.createDataFrame(pdf).repartition(1)
    cdf2 = spark.createDataFrame(pdf.sample(frac=1.0, random_state=3)).repartition(16)
    cfg = CrawlConfig(max_depth=4, same_path_prefix=False)
    r1 = crawl(spark, cdf1, "https://h0.example-7.test/", cfg)
    r2 = crawl(spark, cdf2, "https://h0.example-7.test/", cfg)
    a = [(r["url"], r["depth"], r["order"]) for r in r1.results.orderBy("order").collect()]
    b = [(r["url"], r["depth"], r["order"]) for r in r2.results.orderBy("order").collect()]
    assert a == b


@pytest.mark.parametrize("interrupt", [1, 2, 3])
def test_checkpoint_resume(spark, tmp_path, interrupt):
    """Kill-between-rounds -> resume -> identical final output
    (SURVEY.md §7 M5; north_rule checkpoint/resume), whichever round
    the first run stops after."""
    pdf = C.corpus_pandas(seed=42, n_hosts=4, total_pages=60, with_bytes=False)
    cdf = spark.createDataFrame(pdf)
    seed = "https://h0.example-42.test/"

    full = crawl(spark, cdf, seed, CrawlConfig(max_depth=3, same_path_prefix=False))
    expect = [(r["url"], r["depth"], r["order"]) for r in full.results.orderBy("order").collect()]

    # run only `interrupt` rounds, then resume from checkpoint
    ck = str(tmp_path / "ckpt")
    partial = crawl(spark, cdf, seed, CrawlConfig(
        max_depth=3, same_path_prefix=False, checkpoint_dir=ck, max_rounds=interrupt))
    assert partial.rounds == interrupt
    resumed = crawl(spark, cdf, seed, CrawlConfig(
        max_depth=3, same_path_prefix=False, checkpoint_dir=ck), resume=True)
    got = [(r["url"], r["depth"], r["order"]) for r in resumed.results.orderBy("order").collect()]
    assert got == expect
    from urlmap_spark.sources.catalog import RoundCatalog
    cat = RoundCatalog(ck)
    assert cat.committed_rounds() == list(range(resumed.rounds))
    for rnd in cat.committed_rounds():
        assert not os.path.exists(cat.round_table_dir(rnd, "lineage"))
        check_frontier_lineage(spark, cat, rnd)


def check_frontier_lineage(spark, cat, rnd):
    """Round `rnd`'s lineage, derived on read from its committed frontier:
    every bucket is pmod(xxhash64(host), 16) and the `_hb` partition the
    rows were committed in, and n sums to the frontier's row count."""
    nf = cat.read(spark, rnd, "next_frontier")
    lin = frontier_lineage(nf)
    assert set(lin.columns) == {"bucket", "host", "n", "min_order", "max_order"}
    assert lin.filter(
        F.col("bucket") != F.pmod(F.xxhash64("host"), F.lit(16)).cast("int")).count() == 0
    assert (lin.agg(F.sum("n")).collect()[0][0] or 0) == nf.count()
    per_bucket = lin.groupBy("bucket").agg(F.sum("n").alias("n")).collect()
    assert {r["bucket"]: r["n"] for r in per_bucket} == \
        {r["_hb"]: r["count"] for r in nf.groupBy("_hb").count().collect()}


def _order_rows(run):
    return [(r["url"], r["depth"], r["order"]) for r in run.results.orderBy("order").collect()]


def test_seen_union_fold_is_a_durable_compaction(spark, tmp_path, monkeypatch):
    """A checkpointed broadcast-seen crawl folds its committed seen dirs
    into one compaction snapshot once a probing round finds more than
    SEEN_UNION_MAX (here 2), with no compaction cadence set, and reads
    every committed seen dir (deltas, snapshots) once however many
    rounds probe it. The crawl, the in-memory crawl (which folds in
    memory) and a resume after a fold agree on every result row and
    `order`."""
    import os
    from collections import Counter

    from urlmap_spark.plans import crawl as crawl_mod
    from urlmap_spark.sources.catalog import RoundCatalog

    reads = Counter()
    real = crawl_mod.read_parquet

    def counting(spark_, path):
        reads[path] += 1
        return real(spark_, path)

    monkeypatch.setattr(crawl_mod, "SEEN_UNION_MAX", 2)
    cdf = spark.createDataFrame(
        C.corpus_pandas(seed=42, n_hosts=4, total_pages=60, with_bytes=False))
    seed = "https://h0.example-42.test/"
    kw = dict(same_path_prefix=False, compact_seen_every=0)
    expect = _order_rows(crawl(spark, cdf, seed, CrawlConfig(**kw)))

    ck = str(tmp_path / "ck")
    with monkeypatch.context() as mp:
        mp.setattr(crawl_mod, "read_parquet", counting)
        run = crawl(spark, cdf, seed, CrawlConfig(**kw, checkpoint_dir=ck))
    assert run.rounds >= 4
    assert os.listdir(os.path.join(ck, "compact", "seen_delta"))
    assert _order_rows(run) == expect
    assert any("/compact/seen_delta/" in p for p in reads)
    assert sum("/seen_delta" in p for p in reads) >= 4
    assert set(reads.values()) == {1}, reads

    ck = str(tmp_path / "ck-resume")
    crawl(spark, cdf, seed, CrawlConfig(**kw, checkpoint_dir=ck, max_rounds=4))
    assert RoundCatalog(ck).table_paths("seen_delta")[0].startswith(
        os.path.join(ck, "compact", "seen_delta"))
    resumed = crawl(spark, cdf, seed, CrawlConfig(**kw, checkpoint_dir=ck), resume=True)
    assert _order_rows(resumed) == expect


def test_fresh_crawl_refuses_a_used_checkpoint_dir(spark, tmp_path):
    """Without resume, a checkpoint dir that holds a committed round or
    a committed seeds table is refused with a ValueError, before any
    Spark job runs and before the crawl touches the optimizer's
    excluded rules: a fresh crawl would otherwise read the old rounds'
    results and seen set as its own. resume=True continues it."""
    cdf = spark.createDataFrame(C.basic_site_pandas())
    sc = spark.sparkContext._jsc.sc()
    rounds_ck, seeds_ck = str(tmp_path / "rounds"), str(tmp_path / "seeds")
    crawl(spark, cdf, "https://basic.test/", CrawlConfig(checkpoint_dir=rounds_ck))
    seeds_df = spark.createDataFrame([("https://basic.test/",)], "url string")
    crawl(spark, cdf, seeds_df, CrawlConfig(same_domain=False, checkpoint_dir=seeds_ck,
                                            max_rounds=0))
    rules = spark.conf.get("spark.sql.optimizer.excludedRules", None)
    for seed, kw in (("https://basic.test/", dict(checkpoint_dir=rounds_ck, max_rounds=1)),
                     (seeds_df, dict(checkpoint_dir=seeds_ck, same_domain=False))):
        j0 = sc.dagScheduler().nextJobId()
        with pytest.raises(ValueError, match="holds a committed crawl"):
            crawl(spark, cdf, seed, CrawlConfig(**kw))
        assert sc.dagScheduler().nextJobId() == j0
        assert spark.conf.get("spark.sql.optimizer.excludedRules", None) == rules
        assert crawl(spark, cdf, seed, CrawlConfig(**kw), resume=True).results.count() > 0


def test_seen_set_equality(spark):
    pdf = C.corpus_pandas(seed=42, n_hosts=4, total_pages=60, with_bytes=False)
    cdf = spark.createDataFrame(pdf)
    run = crawl(spark, cdf, "https://h0.example-42.test/",
                CrawlConfig(max_depth=3, same_path_prefix=False))
    _, estats = None, None
    eres, estats = oracle_bfs(pdf, "https://h0.example-42.test/",
                              max_depth=3, same_path_prefix=False)
    # seen = everything ever enqueued (incl. beyond-depth discoveries)
    spark_seen = {r["url"] for r in run.seen.distinct().collect()}
    assert len(spark_seen) == estats["total"]


def test_empty_results_are_typed(spark, tmp_path):
    """A crawl that commits no round (max_rounds=0) returns results
    typed like a real crawl's — int, long and bool columns, not all
    strings — in memory and from a checkpoint."""
    cdf = spark.createDataFrame(C.basic_site_pandas())
    for ck in (None, str(tmp_path / "ck")):
        kw = dict(checkpoint_dir=ck + "-full" if ck else None)
        full = crawl(spark, cdf, "https://basic.test/", CrawlConfig(**kw))
        empty = crawl(spark, cdf, "https://basic.test/",
                      CrawlConfig(max_rounds=0, checkpoint_dir=ck))
        assert empty.rounds == 0 and empty.results.count() == 0
        assert [(f.name, f.dataType) for f in empty.results.schema] == \
            [(f.name, f.dataType) for f in full.results.schema]


def test_scoped_seed_limit_checked_before_any_job(spark):
    """A scoped crawl takes at most 64 seeds: 65 are refused with a
    ValueError before any Spark job runs and before the crawl touches
    the optimizer's excluded rules."""
    cdf = spark.createDataFrame(C.basic_site_pandas())
    seeds = [f"https://s{i}.test/" for i in range(65)]
    sc = spark.sparkContext._jsc.sc()
    rules = spark.conf.get("spark.sql.optimizer.excludedRules", None)
    j0 = sc.dagScheduler().nextJobId()
    with pytest.raises(ValueError, match="at most 64 seeds"):
        crawl(spark, cdf, seeds, CrawlConfig(same_domain=True))
    assert sc.dagScheduler().nextJobId() == j0
    assert spark.conf.get("spark.sql.optimizer.excludedRules", None) == rules


def test_bytes_column_pruned(spark):
    """The crawl plan must never read the heavy `bytes` column — check the
    optimized plan's ReadSchema on a parquet-backed corpus."""
    pdf = C.corpus_pandas(seed=9, n_hosts=2, total_pages=12, with_bytes=True)
    import tempfile
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(pdf).write.mode("overwrite").parquet(d + "/corpus")
        cdf = spark.read.parquet(d + "/corpus")
        web = cdf.select("url", "caption", "status")
        frontier = spark.createDataFrame([("https://h0.example-9.test/", 0, 0)],
                                         "url string, depth int, `order` long")
        plan = frontier.join(web, "url", "left")._jdf.queryExecution().executedPlan().toString()
        assert "bytes" not in plan


def test_empty_fetch_round_metrics_have_zero_counts(spark):
    """A round whose entire frontier is robots-blocked produces an empty
    fetched frame; its metrics entry must still carry zeroed
    processed/crawled/failed/max_depth/urls_per_sec keys (regression:
    the deferred metrics fold skipped such rounds and consumers
    KeyError'd on m["processed"])."""
    from urlmap_spark.operators.robots import parse_robots

    host = "m.test"
    pdf = pd.DataFrame([
        {"image_id": "m0", "bytes": None, "w": 32, "h": 32, "fmt": "ppm",
         "caption": 'href="/sub/a" href="/sub/b"', "phash": 0,
         "url": f"https://{host}/", "status": 200},
        {"image_id": "m1", "bytes": None, "w": 32, "h": 32, "fmt": "ppm",
         "caption": "", "phash": 0, "url": f"https://{host}/sub/a", "status": 200},
    ], columns=C.CORPUS_COLUMNS)
    lines = spark.createDataFrame(
        [(host, 0, "User-agent: *"), (host, 1, "Disallow: /sub")],
        "host string, lineno int, line string")
    rules, _, _ = parse_robots(lines)
    run = crawl(spark, spark.createDataFrame(pdf), f"https://{host}/",
                CrawlConfig(same_path_prefix=False, robots_rules=rules))
    blocked = [m for m in run.metrics if m["blocked_robots"] > 0]
    assert blocked, run.metrics
    for m in blocked:
        assert m["processed"] == 0 and m["crawled"] == 0 and m["failed"] == 0
        assert m["max_depth"] == 0 and m["urls_per_sec"] == 0.0
    assert all("processed" in m for m in run.metrics)


def test_checkpointed_frontier_is_host_bucketed(spark, tmp_path):
    """north_rule: the persisted frontier is partitioned by host-hash —
    checkpointed rounds lay the next_frontier out in _hb= bucket dirs
    (prunable per-host maintenance reads), and resume still works."""
    import glob

    pdf = C.corpus_pandas(seed=11, n_hosts=4, total_pages=50, with_bytes=False)
    cdf = spark.createDataFrame(pdf)
    ck = str(tmp_path / "bck")
    partial = crawl(spark, cdf, "https://h0.example-11.test/", CrawlConfig(
        max_depth=3, same_path_prefix=False, same_domain=False,
        checkpoint_dir=ck, max_rounds=2))
    assert partial.rounds == 2
    bucket_dirs = glob.glob(ck + "/rounds/r=0000/next_frontier/_hb=*")
    assert len(bucket_dirs) > 1
    resumed = crawl(spark, cdf, "https://h0.example-11.test/", CrawlConfig(
        max_depth=3, same_path_prefix=False, same_domain=False,
        checkpoint_dir=ck), resume=True)
    full = crawl(spark, cdf, "https://h0.example-11.test/", CrawlConfig(
        max_depth=3, same_path_prefix=False, same_domain=False))
    a = [(r["url"], r["depth"], r["order"]) for r in resumed.results.orderBy("order").collect()]
    b = [(r["url"], r["depth"], r["order"]) for r in full.results.orderBy("order").collect()]
    assert a == b


def test_resume_with_pending_retries(spark, tmp_path):
    """Kill a retrying crawl mid-rounds: the checkpointed frontier
    carries the attempt column, and resume completes the recovery
    exactly like an uninterrupted run."""
    rows = [
        {"image_id": "r0", "bytes": None, "w": 32, "h": 32, "fmt": "ppm",
         "caption": 'href="/flaky" href="/solid"', "phash": 0,
         "url": "https://rt.test/", "status": 200, "transient_5xx": None},
        {"image_id": "r1", "bytes": None, "w": 32, "h": 32, "fmt": "ppm",
         "caption": 'href="/deep"', "phash": 0,
         "url": "https://rt.test/flaky", "status": 500, "transient_5xx": 2},
        {"image_id": "r2", "bytes": None, "w": 32, "h": 32, "fmt": "ppm",
         "caption": "", "phash": 0,
         "url": "https://rt.test/solid", "status": 200, "transient_5xx": None},
        {"image_id": "r3", "bytes": None, "w": 32, "h": 32, "fmt": "ppm",
         "caption": "", "phash": 0,
         "url": "https://rt.test/deep", "status": 200, "transient_5xx": None},
    ]
    cdf = spark.createDataFrame(pd.DataFrame(rows))
    cfg = dict(same_path_prefix=False, max_attempts=3)
    full = crawl(spark, cdf, "https://rt.test/", CrawlConfig(**cfg))
    expect = sorted((r["url"], r["depth"], r["ok"]) for r in full.results.collect())

    ck = str(tmp_path / "rck")
    partial = crawl(spark, cdf, "https://rt.test/", CrawlConfig(
        **cfg, checkpoint_dir=ck, max_rounds=2))  # killed with a retry pending
    resumed = crawl(spark, cdf, "https://rt.test/", CrawlConfig(
        **cfg, checkpoint_dir=ck), resume=True)
    got = sorted((r["url"], r["depth"], r["ok"]) for r in resumed.results.collect())
    assert got == expect
    assert ("https://rt.test/flaky", 1, True) in got  # recovered after resume


def test_catalog_compaction_and_vacuum_preserve_resume(spark, tmp_path):
    """Long crawls accrete one small seen_delta dir per round (the
    small-files problem); compact() folds them into one snapshot and
    vacuum removes the covered per-round dirs. A resume AFTER
    compaction+vacuum must still produce the identical final output,
    and read_union must serve snapshot + post-snapshot deltas."""
    import os

    from urlmap_spark.sources.catalog import RoundCatalog

    pdf = C.corpus_pandas(seed=42, n_hosts=4, total_pages=60, with_bytes=False)
    cdf = spark.createDataFrame(pdf)
    seed = "https://h0.example-42.test/"
    full = crawl(spark, cdf, seed, CrawlConfig(max_depth=3, same_path_prefix=False))
    expect = [(r["url"], r["depth"], r["order"])
              for r in full.results.orderBy("order").collect()]

    ck = str(tmp_path / "ckpt")
    crawl(spark, cdf, seed, CrawlConfig(
        max_depth=3, same_path_prefix=False, checkpoint_dir=ck, max_rounds=2))
    cat = RoundCatalog(ck)
    before = cat.read_union(spark, "seen_delta").count()
    v = cat.compact(spark, "seen_delta")
    assert v == 1
    # covered per-round delta dirs are gone; snapshot serves their rows
    assert not any(
        os.path.exists(os.path.join(cat._rdir(r), "seen_delta")) for r in (0, 1))
    assert cat.read_union(spark, "seen_delta").count() == before

    resumed = crawl(spark, cdf, seed, CrawlConfig(
        max_depth=3, same_path_prefix=False, checkpoint_dir=ck), resume=True)
    got = [(r["url"], r["depth"], r["order"])
           for r in resumed.results.orderBy("order").collect()]
    assert got == expect
    # post-snapshot deltas append onto the snapshot in one scan
    # (the persisted deltas exclude the seed row — resume re-adds it)
    n_seen = full.seen.dropDuplicates(["url"]).count() - 1
    assert cat.read_union(spark, "seen_delta").count() == n_seen
    # a second compaction covering everything also works
    v2 = cat.compact(spark, "seen_delta")
    assert v2 == resumed.rounds - 1
    assert cat.read_union(spark, "seen_delta").count() == n_seen


def test_df_seeds_checkpoint_resume(spark, tmp_path):
    """DataFrame seeds + checkpoint/resume (VERDICT r4 #2): the
    normalized round-0 frontier persists as the catalog's named `seeds`
    table, so an interrupted DataFrame-seeded open crawl resumes to the
    exact output of the uninterrupted one — and the resume ignores
    whatever DataFrame the caller passes in favor of the table."""
    pdf = C.corpus_pandas(seed=7, n_hosts=3, total_pages=40, with_bytes=False)
    cdf = spark.createDataFrame(pdf)
    seeds_df = spark.createDataFrame(
        [(f"https://h{i}.example-7.test/",) for i in range(3)], "url string")
    base = dict(max_depth=3, same_domain=False, same_path_prefix=False)

    full = crawl(spark, cdf, seeds_df, CrawlConfig(**base))
    expect = [(r["url"], r["depth"], r["order"])
              for r in full.results.orderBy("order").collect()]
    expect_seen = sorted(r["url"] for r in full.seen.distinct().collect())

    ck = str(tmp_path / "ck_df_seeds")
    partial = crawl(spark, cdf, seeds_df,
                    CrawlConfig(**base, checkpoint_dir=ck, max_rounds=1))
    assert partial.rounds == 1
    from urlmap_spark.sources.catalog import RoundCatalog
    cat = RoundCatalog(ck)
    assert cat.has_table("seeds")
    # resume passes a DIFFERENT df: the persisted table must win
    decoy = spark.createDataFrame([("https://decoy.test/",)], "url string")
    resumed = crawl(spark, cdf, decoy, CrawlConfig(**base, checkpoint_dir=ck),
                    resume=True)
    got = [(r["url"], r["depth"], r["order"])
           for r in resumed.results.orderBy("order").collect()]
    assert got == expect
    got_seen = sorted(r["url"] for r in resumed.seen.distinct().collect())
    assert got_seen == expect_seen  # seeds re-join seen from the table
    assert "https://decoy.test/" not in got_seen


def test_df_seeds_preround_interrupt_resume(spark, tmp_path):
    """Interrupt BEFORE any round commits (max_rounds=0): only the seed
    table exists; a resume restarts round 0 from it and completes to
    full parity."""
    pdf = C.corpus_pandas(seed=7, n_hosts=3, total_pages=40, with_bytes=False)
    cdf = spark.createDataFrame(pdf)
    seeds_df = spark.createDataFrame(
        [(f"https://h{i}.example-7.test/",) for i in range(3)], "url string")
    base = dict(max_depth=3, same_domain=False, same_path_prefix=False)
    expect = [(r["url"], r["depth"], r["order"]) for r in
              crawl(spark, cdf, seeds_df, CrawlConfig(**base))
              .results.orderBy("order").collect()]

    ck = str(tmp_path / "ck_df_pre")
    stub = crawl(spark, cdf, seeds_df,
                 CrawlConfig(**base, checkpoint_dir=ck, max_rounds=0))
    assert stub.rounds == 0 and stub.results.count() == 0
    from urlmap_spark.sources.catalog import RoundCatalog
    assert RoundCatalog(ck).has_table("seeds")
    resumed = crawl(spark, cdf, seeds_df,
                    CrawlConfig(**base, checkpoint_dir=ck), resume=True)
    got = [(r["url"], r["depth"], r["order"])
           for r in resumed.results.orderBy("order").collect()]
    assert got == expect


def test_dirty_corpus_dedup_opt_in(spark):
    """corpus_unique=False first-wins-dedups duplicate corpus url rows
    ONCE up front (min struct over the non-url columns), so results
    carry one row per (url, order); the default contract (unique urls)
    is unchanged. Found by a probe: a dirty corpus otherwise emits the
    same url twice with one order value (both 200/ok and 500/failed)."""
    from urlmap_spark.plans.crawl import CrawlConfig, crawl

    rows = [
        ("https://n.test/p0", 'href="/p1" href="/p2"', 200),
        ("https://n.test/p1", None, 200),                 # NULL caption: fine
        ("https://n.test/p2", 'href="/p3"', 200),         # dup url ...
        ("https://n.test/p2", 'href="/p4"', 500),         # ... conflicting row
        ("https://n.test/p3", "", 200),
    ]
    corpus = spark.createDataFrame(rows, "url string, caption string, status int")

    dirty = crawl(spark, corpus, "https://n.test/p0",
                  CrawlConfig(max_depth=5, same_path_prefix=False))
    d = [(r["url"], r["order"]) for r in dirty.results.collect()]
    assert len(d) != len(set(d))  # the documented hazard, reproduced

    clean = crawl(spark, corpus, "https://n.test/p0",
                  CrawlConfig(max_depth=5, same_path_prefix=False,
                              corpus_unique=False))
    got = sorted((r["url"], r["depth"], r["order"], r["status"], r["ok"])
                 for r in clean.results.collect())
    # min(struct(caption, status)) picks the 'href="/p3"'/200 row for p2
    assert got == [
        ("https://n.test/p0", 0, 0, 200, True),
        ("https://n.test/p1", 1, 1, 200, True),
        ("https://n.test/p2", 1, 2, 200, True),
        ("https://n.test/p3", 2, 3, 200, True),
    ]


def test_slow_branch_kept_when_cat9_href_present(spark):
    """The crawl skips the exact-UDF canonicalization branch only when
    the round's observed category-9 count is zero. A href with an inner
    dot segment ('a/./b' — no native category) must still resolve via
    the UDF branch and be crawled."""
    from urlmap_spark.plans.crawl import CrawlConfig, crawl

    rows = [
        ("https://s.test/a/b", 'href="a/./c" href="/plain"', 200),
        ("https://s.test/a/a/c", "", 200),   # a/./b resolves here
        ("https://s.test/plain", "", 200),
    ]
    corpus = spark.createDataFrame(rows, "url string, caption string, status int")
    run = crawl(spark, corpus, "https://s.test/a/b",
                CrawlConfig(max_depth=2, same_domain=False))
    got = sorted((r["url"], r["depth"], r["ok"]) for r in run.results.collect())
    assert ("https://s.test/a/a/c", 1, True) in got
    assert ("https://s.test/plain", 1, True) in got


def test_packed_first_wins_equals_struct_fallback(spark, monkeypatch):
    """The packed-long first-wins (default when the round's tie-key
    maxima fit the 38/14/11-bit layout) must yield the identical crawl
    as the generic struct fallback."""
    import urlmap_spark.plans.crawl as PC

    pdf = C.corpus_pandas(seed=11, n_hosts=4, total_pages=60, with_bytes=False)
    cdf = spark.createDataFrame(pdf)
    seed_url = "https://h0.example-11.test/"
    packed = crawl(spark, cdf, seed_url,
                   CrawlConfig(max_depth=4, same_path_prefix=False))
    monkeypatch.setattr(PC, "first_wins_packed_bounds",
                        lambda *a, **kw: False)
    fallback = crawl(spark, cdf, seed_url,
                     CrawlConfig(max_depth=4, same_path_prefix=False))
    a = [(r["url"], r["depth"], r["order"]) for r in packed.results.orderBy("order").collect()]
    b = [(r["url"], r["depth"], r["order"]) for r in fallback.results.orderBy("order").collect()]
    assert a == b and len(a) > 10


def test_resume_from_checkpoint_without_schema_records(spark, tmp_path):
    """Every committed table dir records its schema, so reading it back
    runs no Spark job; a checkpoint written without those records (an
    older layout) resumes by schema inference to the same crawl."""
    import glob
    import os

    from urlmap_spark.sources.catalog import SCHEMA_FILE, RoundCatalog

    cdf = spark.createDataFrame(
        C.corpus_pandas(seed=42, n_hosts=4, total_pages=60, with_bytes=False))
    seed = "https://h0.example-42.test/"

    def cfg(ck, **kw):
        return CrawlConfig(max_depth=3, same_path_prefix=False, checkpoint_dir=ck,
                           default_quota=2, disk_seen=True, disk_seen_buckets=4,
                           broadcast_seen_max_urls=0, compact_seen_every=2, **kw)

    full = crawl(spark, cdf, seed, cfg(str(tmp_path / "full")))
    expect = [(r["url"], r["depth"], r["order"]) for r in full.results.orderBy("order").collect()]

    ck = str(tmp_path / "ck")
    crawl(spark, cdf, seed, cfg(ck, max_rounds=3))
    cat = RoundCatalog(ck)
    sc = spark.sparkContext._jsc.sc()
    j0 = sc.dagScheduler().nextJobId()
    nf = cat.read(spark, cat.last_round(), "next_frontier")
    seen = cat.read_union(spark, "seen_delta")
    assert sc.dagScheduler().nextJobId() == j0
    assert {"url", "depth", "order", "_hb"} <= set(nf.columns)
    assert set(seen.columns) == {"url", "_ub"}

    records = glob.glob(os.path.join(ck, "**", SCHEMA_FILE), recursive=True)
    assert records
    for p in records:
        os.remove(p)
    resumed = crawl(spark, cdf, seed, cfg(ck), resume=True)
    got = [(r["url"], r["depth"], r["order"]) for r in resumed.results.orderBy("order").collect()]
    assert got == expect
    strip = [{k: v for k, v in m.items() if k not in ("wall_s", "urls_per_sec")}
             for m in resumed.metrics]
    assert strip == [{k: v for k, v in m.items() if k not in ("wall_s", "urls_per_sec")}
                     for m in full.metrics]


def test_commit_round_failed_write_leaves_round_uncommitted(spark, tmp_path):
    """commit_round writes its tables concurrently; a table whose write
    fails surfaces its error and the round gets no commit marker, so a
    resume never trusts it. A later commit of the same round succeeds."""
    from urlmap_spark.sources.catalog import RoundCatalog

    cat = RoundCatalog(str(tmp_path))
    good = spark.range(5)
    bad = spark.range(5).select(
        F.expr("if(id >= 0, cast(raise_error('boom') as bigint), id)").alias("id"))
    with pytest.raises(Exception, match="boom"):
        cat.commit_round(0, {"a": good, "b": bad, "c": good}, {"round": 0})
    assert cat.committed_rounds() == []
    cat.commit_round(0, {"a": good, "b": good}, {"round": 0})
    assert cat.committed_rounds() == [0]
    assert cat.read(spark, 0, "b").count() == 5


def test_commit_round_carries_session_tags(spark, tmp_path, monkeypatch):
    """commit_round's writer threads run under the caller's session job
    tags (spark.addTag), and PySpark does not warn "Tags will not be
    inherited"."""
    import warnings

    from urlmap_spark.sources import catalog

    tags = []
    write = catalog.write_parquet

    def spy(df, path, partition_by=None):
        tags.append(df.sparkSession.getTags())
        write(df, path, partition_by)

    monkeypatch.setattr(catalog, "write_parquet", spy)
    cat = catalog.RoundCatalog(str(tmp_path))
    spark.addTag("commit-probe")
    try:
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            cat.commit_round(0, {"a": spark.range(3), "b": spark.range(2)}, {"round": 0})
    finally:
        spark.removeTag("commit-probe")
    assert not [w for w in caught if "Tags will not be inherited" in str(w.message)]
    assert tags == [{"commit-probe"}] * 2
    assert cat.committed_rounds() == [0]
