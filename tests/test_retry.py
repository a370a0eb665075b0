"""Transient-failure (5xx) retry semantics (reference: client.go:63-83
retry conditions — network/5xx retries, 4xx never; client_test.go
TestRetry* cases). Batch semantics: a 5xx row with attempts left
re-enqueues into the next round; only the LAST attempt emits a result."""

import pandas as pd

from urlmap_spark.plans.crawl import CrawlConfig, crawl
from urlmap_spark.sources import corpus as C


def _corpus(spark, rows):
    """rows: (url, caption, status, transient_5xx|None)."""
    return spark.createDataFrame(
        rows, "url string, caption string, status int, transient_5xx int")


def test_5xx_recovers_within_attempts(spark):
    """A page that 500s twice then serves 200 (client_test.go retry-
    success case): with max_attempts=3 it ends up crawled, its outlinks
    extracted, exactly ONE result row, on its 3rd-attempt round."""
    rows = [
        ("https://r.test/", 'href="/flaky"', 200, None),
        ("https://r.test/flaky", 'href="/deep"', 500, 2),
        ("https://r.test/deep", "", 200, None),
    ]
    run = crawl(spark, _corpus(spark, rows), "https://r.test/",
                CrawlConfig(same_path_prefix=False, max_attempts=3))
    res = {r["url"]: r for r in run.results.collect()}
    assert run.results.count() == 3  # one row per URL, no per-attempt rows
    assert res["https://r.test/flaky"]["ok"] is True
    assert res["https://r.test/flaky"]["status"] == 200
    # outlinks of the recovered page were extracted (deep got crawled)
    assert res["https://r.test/deep"]["ok"] is True
    # the recovery consumed two extra rounds
    assert res["https://r.test/flaky"]["round"] == 3
    assert sum(m.get("retried", 0) for m in run.metrics) == 2
    # metrics count the URL once, in its final round
    assert sum(m["processed"] for m in run.metrics) == 3


def test_5xx_exhausts_attempts(spark):
    """Permanently-5xx page: after max_attempts the row is FINAL failed
    — one result row, ok=False (client_test.go retry-exhausted case)."""
    rows = [
        ("https://r.test/", 'href="/down"', 200, None),
        ("https://r.test/down", "", 503, None),
    ]
    run = crawl(spark, _corpus(spark, rows), "https://r.test/",
                CrawlConfig(same_path_prefix=False, max_attempts=3))
    res = {r["url"]: r for r in run.results.collect()}
    assert run.results.count() == 2
    assert res["https://r.test/down"]["ok"] is False
    assert res["https://r.test/down"]["status"] == 503
    assert sum(m.get("retried", 0) for m in run.metrics) == 2  # 2 re-enqueues


def test_4xx_never_retries(spark):
    """4xx is a permanent client error (client.go:76-82): no re-enqueue
    even when attempts remain, even if the row would 'recover'."""
    rows = [
        ("https://r.test/", 'href="/gone"', 200, None),
        ("https://r.test/gone", "", 404, 1),   # transient budget is IGNORED for 4xx
    ]
    run = crawl(spark, _corpus(spark, rows), "https://r.test/",
                CrawlConfig(same_path_prefix=False, max_attempts=3))
    res = {r["url"]: r for r in run.results.collect()}
    assert res["https://r.test/gone"]["ok"] is False
    assert res["https://r.test/gone"]["status"] == 404
    assert res["https://r.test/gone"]["round"] == 1  # first-attempt round
    assert sum(m.get("retried", 0) for m in run.metrics) == 0


def test_retry_preserves_crawl_parity_on_static_corpus(spark):
    """On a corpus whose 5xx rows never recover, retry changes WHEN a
    failure is recorded but not WHAT: identical (url, depth, order, ok)
    vs the no-retry crawl (crawl-bfs parity preserved)."""
    pdf = C.corpus_pandas(seed=42, n_hosts=4, total_pages=60, with_bytes=False)
    cdf = spark.createDataFrame(pdf)
    seed = "https://h0.example-42.test/"
    base = crawl(spark, cdf, seed, CrawlConfig(max_depth=3, same_path_prefix=False))
    ret = crawl(spark, cdf, seed, CrawlConfig(max_depth=3, same_path_prefix=False,
                                              max_attempts=3))
    a = [(r["url"], r["depth"], r["order"], r["ok"])
         for r in base.results.orderBy("order").collect()]
    b = [(r["url"], r["depth"], r["order"], r["ok"])
         for r in ret.results.orderBy("order").collect()]
    assert a == b
    assert sum(m["processed"] for m in ret.metrics) == len(a)


def test_retry_with_politeness_and_depth_limit(spark):
    """Retry composes with quotas and depth gating: the depth gate must
    not drop pending retries in later rounds (mixed-depth rounds)."""
    rows = [
        ("https://r.test/", " ".join(f'href="/p{i}"' for i in range(4)), 200, None),
        ("https://r.test/p0", "", 500, 1),
        ("https://r.test/p1", "", 200, None),
        ("https://r.test/p2", "", 200, None),
        ("https://r.test/p3", "", 200, None),
    ]
    run = crawl(spark, _corpus(spark, rows), "https://r.test/",
                CrawlConfig(same_path_prefix=False, max_attempts=2,
                            max_depth=1, default_quota=2))
    res = {r["url"]: r for r in run.results.collect()}
    assert len(res) == 5
    assert res["https://r.test/p0"]["ok"] is True  # recovered on attempt 2


def test_retry_composes_with_bloom_seen(spark, tmp_path):
    """Retry re-enqueues bypass the seen anti-join by construction (a
    retry IS a seen URL being re-fetched) — with the bloom prefilter on,
    the recovered page and its outlinks must still come out identical."""
    rows = [
        ("https://r.test/", 'href="/flaky"', 200, None),
        ("https://r.test/flaky", 'href="/deep"', 500, 2),
        ("https://r.test/deep", "", 200, None),
    ]
    cdf = _corpus(spark, rows)
    plain = crawl(spark, cdf, "https://r.test/",
                  CrawlConfig(same_path_prefix=False, max_attempts=3))
    bloom = crawl(spark, cdf, "https://r.test/",
                  CrawlConfig(same_path_prefix=False, max_attempts=3,
                              broadcast_seen_max_urls=0,
                              checkpoint_dir=str(tmp_path / "ck"), disk_seen=True,
                              disk_seen_buckets=8, bloom_seen=True,
                              seen_filter_bits=8 << 16))
    a = sorted((r["url"], r["depth"], r["order"], r["ok"], r["round"])
               for r in plain.results.collect())
    b = sorted((r["url"], r["depth"], r["order"], r["ok"], r["round"])
               for r in bloom.results.collect())
    assert a == b
