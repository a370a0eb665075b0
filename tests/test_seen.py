"""Partitioned bloom URL-seen structure (north_rule): the prefilter
must never change anti-join results — only route definitely-new rows
around the exact join."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from urlmap_spark.operators.seen import (
    BloomConfig,
    build_filters,
    seen_anti_join,
    split_candidates,
)

CFG = BloomConfig(n_buckets=8, m_bits=1 << 14, k=5)


def _urls(spark, names, col="url"):
    return spark.createDataFrame([(n,) for n in names], f"{col} string")


def test_no_false_negatives(spark):
    """Every seen URL must probe as 'maybe seen' — a bloom false
    negative would silently re-crawl (or worse, re-order) URLs."""
    seen_urls = [f"https://h{i % 5}.test/p{i}" for i in range(500)]
    filters = build_filters(_urls(spark, seen_urls), CFG)
    definitely_new, maybe = split_candidates(_urls(spark, seen_urls), filters, CFG)
    assert definitely_new.count() == 0
    assert maybe.count() == 500


def test_prefilter_equivalence_with_plain_anti_join(spark):
    seen_urls = [f"https://h{i % 5}.test/p{i}" for i in range(300)]
    cands = [f"https://h{i % 7}.test/p{i}" for i in range(150, 600)]
    seen = _urls(spark, seen_urls)
    cand = _urls(spark, cands)
    filters = build_filters(seen, CFG)
    plain = {r["url"] for r in cand.join(seen, "url", "left_anti").collect()}
    bloom = {r["url"] for r in seen_anti_join(cand, seen, filters, CFG).collect()}
    assert bloom == plain
    # a filter frame is only read under the config it was built with
    with pytest.raises(ValueError, match="config"):
        seen_anti_join(cand, seen, filters)


def test_incremental_merge(spark):
    """Per-round delta merge (bitwise OR) must behave like one build."""
    a = [f"https://a.test/{i}" for i in range(200)]
    b = [f"https://b.test/{i}" for i in range(200)]
    merged = build_filters(_urls(spark, b), CFG,
                           existing=build_filters(_urls(spark, a), CFG))
    dn, maybe = split_candidates(_urls(spark, a + b), merged, CFG)
    assert dn.count() == 0 and maybe.count() == 400


def test_false_positive_rate_bounded(spark):
    """With m=16Ki bits / 8 buckets and 500 entries, FPR should be tiny;
    assert a loose bound so the filter is actually doing work."""
    seen_urls = [f"https://h{i % 5}.test/p{i}" for i in range(500)]
    fresh = [f"https://new{i}.test/x{i}" for i in range(2000)]
    filters = build_filters(_urls(spark, seen_urls), CFG)
    dn, maybe = split_candidates(_urls(spark, fresh), filters, CFG)
    fpr = maybe.count() / 2000
    assert dn.count() + maybe.count() == 2000
    assert fpr < 0.05, f"false-positive rate too high: {fpr}"


def test_bloom_crawl_equals_plain_crawl(spark, tmp_path):
    """End-to-end: a bloom-prefiltered crawl yields the identical
    (url, depth, order) sequence as the plain exact-anti-join crawl."""
    from urlmap_spark.plans.crawl import CrawlConfig, crawl
    from urlmap_spark.sources import corpus as C

    pdf = C.corpus_pandas(seed=7, n_hosts=3, total_pages=40, with_bytes=False)
    cdf = spark.createDataFrame(pdf)
    seed_url = "https://h0.example-7.test/"
    # plain arm keeps the default broadcast-seen early anti-join; the
    # bloom arm disables it (broadcast_seen_max_urls=0) so the bloom
    # inside the disk seen gate is genuinely exercised — the equality
    # therefore ALSO pins broadcast-path == bloom-gate path
    plain = crawl(spark, cdf, seed_url, CrawlConfig(max_depth=3, same_path_prefix=False))
    bloom = crawl(spark, cdf, seed_url, CrawlConfig(
        max_depth=3, same_path_prefix=False, broadcast_seen_max_urls=0,
        checkpoint_dir=str(tmp_path / "ck"), disk_seen=True, disk_seen_buckets=8,
        bloom_seen=True, seen_filter_bits=8 << 16))
    a = [(r["url"], r["order"]) for r in plain.results.orderBy("order").collect()]
    b = [(r["url"], r["order"]) for r in bloom.results.orderBy("order").collect()]
    assert a == b


def test_broadcast_seen_equals_shuffled_seen_crawl(spark):
    """The broadcast-seen early anti-join (anti BEFORE first-wins dedup)
    must yield the identical (url, depth, order) sequence as the
    post-dedup shuffled anti-join — the anti-join filters whole
    url-groups, so it commutes with the per-url min."""
    from urlmap_spark.plans.crawl import CrawlConfig, crawl
    from urlmap_spark.sources import corpus as C

    pdf = C.corpus_pandas(seed=11, n_hosts=4, total_pages=60, with_bytes=False)
    cdf = spark.createDataFrame(pdf)
    seed_url = "https://h0.example-11.test/"
    bc = crawl(spark, cdf, seed_url,
               CrawlConfig(max_depth=4, same_path_prefix=False))
    sh = crawl(spark, cdf, seed_url,
               CrawlConfig(max_depth=4, same_path_prefix=False,
                           broadcast_seen_max_urls=0))
    a = [(r["url"], r["depth"], r["order"]) for r in bc.results.orderBy("order").collect()]
    b = [(r["url"], r["depth"], r["order"]) for r in sh.results.orderBy("order").collect()]
    assert a == b and len(a) > 10


def test_probe_is_distributed_no_driver_collect(spark):
    """The probe must be a cogroup on the bucket key — filter blobs never
    transit the driver (at 10^10 URLs the aggregate filter is ~12 GB).
    256 buckets: construction stays lazy and the plan shows the cogroup."""
    cfg = BloomConfig(n_buckets=256, m_bits=1 << 12, k=5)
    seen_urls = [f"https://h{i % 11}.test/p{i}" for i in range(400)]
    cands = [f"https://h{i % 13}.test/p{i}" for i in range(200, 700)]
    seen = _urls(spark, seen_urls)
    filters = build_filters(seen, cfg)
    dn, maybe = split_candidates(_urls(spark, cands), filters, cfg)
    plan = dn._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" in plan
    # equivalence with the exact anti-join at this bucket count
    plain = {r["url"] for r in _urls(spark, cands).join(seen, "url", "left_anti").collect()}
    bloom = {r["url"] for r in seen_anti_join(_urls(spark, cands), seen, filters, cfg).collect()}
    assert bloom == plain


def test_broadcast_limit_crossing_mid_crawl(spark, tmp_path):
    """A crawl whose |seen| crosses broadcast_seen_max_urls MID-CRAWL
    moves from the broadcast probe to the bloom-gated disk probe. The
    broadcast rounds commit no blobs, so the first gated round builds
    every bucket's blob from the seen files it reads (ruling nothing
    out); later rounds read the committed blobs, and a resume after
    the crossing still produces the plain crawl's sequence."""
    from dataclasses import replace

    from urlmap_spark.operators.diskseen import disk_seen_anti_join, filter_config
    from urlmap_spark.plans.crawl import CrawlConfig, crawl
    from urlmap_spark.sources import corpus as C
    from urlmap_spark.sources.catalog import RoundCatalog

    pdf = C.corpus_pandas(seed=11, n_hosts=4, total_pages=60, with_bytes=False)
    cdf = spark.createDataFrame(pdf)
    seed_url = "https://h0.example-11.test/"
    base = crawl(spark, cdf, seed_url,
                 CrawlConfig(max_depth=4, same_path_prefix=False))
    n_total = base.results.count()
    assert n_total > 10
    # limit of 5: early rounds broadcast (|seen| <= 5), round k is the
    # first past it and takes the gated disk probe
    k = 1 + next(r for r, m in enumerate(base.metrics) if m["order_counter"] > 5)
    ck = str(tmp_path / "ck")
    cfg = CrawlConfig(max_depth=4, same_path_prefix=False, broadcast_seen_max_urls=5,
                      checkpoint_dir=ck, disk_seen=True, disk_seen_buckets=8,
                      bloom_seen=True, seen_filter_bits=8 << 16)
    first = crawl(spark, cdf, seed_url, replace(cfg, max_rounds=k + 1))
    assert [("seen_filter_cfg" in m) for m in first.metrics] == [False] * k + [True]
    gated = first.metrics[k]
    assert gated["filter_new"] == 0 and gated["filter_maybe"] >= gated["new_discovered"] > 0
    # the blobs that round built cover every URL seen so far
    cat = RoundCatalog(ck)
    seen = cat.read_union(spark, "seen_delta").select("url")
    n_seen = seen.count()
    gate = disk_seen_anti_join(seen, [], 8, filter_config("bloom", 8, 8 << 16),
                               cat.round_table_dir(k, "seen_filters"))
    gate.filters.collect()
    assert gate.observation.get == {"filter_maybe": n_seen, "filter_new": 0}

    trans = crawl(spark, cdf, seed_url, cfg, resume=True)
    assert trans.rounds > k + 2
    # the resumed gates read the committed blobs: they prove URLs new
    assert sum(m.get("filter_new", 0) for m in trans.metrics[k + 1:]) > 0
    a = [(r["url"], r["order"]) for r in base.results.orderBy("order").collect()]
    b = [(r["url"], r["order"]) for r in trans.results.orderBy("order").collect()]
    assert a == b
