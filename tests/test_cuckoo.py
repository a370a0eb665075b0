"""Partitioned cuckoo-filter URL-seen structure — the second structure
the north_rule names. Same invariants as the bloom (no false
negatives, prefilter never changes anti-join results) plus the
cuckoo-specific ones: overflow never drops (stash), merge preserves
membership, and deletion of inserted URLs works."""

import numpy as np

from urlmap_spark.operators.cuckoo import (
    CuckooConfig,
    build_filters,
    remove_urls,
    seen_anti_join,
    split_candidates,
)

CFG = CuckooConfig(n_buckets=8, m_bits=1 << 14)


def _urls(spark, names, col="url"):
    return spark.createDataFrame([(n,) for n in names], f"{col} string")


def test_no_false_negatives(spark):
    seen_urls = [f"https://h{i % 5}.test/p{i}" for i in range(500)]
    filters = build_filters(_urls(spark, seen_urls), CFG)
    definitely_new, maybe = split_candidates(_urls(spark, seen_urls), filters, CFG)
    assert definitely_new.count() == 0
    assert maybe.count() == 500


def test_prefilter_equivalence_with_plain_anti_join(spark):
    seen_urls = [f"https://h{i % 3}.test/s{i}" for i in range(300)]
    cand_urls = seen_urls[::2] + [f"https://h{i % 3}.test/n{i}" for i in range(200)]
    seen = _urls(spark, seen_urls)
    cand = _urls(spark, cand_urls)
    filters = build_filters(seen, CFG)
    got = sorted(r["url"] for r in
                 seen_anti_join(cand, seen, filters, CFG).collect())
    want = sorted(r["url"] for r in
                  cand.join(seen, "url", "left_anti").collect())
    assert got == want


def test_incremental_merge_preserves_membership(spark):
    a = [f"https://a.test/{i}" for i in range(200)]
    b = [f"https://b.test/{i}" for i in range(200)]
    f1 = build_filters(_urls(spark, a), CFG)
    merged = build_filters(_urls(spark, b), CFG, existing=f1)
    dnew, maybe = split_candidates(_urls(spark, a + b), merged, CFG)
    assert dnew.count() == 0
    assert maybe.count() == 400


def test_false_positive_rate_bounded(spark):
    seen_urls = [f"https://h{i % 5}.test/p{i}" for i in range(400)]
    probe_urls = [f"https://other{i % 7}.test/q{i}" for i in range(2000)]
    filters = build_filters(_urls(spark, seen_urls), CFG)
    _, maybe = split_candidates(_urls(spark, probe_urls), filters, CFG)
    # 16-bit fingerprints at low occupancy: FP rate way below the
    # bloom's at equal bytes; allow generous slack for tiny tables
    assert maybe.count() < 0.02 * 2000


def test_overflow_goes_to_stash_never_dropped(spark):
    """A filter sized far below its load must still answer 'maybe' for
    every inserted URL (eviction-chain overflow lands in the stash)."""
    tiny = CuckooConfig(n_buckets=2, m_bits=1 << 7, max_kicks=8)
    urls = [f"https://h.test/p{i}" for i in range(300)]
    filters = build_filters(_urls(spark, urls), tiny)
    dnew, maybe = split_candidates(_urls(spark, urls), filters, tiny)
    assert dnew.count() == 0
    assert maybe.count() == 300


def test_remove_inserted_urls(spark):
    urls = [f"https://h.test/p{i}" for i in range(100)]
    gone, kept = urls[:30], urls[30:]
    filters = build_filters(_urls(spark, urls), CFG)
    pruned = remove_urls(filters, _urls(spark, gone), CFG)
    # removed URLs may still collide as FPs, but every KEPT URL must
    # still be found, and most removed ones must actually clear
    dnew_kept, maybe_kept = split_candidates(_urls(spark, kept), pruned, CFG)
    assert dnew_kept.count() == 0 and maybe_kept.count() == 70
    dnew_gone, _ = split_candidates(_urls(spark, gone), pruned, CFG)
    assert dnew_gone.count() >= 25  # fp collisions allowed, bulk cleared


def test_crawl_with_cuckoo_seen_equals_plain(spark, tmp_path):
    """The cuckoo prefilter drops into the crawl's disk seen gate (via
    seen_filter='cuckoo') without changing (url, depth, order)."""
    from urlmap_spark.plans.crawl import CrawlConfig, crawl
    from urlmap_spark.sources import corpus as C

    pdf = C.corpus_pandas(seed=13, n_hosts=3, total_pages=50, with_bytes=False)
    cdf = spark.createDataFrame(pdf)
    seed = "https://h0.example-13.test/"
    plain = crawl(spark, cdf, seed, CrawlConfig(
        max_depth=3, same_path_prefix=False, broadcast_seen_max_urls=0))
    ck = crawl(spark, cdf, seed, CrawlConfig(
        max_depth=3, same_path_prefix=False, broadcast_seen_max_urls=0,
        checkpoint_dir=str(tmp_path / "ck"), disk_seen=True, disk_seen_buckets=4,
        bloom_seen=True, seen_filter="cuckoo", seen_filter_bits=4 << 14))
    a = [(r["url"], r["depth"], r["order"]) for r in
         plain.results.orderBy("order").collect()]
    b = [(r["url"], r["depth"], r["order"]) for r in
         ck.results.orderBy("order").collect()]
    assert a == b


def test_remove_folds_unmerged_delta_blobs(spark):
    """Deletion against a bucket holding several unmerged blobs must
    fold them first — deleting from only one blob would leave the
    fingerprint's copy in another blob findable."""
    cfg = CuckooConfig(n_buckets=2, m_bits=1 << 12)
    f1 = build_filters(_urls(spark, [f"https://h.test/{i}" for i in range(50)]), cfg)
    f2 = build_filters(_urls(spark, [f"https://h.test/{i}" for i in range(50, 100)]), cfg)
    both = f1.unionByName(f2)  # two blobs per bucket, deliberately unmerged
    gone = [f"https://h.test/{i}" for i in range(50, 60)]
    pruned = remove_urls(both, _urls(spark, gone), cfg)
    dnew, _ = split_candidates(_urls(spark, gone), pruned, cfg)
    assert dnew.count() >= 8  # bulk cleared (fp collisions allowed)
    kept = [f"https://h.test/{i}" for i in list(range(50)) + list(range(60, 100))]
    dkept, _ = split_candidates(_urls(spark, kept), pruned, cfg)
    assert dkept.count() == 0  # no survivor false negatives
