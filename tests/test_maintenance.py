"""Checkpoint maintenance: requeue (recrawl-after-TTL) and retire
(seen-set forget), plus the persisted seen-filter contract they rely
on: committed blobs cover exactly the committed seen set, resume loads
them instead of rebuilding, cuckoo deletes fingerprints in place while
bloom rebuilds."""

import os

from urlmap_spark.plans.crawl import CrawlConfig, crawl
from urlmap_spark.plans.maintenance import requeue_urls, retire_urls
from urlmap_spark.sources.catalog import RoundCatalog

# A -> B,C ; B -> D ; C -> A ; D -> A,B  (D is the round-2 frontier of
# a max_rounds=2 crawl from A, and it links BACK to B so a retired B is
# organically rediscoverable; A is the seed and thus not retireable —
# the resume contract re-pins seeds into seen every run)
WEB = [
    ("https://h.test/", 'href="/b" href="/c"', 200),
    ("https://h.test/b", 'href="/d"', 200),
    ("https://h.test/c", 'href="/"', 200),
    ("https://h.test/d", 'href="/" href="/b"', 200),
]


def _web(spark):
    return spark.createDataFrame(WEB, "url string, caption string, status int")


def _cfg(ck, seen_filter="cuckoo", **kw):
    return CrawlConfig(max_depth=-1, same_path_prefix=False,
                       checkpoint_dir=ck, bloom_seen=True,
                       seen_filter=seen_filter, bloom_buckets=4,
                       bloom_bits=1 << 14, broadcast_seen_max_urls=0, **kw)


def _rows(run):
    return [(r["url"], r["depth"], r["order"], r["round"])
            for r in run.results.orderBy("order").collect()]


def test_persisted_filters_cover_committed_seen(spark, tmp_path):
    """The blobs committed at round r must contain round r's own delta
    (a stale pre-delta blob would false-negative and re-enqueue
    duplicates on a filter-loading resume)."""
    from urlmap_spark.operators.cuckoo import CuckooConfig, split_candidates

    ck = str(tmp_path / "ck")
    crawl(spark, _web(spark), "https://h.test/", _cfg(ck), )
    cat = RoundCatalog(ck)
    last = cat.last_round()
    seen = cat.read_union(spark, "seen_delta").select("url")
    filters = cat.read(spark, last, "seen_filters")
    dnew, maybe = split_candidates(seen, filters,
                                   CuckooConfig(4, 1 << 14))
    assert dnew.count() == 0
    assert cat.read_metrics(last)["seen_filter_cfg"] == ["cuckoo", 4, 1 << 14]


def test_requeue_refetches_with_fresh_orders(spark, tmp_path):
    ck = str(tmp_path / "ck")
    run = crawl(spark, _web(spark), "https://h.test/", _cfg(ck))
    before = _rows(run)
    n0 = max(o for (_, _, o, _) in before) + 1

    out = requeue_urls(spark, ck, ["https://h.test/b", "https://h.test/c",
                                   "https://nope.test/x"])  # unknown skipped
    assert out["requeued"] == 2

    resumed = crawl(spark, _web(spark), "https://h.test/", _cfg(ck),
                    resume=True)
    after = _rows(resumed)
    fresh = [r for r in after if r not in before]
    # exactly b and c, refetched once each, with orders continuing FIFO
    assert sorted((u, o) for (u, _, o, _) in fresh) == [
        ("https://h.test/b", n0), ("https://h.test/c", n0 + 1)]
    # depth is a property of the link graph, preserved on refetch
    assert all(d == 1 for (_, d, _, _) in fresh)
    # the URL SET is unchanged (results is an append log)
    assert {u for (u, _, _, _) in after} == {u for (u, _, _, _) in before}


def _retire_rediscovery(spark, ck, **kw):
    partial = crawl(spark, _web(spark), "https://h.test/",
                    _cfg(ck, max_rounds=2, **kw))
    assert partial.rounds == 2  # frontier now holds D

    out = retire_urls(spark, ck, ["https://h.test/b", "https://h.test/"])
    assert out == {"retired": 1, "skipped_pending": 0, "round": 2}

    resumed = crawl(spark, _web(spark), "https://h.test/", _cfg(ck, **kw),
                    resume=True)
    rows = _rows(resumed)
    b_rows = [r for r in rows if r[0] == "https://h.test/b"]
    assert len(b_rows) == 2  # original fetch + post-retirement refetch
    assert b_rows[0][1] == 1 and b_rows[1][1] == 3  # depth via D
    assert b_rows[1][2] == max(o for (_, _, o, _) in rows)  # enqueued last
    # every OTHER url fetched exactly once (retirement cascades nowhere:
    # B's own outlink D is still seen, and the seed A was never retired)
    for u in ("https://h.test/", "https://h.test/c", "https://h.test/d"):
        assert sum(1 for r in rows if r[0] == u) == 1


def test_retire_enables_organic_rediscovery(spark, tmp_path):
    """Partial crawl (D pending) -> retire B -> resume: D's link to B
    re-enqueues it (it left the seen set) and B is refetched at its
    rediscovery depth. Retiring the SEED is a no-op: seeds never enter
    the committed deltas and resume re-pins them into seen."""
    _retire_rediscovery(spark, str(tmp_path / "ck"))


def test_retire_disk_layout_after_blob_vacuum(spark, tmp_path):
    """The same retire -> rediscover contract on the disk seen gate's
    blob layout (one cuckoo blob per disk bucket, deleted from under the
    gate's own bucket key and hashes), with compaction every round, so
    every superseded seen_filters dir is already gone when retire_urls
    and the resume read the last one."""
    ck = str(tmp_path / "ck")
    _retire_rediscovery(spark, ck, disk_seen=True, disk_seen_buckets=4,
                        compact_seen_every=1)
    cat = RoundCatalog(ck)
    rounds = cat.committed_rounds()
    kept = [r for r in rounds
            if os.path.isdir(cat.round_table_dir(r, "seen_filters"))]
    assert kept == [rounds[-1]]
    assert sorted(d for d in os.listdir(cat.round_table_dir(rounds[-1], "seen_filters"))
                  if d.startswith("_ub=")) == [f"_ub={b}" for b in range(4)]
    assert cat.read_metrics(rounds[-1])["seen_filter_cfg"][3] == "_ub"


def test_persisted_disk_filters_cover_committed_seen(spark, tmp_path):
    """Disk twin of test_persisted_filters_cover_committed_seen: the
    blobs the gate committed with the last round must mark every
    committed seen URL "maybe seen" (a miss would bypass the exact
    probe and re-enqueue it), and record their layout."""
    from urlmap_spark.operators.diskseen import (disk_seen_anti_join,
                                                 filter_config)

    ck = str(tmp_path / "ck")
    run = crawl(spark, _web(spark), "https://h.test/",
                _cfg(ck, disk_seen=True, disk_seen_buckets=4))
    cat = RoundCatalog(ck)
    last = cat.last_round()
    fcfg = filter_config("cuckoo", 4, 4 * (1 << 14))
    assert cat.read_metrics(last)["seen_filter_cfg"] == ["cuckoo", 4, 1 << 14, "_ub"]
    seen = cat.read_union(spark, "seen_delta").select("url")
    n = seen.count()
    assert n == 3  # b, c, d; the seed never enters a delta
    gate = disk_seen_anti_join(seen, [], 4, fcfg,
                               cat.round_table_dir(last, "seen_filters"))
    assert len(gate.filters.collect()) == 4  # one blob row per bucket
    assert gate.observation.get == {"filter_maybe": n, "filter_new": 0}
    # the round metrics carry the gate's counts: a definitely-new row is
    # new, and every new row was either proved new or probed exactly
    for m in run.metrics:
        assert m["filter_new"] <= m["new_discovered"] \
            <= m["filter_new"] + m["filter_maybe"]


def test_retire_skips_pending_frontier_urls(spark, tmp_path):
    ck = str(tmp_path / "ck")
    crawl(spark, _web(spark), "https://h.test/", _cfg(ck, max_rounds=2))
    out = retire_urls(spark, ck, ["https://h.test/d"])  # D is pending
    assert out["retired"] == 0 and out["skipped_pending"] == 1


def test_retire_deletes_cuckoo_fingerprints_in_place(spark, tmp_path):
    """The maintenance round's blobs must answer 'definitely new' for
    the retired URL (cuckoo O(1) delete), and keep every survivor."""
    from urlmap_spark.operators.cuckoo import CuckooConfig, split_candidates

    ck = str(tmp_path / "ck")
    crawl(spark, _web(spark), "https://h.test/", _cfg(ck, max_rounds=2))
    retire_urls(spark, ck, ["https://h.test/b"])
    cat = RoundCatalog(ck)
    filters = cat.read(spark, cat.last_round(), "seen_filters")
    cfg = CuckooConfig(4, 1 << 14)
    gone = spark.createDataFrame([("https://h.test/b",)], "url string")
    dnew, _ = split_candidates(gone, filters, cfg)
    assert dnew.count() == 1  # fingerprint actually cleared
    survivors = cat.read_union(spark, "seen_delta").select("url")
    dnew2, _ = split_candidates(survivors, filters, cfg)
    assert dnew2.count() == 0  # no collateral false negatives


def test_retire_with_bloom_rebuilds(spark, tmp_path):
    """Same maintenance op under the bloom prefilter: no in-place
    delete exists, the blobs are rebuilt from the surviving seen rows
    — and the crawl outcome matches the cuckoo path exactly."""
    ck = str(tmp_path / "ck")
    crawl(spark, _web(spark), "https://h.test/",
          _cfg(ck, seen_filter="bloom", max_rounds=2))
    retire_urls(spark, ck, ["https://h.test/b"])
    resumed = crawl(spark, _web(spark), "https://h.test/",
                    _cfg(ck, seen_filter="bloom"), resume=True)
    rows = _rows(resumed)
    assert sum(1 for r in rows if r[0] == "https://h.test/b") == 2

    from urlmap_spark.operators.seen import BloomConfig, split_candidates
    cat = RoundCatalog(ck)
    filters = cat.read(spark, cat.last_round(), "seen_filters")
    survivors = cat.read_union(spark, "seen_delta").select("url")
    dnew, _ = split_candidates(survivors, filters, BloomConfig(4, 1 << 14))
    assert dnew.count() == 0
