"""Checkpoint maintenance: requeue (recrawl-after-TTL) and retire
(seen-set forget), plus the persisted seen-filter contract they rely
on: the disk gate's committed blobs cover exactly the committed seen
set, resume reads them instead of rebuilding, cuckoo deletes
fingerprints in place while bloom rebuilds, and a record of any other
blob layout counts as no blobs."""

import json
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
                       checkpoint_dir=ck, disk_seen=True, disk_seen_buckets=4,
                       bloom_seen=True, seen_filter=seen_filter,
                       seen_filter_bits=4 << 14, broadcast_seen_max_urls=0, **kw)


def _probe(spark, cat, urls, kind="cuckoo"):
    """Probe the last committed round's blobs through the disk gate with
    no seen files: every url the blobs rule out counts as filter_new,
    every other as filter_maybe."""
    from urlmap_spark.operators.diskseen import disk_seen_anti_join, filter_config

    gate = disk_seen_anti_join(
        spark.createDataFrame([(u,) for u in urls], "url string"), [], 4,
        filter_config(kind, 4, 4 << 14),
        cat.round_table_dir(cat.last_round(), "seen_filters"))
    assert len(gate.filters.collect()) == 4  # one blob row per bucket
    return gate.observation.get


def _rows(run):
    return [(r["url"], r["depth"], r["order"], r["round"])
            for r in run.results.orderBy("order").collect()]


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
    _retire_rediscovery(spark, ck, compact_seen_every=1)
    cat = RoundCatalog(ck)
    rounds = cat.committed_rounds()
    kept = [r for r in rounds
            if os.path.isdir(cat.round_table_dir(r, "seen_filters"))]
    assert kept == [rounds[-1]]
    assert sorted(d for d in os.listdir(cat.round_table_dir(rounds[-1], "seen_filters"))
                  if d.startswith("_ub=")) == [f"_ub={b}" for b in range(4)]
    assert cat.read_metrics(rounds[-1])["seen_filter_cfg"][3] == "_ub"


def test_persisted_disk_filters_cover_committed_seen(spark, tmp_path):
    """The blobs the gate committed with the last round must mark every
    committed seen URL "maybe seen" (a miss would bypass the exact
    probe and re-enqueue it), and record their layout."""
    ck = str(tmp_path / "ck")
    run = crawl(spark, _web(spark), "https://h.test/", _cfg(ck))
    cat = RoundCatalog(ck)
    assert cat.read_metrics(cat.last_round())["seen_filter_cfg"] == \
        ["cuckoo", 4, 1 << 14, "_ub"]
    seen = [r["url"] for r in cat.read_union(spark, "seen_delta").collect()]
    assert len(seen) == 3  # b, c, d; the seed never enters a delta
    assert _probe(spark, cat, seen) == {"filter_maybe": 3, "filter_new": 0}
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
    ck = str(tmp_path / "ck")
    crawl(spark, _web(spark), "https://h.test/", _cfg(ck, max_rounds=2))
    retire_urls(spark, ck, ["https://h.test/b"])
    cat = RoundCatalog(ck)
    # fingerprint actually cleared
    assert _probe(spark, cat, ["https://h.test/b"])["filter_new"] == 1
    survivors = [r["url"] for r in cat.read_union(spark, "seen_delta").collect()]
    # no collateral false negatives
    assert _probe(spark, cat, survivors)["filter_new"] == 0


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

    cat = RoundCatalog(ck)
    survivors = [r["url"] for r in cat.read_union(spark, "seen_delta").collect()]
    assert _probe(spark, cat, survivors, "bloom")["filter_new"] == 0


def _mark_other_layout(ck):
    """Rewrite the last round's seen_filter_cfg as the 3-field record of
    the retired in-memory (bucket, filter) layout."""
    cat = RoundCatalog(ck)
    path = os.path.join(os.path.dirname(
        cat.round_table_dir(cat.last_round(), "seen_filters")), "metrics.json")
    with open(path) as f:
        m = json.load(f)
    m["seen_filter_cfg"] = ["cuckoo", 4, 1 << 14]
    with open(path, "w") as f:
        json.dump(m, f)


def test_other_blob_layout_counts_as_no_blobs(spark, tmp_path):
    """A checkpoint whose last round records another blob layout holds
    no blobs the gate can read. A resume rebuilds every bucket's blob
    from seen (its first gate rules nothing out) and equals the
    uninterrupted crawl; maintenance neither reads nor carries the
    blobs forward, and retire -> rediscover still works."""
    ref = crawl(spark, _web(spark), "https://h.test/", _cfg(str(tmp_path / "ref")))
    # round 1's one new URL (d): round 0's blob proves it new
    assert ref.metrics[1]["filter_new"] == 1
    ck = str(tmp_path / "ck")
    crawl(spark, _web(spark), "https://h.test/", _cfg(ck, max_rounds=1))
    _mark_other_layout(ck)
    resumed = crawl(spark, _web(spark), "https://h.test/", _cfg(ck), resume=True)
    assert _rows(resumed) == _rows(ref)
    assert resumed.metrics[1]["filter_new"] == 0  # no blob read: rebuilt

    ck = str(tmp_path / "ck2")
    crawl(spark, _web(spark), "https://h.test/", _cfg(ck, max_rounds=2))
    _mark_other_layout(ck)
    retire_urls(spark, ck, ["https://h.test/b"])
    cat = RoundCatalog(ck)
    mm = cat.read_metrics(cat.last_round())
    assert "seen_filter_cfg" not in mm and mm["disk_seen_cfg"] == [4]
    assert not os.path.isdir(cat.round_table_dir(cat.last_round(), "seen_filters"))
    resumed = crawl(spark, _web(spark), "https://h.test/", _cfg(ck), resume=True)
    assert [d for (u, d, _, _) in _rows(resumed) if u == "https://h.test/b"] == [1, 3]
    assert cat.read_metrics(cat.last_round())["seen_filter_cfg"][3] == "_ub"


def test_maintenance_rounds_keep_the_frontier_layout(spark, tmp_path):
    """requeue_urls and retire_urls commit next_frontier in the crawl's
    host-bucket layout (`_hb=` partition dirs), so lineage derives from a
    maintenance round like from a crawl round; a resume after both
    refetches the requeued C and the rediscovered B."""
    from test_crawl import check_frontier_lineage

    ck = str(tmp_path / "ck")
    crawl(spark, _web(spark), "https://h.test/", _cfg(ck, max_rounds=2))
    cat = RoundCatalog(ck)
    assert requeue_urls(spark, ck, ["https://h.test/c"])["requeued"] == 1
    assert retire_urls(spark, ck, ["https://h.test/b"])["retired"] == 1
    for rnd in (2, 3):  # requeue, then retire
        assert cat.read_metrics(rnd)["maintenance"] in ("requeue", "retire")
        nf_dir = cat.round_table_dir(rnd, "next_frontier")
        assert [d for d in os.listdir(nf_dir) if d.startswith("_hb=")]
        assert cat.read(spark, rnd, "next_frontier").count() == 2  # d, c
        check_frontier_lineage(spark, cat, rnd)

    resumed = crawl(spark, _web(spark), "https://h.test/", _cfg(ck), resume=True)
    assert _rows(resumed) == [
        ("https://h.test/", 0, 0, 0), ("https://h.test/b", 1, 1, 1),
        ("https://h.test/c", 1, 2, 1), ("https://h.test/d", 2, 3, 4),
        ("https://h.test/c", 1, 4, 4), ("https://h.test/b", 3, 5, 5)]
