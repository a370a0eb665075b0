"""Disk-backed seen anti-join (operators/diskseen.py): exactness vs the
plain anti-join, crawl parity under the disk strategy, the shuffle-
volume plan property, resume + compaction interplay, and the
mixed-layout resume guard."""

import os

import pytest
from pyspark.sql import functions as F

from urlmap_spark.operators.diskseen import (disk_anti_join,
                                             disk_seen_anti_join,
                                             with_bucket)
from urlmap_spark.plans.crawl import CrawlConfig, crawl
from urlmap_spark.sources import corpus as C
from urlmap_spark.sources.catalog import RoundCatalog


def _urls(spark, names):
    return spark.createDataFrame([(n,) for n in names], "url string")


def _write_bucketed(df, path, n_buckets):
    with_bucket(df, n_buckets).write.mode("overwrite") \
        .partitionBy("_ub").parquet(path)


def test_disk_anti_join_equals_plain(spark, tmp_path):
    seen_urls = [f"https://h{i % 7}.test/p{i}" for i in range(300)]
    cands = [f"https://h{i % 9}.test/p{i}" for i in range(150, 500)]
    seen = _urls(spark, seen_urls)
    p1 = str(tmp_path / "d1")
    p2 = str(tmp_path / "d2")
    # two delta dirs (split the seen set) — the probe folds all dirs
    _write_bucketed(seen.filter(F.xxhash64("url") % 2 == 0), p1, 16)
    _write_bucketed(seen.filter(F.xxhash64("url") % 2 != 0), p2, 16)
    cdf = _urls(spark, cands).withColumn("k", F.length("url"))

    got = {(r["url"], r["k"]) for r in
           disk_anti_join(cdf, [p1, p2], 16).collect()}
    want = {(r["url"], r["k"]) for r in
            cdf.join(seen, "url", "left_anti").collect()}
    assert got == want and len(want) > 0


def test_disk_anti_join_empty_dirs_and_extra(spark, tmp_path):
    cands = _urls(spark, [f"https://x.test/{i}" for i in range(20)])
    # no dirs at all: pass-through
    assert disk_anti_join(cands, [], 8).count() == 20
    # missing dir path: skipped
    assert disk_anti_join(cands, [str(tmp_path / "nope")], 8).count() == 20
    # extra_seen broadcast backstop removes rows dirs cannot cover
    out = disk_seen_anti_join(
        cands, [], 8, extra_seen=_urls(spark, ["https://x.test/3"])).new
    assert out.count() == 19


def test_disk_anti_join_plan_shuffles_candidates_only(spark, tmp_path):
    """The only exchange hashes the 4-byte bucket key of the CANDIDATE
    side; the seen table appears nowhere in the plan (it is read inside
    the tasks), so per-round shuffle volume is O(candidates)."""
    seen = _urls(spark, [f"https://h.test/p{i}" for i in range(100)])
    p = str(tmp_path / "seen")
    _write_bucketed(seen, p, 32)
    out = disk_anti_join(_urls(spark, [f"https://h.test/p{i}"
                                       for i in range(50, 200)]), [p], 32)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan
    assert plan.count("Exchange") == 1
    assert "_ub" in plan and "seen" not in plan.lower().replace("flatmapgroups", "")


def test_disk_crawl_equals_plain_crawl(spark, tmp_path):
    """Full-crawl parity: the disk strategy (broadcast path disabled so
    every round exercises the bucket probe) reproduces the exact
    (url, depth, order) sequence, with and without a prefilter."""
    pdf = C.corpus_pandas(seed=7, n_hosts=3, total_pages=40, with_bytes=False)
    cdf = spark.createDataFrame(pdf)
    seed_url = "https://h0.example-7.test/"
    plain = crawl(spark, cdf, seed_url,
                  CrawlConfig(max_depth=3, same_path_prefix=False))
    want = [(r["url"], r["depth"], r["order"])
            for r in plain.results.orderBy("order").collect()]

    for extra in ({}, {"bloom_seen": True, "seen_filter_bits": 8 << 16},
                  {"bloom_seen": True, "seen_filter": "cuckoo",
                   "seen_filter_bits": 8 << 16}):
        ck = str(tmp_path / f"ck_{len(extra)}_{extra.get('seen_filter', '')}")
        disk = crawl(spark, cdf, seed_url, CrawlConfig(
            max_depth=3, same_path_prefix=False, checkpoint_dir=ck,
            broadcast_seen_max_urls=0, disk_seen=True, disk_seen_buckets=8,
            **extra))
        got = [(r["url"], r["depth"], r["order"])
               for r in disk.results.orderBy("order").collect()]
        assert got == want, f"disk-seen parity broken for {extra}"
        # the committed layout really is bucketed
        cat = RoundCatalog(ck)
        bucketed = [d for d in cat.table_paths("seen_delta")
                    if any(x.startswith("_ub=") for x in os.listdir(d))]
        assert bucketed, "no _ub= bucket dirs in any committed seen_delta"


def test_disk_crawl_resume_and_compaction(spark, tmp_path):
    pdf = C.corpus_pandas(seed=42, n_hosts=4, total_pages=60, with_bytes=False)
    cdf = spark.createDataFrame(pdf)
    seed = "https://h0.example-42.test/"
    base = CrawlConfig(max_depth=3, same_path_prefix=False)
    want = [(r["url"], r["depth"], r["order"])
            for r in crawl(spark, cdf, seed, base).results.orderBy("order").collect()]

    ck = str(tmp_path / "ck")
    dcfg = dict(max_depth=3, same_path_prefix=False, checkpoint_dir=ck,
                broadcast_seen_max_urls=0, disk_seen=True, disk_seen_buckets=8)
    partial = crawl(spark, cdf, seed, CrawlConfig(**dcfg, max_rounds=2))
    assert partial.rounds == 2
    # compact the committed deltas mid-crawl: the snapshot must keep the
    # _ub layout (a flat snapshot would be invisible to the bucket probe)
    cat = RoundCatalog(ck)
    cat.compact(spark, "seen_delta", vacuum=True)
    snap = cat.table_paths("seen_delta")[0]
    assert any(x.startswith("_ub=") for x in os.listdir(snap))
    resumed = crawl(spark, cdf, seed, CrawlConfig(**dcfg), resume=True)
    got = [(r["url"], r["depth"], r["order"])
           for r in resumed.results.orderBy("order").collect()]
    assert got == want


def test_disk_seen_resume_guard(spark, tmp_path):
    """Resuming a checkpoint written WITHOUT disk_seen (flat seen_delta)
    under disk_seen must refuse instead of silently re-enqueueing."""
    pdf = C.corpus_pandas(seed=7, n_hosts=3, total_pages=40, with_bytes=False)
    cdf = spark.createDataFrame(pdf)
    seed_url = "https://h0.example-7.test/"
    ck = str(tmp_path / "ck")
    crawl(spark, cdf, seed_url, CrawlConfig(
        max_depth=3, same_path_prefix=False, checkpoint_dir=ck, max_rounds=2))
    with pytest.raises(ValueError, match="disk_seen resume"):
        crawl(spark, cdf, seed_url, CrawlConfig(
            max_depth=3, same_path_prefix=False, checkpoint_dir=ck,
            disk_seen=True), resume=True)


def test_disk_seen_requires_checkpoint(spark, tmp_path):
    """disk_seen without a checkpoint, and the prefilter without the
    disk gate it lives in, are refused before any Spark job runs."""
    pdf = C.corpus_pandas(seed=7, n_hosts=2, total_pages=10, with_bytes=False)
    cdf = spark.createDataFrame(pdf)
    sc = spark.sparkContext._jsc.sc()
    for cfg, msg in ((CrawlConfig(disk_seen=True), "disk_seen requires checkpoint_dir"),
                     (CrawlConfig(bloom_seen=True, checkpoint_dir=str(tmp_path)),
                      "bloom_seen requires disk_seen")):
        j0 = sc.dagScheduler().nextJobId()
        with pytest.raises(ValueError, match=msg):
            crawl(spark, cdf, "https://h0.example-7.test/", cfg)
        assert sc.dagScheduler().nextJobId() == j0


from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_STR = st.text(
    alphabet=st.characters(codec="utf-8", exclude_characters="\x00"),
    min_size=0, max_size=40)


@settings(max_examples=8, deadline=None, derandomize=True)
@given(seen=st.lists(_STR, min_size=0, max_size=40, unique=True),
       cands=st.lists(_STR, min_size=1, max_size=40, unique=True),
       n_buckets=st.sampled_from([1, 3, 16]))
def test_fuzz_disk_anti_join_equals_plain(spark, tmp_path_factory,
                                          seen, cands, n_buckets):
    """Property: for ARBITRARY url strings (unicode, empty, punctuation)
    and any bucket count, the disk probe equals the plain anti-join —
    the candidate-side and persisted-side bucket keys are the same JVM
    expression, so no string shape can split a (candidate, seen) match
    across buckets."""
    tmp = str(tmp_path_factory.mktemp("fuzz_ds"))
    seen_df = spark.createDataFrame([(s,) for s in seen], "url string")
    cand_df = spark.createDataFrame([(c,) for c in cands], "url string")
    if seen:
        _write_bucketed(seen_df, tmp, n_buckets)
        dirs = [tmp]
    else:
        dirs = []
    got = {r["url"] for r in disk_anti_join(cand_df, dirs, n_buckets).collect()}
    want = set(cands) - set(seen)
    assert got == want


def test_inline_seen_compaction_parity(spark, tmp_path):
    """compact_seen_every folds deltas into a snapshot DURING the crawl
    (vacuuming covered dirs) without changing a single emitted row —
    under both the broadcast path (which re-reads the rebuilt seen
    union every round) and the disk probe; a resume after an inline
    compaction picks up the snapshot."""
    pdf = C.corpus_pandas(seed=11, n_hosts=4, total_pages=60, with_bytes=False)
    cdf = spark.createDataFrame(pdf)
    seed = "https://h0.example-11.test/"
    want = [(r["url"], r["depth"], r["order"])
            for r in crawl(spark, cdf, seed,
                           CrawlConfig(max_depth=4, same_path_prefix=False))
            .results.orderBy("order").collect()]

    for mode in ("broadcast", "disk"):
        ck = str(tmp_path / f"ck_{mode}")
        kw = dict(max_depth=4, same_path_prefix=False, checkpoint_dir=ck,
                  compact_seen_every=2)
        if mode == "disk":
            kw.update(broadcast_seen_max_urls=0, disk_seen=True,
                      disk_seen_buckets=8)
        run = crawl(spark, cdf, seed, CrawlConfig(**kw))
        got = [(r["url"], r["depth"], r["order"])
               for r in run.results.orderBy("order").collect()]
        assert got == want, f"inline compaction broke parity ({mode})"
        cat = RoundCatalog(ck)
        for tbl in ("seen_delta", "results", "lineage"):
            paths = cat.table_paths(tbl)
            assert any(os.sep + "compact" + os.sep in p for p in paths), \
                f"no {tbl} compaction snapshot served ({mode})"
            # file count the final read_union opens is bounded to one
            # snapshot + at most <cadence> post-snapshot deltas
            # (VERDICT r4 #5) — not one dir per round
            assert len(paths) <= 1 + 2, \
                f"{tbl} paths unbounded ({mode}): {paths}"
            covered = [r for r in cat.committed_rounds()
                       if os.path.exists(os.path.join(
                           ck, "rounds", f"r={r:04d}", tbl))]
            assert len(covered) < run.rounds, \
                f"{tbl} vacuum removed nothing ({mode})"

    # kill after round 2 (post-compaction), resume, same output
    ck = str(tmp_path / "ck_resume")
    kw = dict(max_depth=4, same_path_prefix=False, checkpoint_dir=ck,
              compact_seen_every=2, broadcast_seen_max_urls=0,
              disk_seen=True, disk_seen_buckets=8)
    crawl(spark, cdf, seed, CrawlConfig(**kw, max_rounds=2))
    resumed = crawl(spark, cdf, seed, CrawlConfig(**kw), resume=True)
    got = [(r["url"], r["depth"], r["order"])
           for r in resumed.results.orderBy("order").collect()]
    assert got == want


def test_df_seeds_disk_seen_resume(spark, tmp_path):
    """DataFrame seeds on the 10^10 path: the seed table persists in the
    same _ub bucket layout as seen_delta and the bucket probe reads it
    as one more delta dir (no broadcast of the seed set). Interrupt +
    resume reproduces the in-memory DataFrame-seeded crawl exactly, and
    a bucket-count mismatch on resume refuses."""
    pdf = C.corpus_pandas(seed=7, n_hosts=3, total_pages=40, with_bytes=False)
    cdf = spark.createDataFrame(pdf)
    seeds_df = spark.createDataFrame(
        [(f"https://h{i}.example-7.test/",) for i in range(3)], "url string")
    base = dict(max_depth=3, same_domain=False, same_path_prefix=False)
    want = [(r["url"], r["depth"], r["order"]) for r in
            crawl(spark, cdf, seeds_df, CrawlConfig(**base))
            .results.orderBy("order").collect()]

    ck = str(tmp_path / "ck_df_disk")
    dcfg = dict(**base, checkpoint_dir=ck, broadcast_seen_max_urls=0,
                disk_seen=True, disk_seen_buckets=8)
    partial = crawl(spark, cdf, seeds_df, CrawlConfig(**dcfg, max_rounds=1))
    assert partial.rounds == 1
    cat = RoundCatalog(ck)
    assert cat.has_table("seeds")
    # the seed table really is bucketed with the run's layout
    assert any(x.startswith("_ub=") for x in os.listdir(cat.table_dir("seeds")))
    assert cat.read_table_meta("seeds")["disk_seen_cfg"] == [8]
    resumed = crawl(spark, cdf, seeds_df, CrawlConfig(**dcfg), resume=True)
    got = [(r["url"], r["depth"], r["order"])
           for r in resumed.results.orderBy("order").collect()]
    assert got == want
    # mismatched bucket layout must refuse, naming the configs
    with pytest.raises(ValueError, match="seeds table was written with"):
        crawl(spark, cdf, seeds_df,
              CrawlConfig(**{**dcfg, "disk_seen_buckets": 16}), resume=True)


def test_df_seeds_disk_cuckoo_equals_plain(spark, tmp_path):
    """DataFrame seeds behind the one-pass cuckoo gate: the seed table
    is no blob's input until the first gated round rebuilds each
    bucket's blob from the seen files it reads (seed table included),
    so a seed linked later is still caught. Fresh and interrupted +
    resumed runs both equal the plain DataFrame-seeded crawl."""
    pdf = C.corpus_pandas(seed=7, n_hosts=3, total_pages=40, with_bytes=False)
    cdf = spark.createDataFrame(pdf)
    seeds_df = spark.createDataFrame(
        [(f"https://h{i}.example-7.test/",) for i in range(3)], "url string")
    base = dict(max_depth=3, same_domain=False, same_path_prefix=False)
    want = [(r["url"], r["depth"], r["order"]) for r in
            crawl(spark, cdf, seeds_df, CrawlConfig(**base))
            .results.orderBy("order").collect()]

    def dcfg(ck, **kw):
        return CrawlConfig(**base, checkpoint_dir=ck, broadcast_seen_max_urls=0,
                           disk_seen=True, disk_seen_buckets=8, bloom_seen=True,
                           seen_filter="cuckoo", seen_filter_bits=4 << 14, **kw)

    fresh = crawl(spark, cdf, seeds_df, dcfg(str(tmp_path / "fresh")))
    assert [(r["url"], r["depth"], r["order"])
            for r in fresh.results.orderBy("order").collect()] == want
    # every round that ran the gate reports its filter counts
    assert all("filter_maybe" in m and "filter_new" in m
               for m in fresh.metrics if m["processed"])

    ck = str(tmp_path / "resumed")
    crawl(spark, cdf, seeds_df, dcfg(ck, max_rounds=1))
    resumed = crawl(spark, cdf, seeds_df, dcfg(ck), resume=True)
    assert [(r["url"], r["depth"], r["order"])
            for r in resumed.results.orderBy("order").collect()] == want


_PARITY_DRIVER = r"""
import json, sys
from urlmap_spark.session import get_spark
from urlmap_spark.sources import corpus as C
from urlmap_spark.plans.crawl import CrawlConfig, crawl

master, ck, out = sys.argv[1:4]
spark = get_spark(master=master)
cdf = spark.createDataFrame(
    C.corpus_pandas(seed=42, n_hosts=4, total_pages=60, with_bytes=False))
run = crawl(spark, cdf, "https://h0.example-42.test/", CrawlConfig(
    max_depth=3, same_path_prefix=False, checkpoint_dir=ck,
    broadcast_seen_max_urls=0, disk_seen=True, disk_seen_buckets=8,
    bloom_seen=True, seen_filter="cuckoo", seen_filter_bits=4 << 14))
rows = [(r["url"], r["depth"], r["order"])
        for r in run.results.orderBy("order").collect()]
with open(out, "w") as f:
    json.dump(rows, f)
spark.stop()
"""


def test_disk_cuckoo_order_parallelism_invariant(tmp_path):
    """The disk + cuckoo crawl assigns the identical `order` column at
    local[2] and local[4] (each in its own JVM, so the core count really
    differs) — the gate's per-bucket task layout cannot leak into the
    crawl order."""
    import json
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    driver = tmp_path / "parity.py"
    driver.write_text(_PARITY_DRIVER)
    env = {**os.environ, "PYTHONPATH": repo + os.pathsep + os.environ.get("PYTHONPATH", "")}
    got = {}
    for n in (2, 4):
        out = tmp_path / f"rows{n}.json"
        r = subprocess.run([sys.executable, str(driver), f"local[{n}]",
                            str(tmp_path / f"ck{n}"), str(out)],
                           capture_output=True, text=True, timeout=600, env=env)
        assert r.returncode == 0, r.stderr[-3000:]
        got[n] = json.loads(out.read_text())
    assert got[2] == got[4] and len(got[2]) > 10
