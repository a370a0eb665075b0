"""10^7-URL end-to-end disk-seen crawl (VERDICT r3 #4).

Exercises the 10^10 design path at the largest scale this sandbox can
hold: a checkpointed open crawl with ``disk_seen`` (bucket-probe exact
anti-join, shuffle O(candidates) independent of |seen|) and
``compact_seen_every`` (inline rewrite_data_files analog), plus a
kill/resume parity check at that scale.

Reports:
1. per-round wall table with per-URL cost — the flatness of us/URL as
   |seen| grows 10x IS the scale claim (a probe that scanned seen
   would show cost rising with the seen set);
2. resume-after-interrupt parity: a second crawl stopped after K
   rounds (fresh JVM per leg, so resume starts from storage only) must
   finish with the exact same URL-seen set and crawl order as the
   uninterrupted run.

Usage: python tools/scale_disk_seen.py [total_pages] [cores] [kill_after]
                                       [--seeds-table]
                                       [--prefilter none|bloom|cuckoo]
Defaults: 10_000_000 pages, every core ``nproc`` reports, interrupt
after round 2, no prefilter. The driver heap is derived from MemTotal
(half of what is left after 2 GiB for the OS and 0.5 GiB per core for
the Python workers) unless URLMAP_SPARK_DRIVER_MEM is set. Corpus and
checkpoints go under the temp dir (TMPDIR).
--seeds-table hands the seed set to the crawl as a DataFrame: the crawl
persists it as the catalog's named `seeds` table and every resume leg
rebuilds from that table (VERDICT r4 #2 evidence mode).
--prefilter puts the bloom or cuckoo prefilter in front of the disk
probe (the one-pass seen gate of operators/diskseen.py); the per-round
table then also shows the gate's maybe/new counts.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hostfit import host_cores, host_heap_gib  # noqa: E402

os.environ.setdefault("URLMAP_SPARK_DRIVER_MEM", f"{host_heap_gib(host_cores())}g")

from urlmap_spark.session import get_spark  # noqa: E402

SEED = 42
HOSTS = 500
FANOUT = (8, 16)
N_SEEDS = 5000
DEPTH = 8
BUCKETS = 256           # 10^7/256 ~ 40k rows per probe task
COMPACT_EVERY = 3


def corpus_path(pages: int) -> str:
    return os.path.join(tempfile.gettempdir(), f"urlmap_scale_corpus_{SEED}_{HOSTS}_"
                        f"{pages}_{FANOUT[0]}_{FANOUT[1]}")


def ensure_corpus(pages: int, cores: int) -> str:
    p = corpus_path(pages)
    if not os.path.exists(os.path.join(p, "_SUCCESS")):
        from urlmap_spark.sources.corpus import corpus_spark

        spark = get_spark(master=f"local[{cores}]", app_name="scale_gen")
        spark.sparkContext.setLogLevel("ERROR")
        corpus_spark(spark, seed=SEED, n_hosts=HOSTS, total_pages=pages,
                     with_bytes=False, partitions=cores * 4,
                     fanout=FANOUT).write.mode("overwrite").parquet(p)
        spark.stop()
    return p


def seeds_for(pages: int) -> list[str]:
    from urlmap_spark.sources.corpus import host_page_index, page_url

    idx = host_page_index(SEED, HOSTS, pages)
    roots = [page_url(SEED, hi, 0) for hi in range(HOSTS)]
    stride = max(1, len(idx) // max(1, N_SEEDS - HOSTS))
    interior = [page_url(SEED, hi, pj) for hi, pj, _ in idx[::stride]]
    return (roots + interior)[:N_SEEDS]


def one_leg(cores: int, cp: str, seeds: list[str], ck: str,
            resume: bool, max_rounds: int,
            seeds_table: bool = False, prefilter: str = "none") -> dict:
    """One crawl leg in its own SparkSession (resume legs therefore
    rebuild ALL state from the checkpoint's storage, like a fresh
    spark-submit would). seeds_table=True hands the seed set to the
    crawl as a DataFrame (the 10^10-frontier path): the crawl persists
    it as the catalog's named `seeds` table and the resume leg rebuilds
    from that table — VERDICT r4 #2's interrupt/resume evidence."""
    from pyspark.sql import functions as F

    from urlmap_spark.plans.crawl import CrawlConfig, crawl

    spark = get_spark(master=f"local[{cores}]", app_name="scale_disk_seen")
    spark.sparkContext.setLogLevel("ERROR")
    corpus = (spark.read.parquet(cp)
              .repartition(cores * 2, F.col("url"))
              .sortWithinPartitions("url").persist())
    corpus.count()
    seed_arg: object = seeds
    if seeds_table:
        seed_arg = spark.createDataFrame([(s,) for s in seeds], "url string")
    t0 = time.time()
    run = crawl(spark, corpus, seed_arg,
                CrawlConfig(max_depth=DEPTH, same_domain=False,
                            checkpoint_dir=ck, broadcast_seen_max_urls=0,
                            disk_seen=True, disk_seen_buckets=BUCKETS,
                            compact_seen_every=COMPACT_EVERY,
                            max_rounds=max_rounds,
                            bloom_seen=prefilter != "none",
                            seen_filter="bloom" if prefilter == "none" else prefilter),
                resume=resume)
    wall = time.time() - t0
    seen_n = run.seen.count()
    out = {
        "wall_s": round(wall, 2),
        "rounds": run.rounds,
        "processed": sum(m.get("processed", 0) for m in run.metrics),
        "seen": seen_n,
        "metrics": run.metrics,
    }
    corpus.unpersist()
    spark.stop()
    return out


def parity(cores: int, ck_a: str, ck_b: str) -> dict:
    """Exact parity of two finished checkpoints: URL-seen set equality
    and crawl-order equality, straight from storage."""
    from urlmap_spark.sources.catalog import RoundCatalog

    spark = get_spark(master=f"local[{cores}]", app_name="scale_parity")
    spark.sparkContext.setLogLevel("ERROR")
    a_cat, b_cat = RoundCatalog(ck_a), RoundCatalog(ck_b)
    a_seen = a_cat.read_union(spark, "seen_delta").select("url")
    b_seen = b_cat.read_union(spark, "seen_delta").select("url")
    a_res = a_cat.read_union(spark, "results").select("url", "order")
    b_res = b_cat.read_union(spark, "results").select("url", "order")
    out = {
        "seen_a": a_seen.count(), "seen_b": b_seen.count(),
        "seen_only_a": a_seen.exceptAll(b_seen).count(),
        "seen_only_b": b_seen.exceptAll(a_seen).count(),
        "order_mismatch": a_res.join(b_res, "url")
            .filter(a_res["order"] != b_res["order"]).count(),
        "results_a": a_res.count(), "results_b": b_res.count(),
    }
    spark.stop()
    return out


def main() -> None:
    import argparse

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("pages", type=int, nargs="?", default=10_000_000)
    p.add_argument("cores", type=int, nargs="?", default=host_cores())
    p.add_argument("kill_after", type=int, nargs="?", default=2)
    p.add_argument("--seeds-table", action="store_true")
    p.add_argument("--prefilter", choices=["none", "bloom", "cuckoo"], default="none")
    a = p.parse_args()
    pages, cores, kill_after = a.pages, a.cores, a.kill_after
    seeds_table, leg = a.seeds_table, {"seeds_table": a.seeds_table,
                                       "prefilter": a.prefilter}

    cp = ensure_corpus(pages, cores)
    seeds = seeds_for(pages)
    print(f"corpus={pages} pages @ {cp}; {len(seeds)} seeds"
          f"{' (as DataFrame seed table)' if seeds_table else ''}; "
          f"buckets={BUCKETS} compact_every={COMPACT_EVERY} "
          f"prefilter={a.prefilter} cores={cores} "
          f"heap={os.environ['URLMAP_SPARK_DRIVER_MEM']}", flush=True)

    ck_a = tempfile.mkdtemp(prefix="scale_dsk_a_")
    a = one_leg(cores, cp, seeds, ck_a, resume=False, max_rounds=10_000, **leg)
    print("\n== uninterrupted run ==", flush=True)
    print(f"wall={a['wall_s']}s rounds={a['rounds']} "
          f"processed={a['processed']} |seen|={a['seen']}", flush=True)
    print("| round | frontier | processed | new | wall s | us/URL | cum seen "
          "| maybe | def. new |")
    print("|---|---|---|---|---|---|---|---|---|")
    cum = len(seeds)
    for m in a["metrics"]:
        cum = m.get("order_counter", cum)
        per = 1e6 * m["wall_s"] / max(m.get("processed", 0), 1)
        print(f"| {m['round']} | {m['frontier']} | {m.get('processed', 0)} "
              f"| {m['new_discovered']} | {m['wall_s']} | {per:.0f} | {cum} "
              f"| {m.get('filter_maybe', '-')} | {m.get('filter_new', '-')} |",
              flush=True)

    # interrupted leg: stop cleanly after `kill_after` rounds (fresh JVM
    # per leg; crash-mid-commit atomicity is pinned separately by the
    # kill-point tests in tests/test_disk_seen.py at small scale)
    ck_b = tempfile.mkdtemp(prefix="scale_dsk_b_")
    b1 = one_leg(cores, cp, seeds, ck_b, resume=False, max_rounds=kill_after, **leg)
    print(f"\n== interrupted after {b1['rounds']} rounds: "
          f"wall={b1['wall_s']}s processed={b1['processed']} ==", flush=True)
    b2 = one_leg(cores, cp, seeds, ck_b, resume=True, max_rounds=10_000, **leg)
    print(f"== resumed to completion: wall={b2['wall_s']}s "
          f"rounds(total)={b2['rounds']} |seen|={b2['seen']} ==", flush=True)

    p = parity(cores, ck_a, ck_b)
    print("\n== parity (uninterrupted vs interrupted+resumed) ==", flush=True)
    print(json.dumps(p))
    ok = (p["seen_only_a"] == 0 and p["seen_only_b"] == 0
          and p["order_mismatch"] == 0 and p["results_a"] == p["results_b"])
    print(f"PARITY {'OK' if ok else 'FAIL'}", flush=True)
    for d in (ck_a, ck_b):
        shutil.rmtree(d, ignore_errors=True)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
