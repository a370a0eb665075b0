"""ABAB on the real bench crawl: broadcast-seen (current default) vs
dedup-first shuffled anti-join past a lower broadcast threshold.

Variants (same corpus, same seeds, same session):
  A: broadcast_seen_max_urls=4M (every round broadcasts)    [current]
  B: broadcast_seen_max_urls=<thr> + SHJ hint on the anti   [candidate]

Usage: python tools/ab_seen_crawl.py [thr] [reps]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from hostfit import host_cores, host_heap_gib  # noqa: E402

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or host_cores())
os.environ.setdefault("URLMAP_SPARK_DRIVER_MEM", f"{host_heap_gib(CPUS)}g")

import bench as BB
from urlmap_spark.session import get_spark

THR = int(sys.argv[1]) if len(sys.argv) > 1 else 600_000
REPS = int(sys.argv[2]) if len(sys.argv) > 2 else 3


def one_crawl(spark, corpus, seeds, thr: int, shj: bool) -> dict:
    from urlmap_spark.plans.crawl import CrawlConfig, crawl

    os.environ["URLMAP_SEEN_SHJ"] = "1" if shj else "0"
    t0 = time.time()
    run = crawl(spark, corpus, seeds,
                CrawlConfig(max_depth=BB.BENCH_DEPTH, same_domain=False,
                            broadcast_seen_max_urls=thr))
    wall = time.time() - t0
    processed = sum(m.get("processed", 0) for m in run.metrics)
    return {"wall_s": round(wall, 2), "processed": processed,
            "urls_per_sec": round(processed / wall, 1),
            "round_walls": [m["wall_s"] for m in run.metrics]}


def main() -> None:
    spark = get_spark(master=f"local[{CPUS}]", app_name="ab_seen_crawl")
    spark.sparkContext.setLogLevel("ERROR")
    cp = BB.ensure_corpus(spark)
    corpus = BB.cached_corpus(spark, cp)
    corpus.count()
    from urlmap_spark.sources.corpus import host_page_index, page_url

    idx = host_page_index(BB.BENCH_SEED, BB.BENCH_HOSTS, BB.BENCH_PAGES)
    roots = [page_url(BB.BENCH_SEED, hi, 0) for hi in range(BB.BENCH_HOSTS)]
    stride = max(1, len(idx) // max(1, BB.BENCH_SEEDS - BB.BENCH_HOSTS))
    interior = [page_url(BB.BENCH_SEED, hi, pj) for hi, pj, _ in idx[::stride]]
    seeds = (roots + interior)[:BB.BENCH_SEEDS]

    out = {"A": [], "B": []}
    for rep in range(REPS):
        a = one_crawl(spark, corpus, seeds, 4_000_000, False)
        print(f"rep{rep} A(bcast)      {json.dumps(a)}", flush=True)
        out["A"].append(a)
        b = one_crawl(spark, corpus, seeds, THR, True)
        print(f"rep{rep} B(shj@{THR}) {json.dumps(b)}", flush=True)
        out["B"].append(b)
    for k, rs in out.items():
        walls = [r["wall_s"] for r in rs]
        print(f"{k}: best={min(walls)} walls={walls}")
    # sanity: identical results row counts
    pa, pb = out["A"][0]["processed"], out["B"][0]["processed"]
    print(f"processed A={pa} B={pb} equal={pa == pb}")
    corpus.unpersist()
    spark.stop()


if __name__ == "__main__":
    main()
