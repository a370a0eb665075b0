"""Alternating A/B: shuffled exact seen anti-join vs the disk-backed
bucket probe (operators/diskseen.py), both under a checkpoint catalog
with the broadcast fast path disabled so the measured path is the
past-4M-|seen| regime each round.

Usage: python tools/ab_disk_seen.py [cores] [trials_per_arm]
(cores and the driver heap default to the host's, tools/hostfit.py)
Arms alternate A,B,A,B,...; best-of-N per arm reported (the repo's
standard discipline on this drifting host).
"""

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from hostfit import host_cores, host_heap_gib  # noqa: E402
from urlmap_spark.session import get_spark  # noqa: E402


def seeds_for() -> list[str]:
    from urlmap_spark.sources.corpus import host_page_index, page_url

    idx = host_page_index(bench.BENCH_SEED, bench.BENCH_HOSTS, bench.BENCH_PAGES)
    roots = [page_url(bench.BENCH_SEED, hi, 0) for hi in range(bench.BENCH_HOSTS)]
    stride = max(1, len(idx) // max(1, bench.BENCH_SEEDS - bench.BENCH_HOSTS))
    interior = [page_url(bench.BENCH_SEED, hi, pj) for hi, pj, _ in idx[::stride]]
    return (roots + interior)[:bench.BENCH_SEEDS]


def one(cores: int, disk: bool, cp: str, seeds: list[str]) -> dict:
    from urlmap_spark.plans.crawl import CrawlConfig, crawl

    spark = get_spark(master=f"local[{cores}]", app_name=f"ab_disk_{disk}")
    spark.sparkContext.setLogLevel("ERROR")
    corpus = bench.cached_corpus(spark, cp)
    corpus.count()
    ck = tempfile.mkdtemp(prefix="ab_disk_ck_")
    t0 = time.time()
    run = crawl(spark, corpus, seeds,
                CrawlConfig(max_depth=bench.BENCH_DEPTH, same_domain=False,
                            checkpoint_dir=ck, broadcast_seen_max_urls=0,
                            disk_seen=disk, disk_seen_buckets=64))
    wall = time.time() - t0
    processed = sum(m.get("processed", 0) for m in run.metrics)
    big = [m for m in run.metrics if m.get("frontier", 0) >= 10_000]
    steady = sum(m["processed"] for m in big) / sum(m["wall_s"] for m in big)
    out = {"wall_s": round(wall, 2), "processed": processed,
           "steady": round(steady, 1), "rounds": run.rounds}
    spark.stop()
    shutil.rmtree(ck, ignore_errors=True)
    return out


def main() -> None:
    cores = int(sys.argv[1]) if len(sys.argv) > 1 else host_cores()
    trials = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    os.environ.setdefault("URLMAP_SPARK_DRIVER_MEM", f"{host_heap_gib(cores)}g")
    gen = get_spark(master=f"local[{host_cores()}]", app_name="ab_gen")
    gen.sparkContext.setLogLevel("ERROR")
    cp = bench.ensure_corpus(gen)
    gen.stop()
    seeds = seeds_for()
    a, b = [], []
    for t in range(trials):
        ra = one(cores, False, cp, seeds)
        print(f"[{cores}] trial {t} shuffled : {ra}", flush=True)
        a.append(ra)
        rb = one(cores, True, cp, seeds)
        print(f"[{cores}] trial {t} disk     : {rb}", flush=True)
        b.append(rb)
    best = lambda rs: max(rs, key=lambda r: r["steady"])  # noqa: E731
    print(f"best shuffled: {best(a)}")
    print(f"best disk    : {best(b)}")


if __name__ == "__main__":
    main()
