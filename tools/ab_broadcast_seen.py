"""Alternating A/B of the broadcast-seen early anti-join vs the
post-dedup shuffled anti-join, at one core count per invocation.

Usage: python tools/ab_broadcast_seen.py [cores] [trials_per_arm]
(cores defaults to every core nproc reports and the driver heap to one
that fits the host, tools/hostfit.py; the corpus generator always uses
all the cores). Each trial is a fresh
SparkSession over the SAME cached VP corpus recipe; arms alternate
A,B,A,B,... and best-of-N per arm is reported (the repo's standard
discipline for this drifting host).
"""

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from hostfit import host_cores, host_heap_gib  # noqa: E402
from urlmap_spark.session import get_spark  # noqa: E402


def one(cores: int, broadcast: bool, cp: str) -> dict:
    from pyspark.sql import functions as F

    from urlmap_spark.plans.crawl import CrawlConfig, crawl

    spark = get_spark(master=f"local[{cores}]", app_name=f"ab_{broadcast}")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
    corpus = bench.cached_corpus(spark, cp)
    corpus.count()
    seeds = corpus.select("url").filter(F.pmod(F.xxhash64("url"), F.lit(3)) == 0)
    t0 = time.time()
    run = crawl(spark, corpus, seeds,
                CrawlConfig(max_depth=2, same_domain=False, verify_payload=True,
                            broadcast_seen_max_urls=4_000_000 if broadcast else 0))
    wall = time.time() - t0
    processed = sum(m.get("processed", 0) for m in run.metrics)
    big = [m for m in run.metrics if m.get("frontier", 0) >= 10_000]
    steady = sum(m["processed"] for m in big) / sum(m["wall_s"] for m in big)
    out = {"wall_s": round(wall, 2), "processed": processed,
           "steady": round(steady, 1),
           "verified": sum(m.get("payload_ok", 0) for m in run.metrics)}
    spark.stop()
    return out


def main() -> None:
    cores = int(sys.argv[1]) if len(sys.argv) > 1 else host_cores()
    trials = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    os.environ.setdefault("URLMAP_SPARK_DRIVER_MEM", f"{host_heap_gib(cores)}g")
    gen = get_spark(master=f"local[{host_cores()}]", app_name="ab_gen")
    gen.sparkContext.setLogLevel("ERROR")
    cp = bench.ensure_vp_corpus(gen)
    gen.stop()
    a, b = [], []
    for t in range(trials):
        ra = one(cores, True, cp)
        print(f"[{cores}] trial {t} broadcast : {ra}", flush=True)
        a.append(ra)
        rb = one(cores, False, cp)
        print(f"[{cores}] trial {t} shuffled  : {rb}", flush=True)
        b.append(rb)
    best_a = min(x["wall_s"] for x in a)
    best_b = min(x["wall_s"] for x in b)
    print(f"[{cores}] BEST broadcast={best_a}s shuffled={best_b}s "
          f"steady_bc={max(x['steady'] for x in a)} "
          f"steady_sh={max(x['steady'] for x in b)}", flush=True)


if __name__ == "__main__":
    main()
