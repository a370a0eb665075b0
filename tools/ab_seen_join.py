"""A/B the per-round seen anti-join strategy in the VP crawl.

Motivation (session 13): tools/profile_vp.py attributed the 1->4
serial residue per stage — extract_dedup_ckpt scales at 0.52 and is
nearly FLAT on small rounds (r2: 2.92 s @1c -> 2.15 s @4c). The VP
bench always takes the broadcast-seen path (|seen| <= 400k << the
4M cap), and a broadcast hash relation is built ON THE DRIVER,
single-threaded, EVERY round — a per-round serial cost the shuffle
anti-join doesn't pay.

An in-memory bloom-prefilter arm used to run here too: 110.5 s against
55.5 s broadcast and 60.0 s shuffle at local[4] on identical results
(BENCH/BASELINE.md), which is why the crawl now runs its prefilter only
inside the disk seen gate (tools/scale_disk_seen.py --prefilter).

Runs bench.run_verified_crawl's exact job (same corpus/seeds/depth)
under each strategy at the requested core counts and prints walls +
per-stage ticks so the strategies' scaling can be compared.

Usage: python tools/ab_seen_join.py [cores ...]   (default: 4)
Box to itself, like any scaling measurement.
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ["URLMAP_CRAWL_DEBUG"] = "1"

import bench  # noqa: E402

TICK_RE = re.compile(r"\[r(\d+)\] (\S+)\s+([0-9.]+)s")

STRATEGIES = {
    "broadcast": dict(),                                   # default path
    "shuffle": dict(broadcast_seen_max_urls=0),            # plain left_anti
}


def run(n: int, name: str, overrides: dict) -> tuple[float, dict[str, float], dict]:
    from pyspark.sql import functions as F

    from urlmap_spark.plans.crawl import CrawlConfig, crawl
    from urlmap_spark.session import get_spark

    spark = get_spark(master=f"local[{n}]", app_name=f"ab_seen_{name}_{n}")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch",
                   os.environ.get("URLMAP_BENCH_ARROW_BATCH", "1024"))
    vcp = bench.ensure_vp_corpus(spark)
    corpus = bench.cached_corpus(spark, vcp)
    corpus.count()
    seeds = corpus.select("url").filter(F.pmod(F.xxhash64("url"), F.lit(3)) == 0)
    cfg = CrawlConfig(max_depth=2, same_domain=False, verify_payload=True,
                      **overrides)
    buf = io.StringIO()
    t0 = time.time()
    with contextlib.redirect_stdout(buf):
        r = crawl(spark, corpus, seeds, cfg)
    wall = time.time() - t0
    corpus.unpersist()
    spark.stop()
    stages: dict[str, float] = {}
    for m in TICK_RE.finditer(buf.getvalue()):
        stages[m.group(2)] = stages.get(m.group(2), 0.0) + float(m.group(3))
    processed = sum(m.get("processed", 0) for m in r.metrics)
    return wall, stages, {"processed": processed, "rounds": r.rounds}


def main() -> None:
    cores = [int(a) for a in sys.argv[1:]] or [4]
    if not os.path.exists(os.path.join(bench.vp_corpus_path(), "_SUCCESS")):
        from urlmap_spark.session import get_spark

        gen = get_spark(master="local[32]", app_name="ab_gen")
        gen.sparkContext.setLogLevel("ERROR")
        bench.ensure_vp_corpus(gen)
        gen.stop()
    results: dict[tuple[str, int], tuple[float, dict[str, float]]] = {}
    for n in cores:
        for name, ov in STRATEGIES.items():
            wall, stages, info = run(n, name, ov)
            results[(name, n)] = (wall, stages)
            print(f"local[{n}] {name:10s} wall {wall:6.1f}s  "
                  f"dedup {stages.get('extract_dedup_ckpt', 0):5.2f}s  "
                  f"explode {stages.get('explode_ckpt', 0):5.2f}s  "
                  f"fetch {stages.get('fetch_ckpt', 0):6.2f}s  "
                  f"processed {info['processed']}", flush=True)
    if len(cores) == 2:
        lo, hi = cores
        print(f"\n{lo}->{hi} whole-crawl scaling per strategy:")
        for name in STRATEGIES:
            wl, wh = results[(name, lo)][0], results[(name, hi)][0]
            print(f"  {name:10s} {wl / wh / (hi / lo):.3f}   "
                  f"(walls {wl:.1f} / {wh:.1f})")


if __name__ == "__main__":
    main()
