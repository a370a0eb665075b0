"""Alternating A/B: spark.io.compression.codec lz4 (default) vs zstd on
the payload-verified crawl.

Rationale: the VP crawl's shuffle stages track the measured DRAM memcpy
ceiling, not compute (BENCH/BASELINE.md campaign). zstd roughly halves
shuffle bytes vs lz4 at extra CPU cost — at the DRAM-saturated 8-core
operating point that trade could raise throughput AND the N->4N ratio
(2-core is compute-bound, so the CPU cost lands where there is slack...
or hurts; that is what the A/B decides).

Usage: python tools/ab_codec.py [cores] [trials_per_arm]
(cores and the driver heap default to the host's, tools/hostfit.py)
Arms alternate A,B,A,B,...; best-of-N per arm reported (the repo's
standard discipline on this drifting host).
"""

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from hostfit import host_cores, host_heap_gib  # noqa: E402
from urlmap_spark.session import get_spark  # noqa: E402


def one(cores: int, codec: str, cp: str) -> dict:
    spark = get_spark(master=f"local[{cores}]", app_name=f"ab_codec_{codec}",
                      extra_conf={"spark.io.compression.codec": codec})
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()
    r = bench.run_verified_crawl(spark, cp)
    r["setup_wall_s"] = round(time.time() - t0 - r["wall_s"], 2)
    spark.stop()
    return r


def main() -> None:
    cores = int(sys.argv[1]) if len(sys.argv) > 1 else host_cores()
    trials = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    os.environ.setdefault("URLMAP_SPARK_DRIVER_MEM", f"{host_heap_gib(cores)}g")
    gen = get_spark(master=f"local[{host_cores()}]", app_name="ab_codec_gen")
    gen.sparkContext.setLogLevel("ERROR")
    cp = bench.ensure_vp_corpus(gen)
    gen.stop()
    res = {"lz4": [], "zstd": []}
    ratios = []
    for t in range(trials):
        # ABBA order alternation: within a trial one arm always runs on
        # later (different) silicon; alternating which arm goes second
        # cancels monotonic host drift across an even number of trials
        # (run 1's lz4-always-first schedule read as a fake zstd trend).
        order = ("lz4", "zstd") if t % 2 == 0 else ("zstd", "lz4")
        pair = {}
        for codec in order:
            r = one(cores, codec, cp)
            print(f"[{cores}] trial {t} {codec:4s}: {r}", flush=True)
            res[codec].append(r)
            pair[codec] = r
        ratios.append(round(pair["zstd"]["steady_urls_per_sec"]
                            / pair["lz4"]["steady_urls_per_sec"], 3))
    best = lambda rs: max(rs, key=lambda r: r["steady_urls_per_sec"])  # noqa: E731
    gm = 1.0
    for r in ratios:
        gm *= r
    gm = gm ** (1.0 / len(ratios))
    print(f"best lz4 : {best(res['lz4'])}")
    print(f"best zstd: {best(res['zstd'])}")
    print(f"per-trial zstd/lz4 steady ratios: {ratios} "
          f"(geomean {gm:.3f}; order alternated ABBA)")


if __name__ == "__main__":
    main()
