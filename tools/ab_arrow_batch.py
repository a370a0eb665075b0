"""Alternating A/B/n: spark.sql.execution.arrow.maxRecordsPerBatch on
the payload-verified crawl.

Rationale: the VP crawl's 8-core operating point tracks the measured
DRAM memcpy ceiling (BENCH/BASELINE.md campaign), and the codec A/B
localized the bandwidth to Arrow transfer + decode buffers inside the
fetch stage — exactly the traffic this knob shapes. The current 1024
was picked against the 10000 default (18% on the decode stage); this
sweep asks whether the optimum sits lower (smaller resident buffers,
better cache locality, more pipelining) or higher (fewer per-batch
overheads) at the bandwidth-saturated point.

Usage: python tools/ab_arrow_batch.py [cores] [trials] [sizes,csv]
(cores and the driver heap default to the host's, tools/hostfit.py)
Arm order rotates per trial (round-robin shift) so every size sees
every within-trial position across the run — the same drift-cancelling
discipline as the codec A/B's ABBA. Fresh session per run; same cached
corpus. Best-of-N per arm plus per-trial ratios vs the 1024 incumbent.
"""

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from hostfit import host_cores, host_heap_gib  # noqa: E402
from urlmap_spark.session import get_spark  # noqa: E402


def one(cores: int, size: int, cp: str) -> dict:
    os.environ["URLMAP_BENCH_ARROW_BATCH"] = str(size)
    spark = get_spark(master=f"local[{cores}]", app_name=f"ab_arrow_{size}")
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()
    r = bench.run_verified_crawl(spark, cp)
    r["setup_wall_s"] = round(time.time() - t0 - r["wall_s"], 2)
    spark.stop()
    return r


def main() -> None:
    cores = int(sys.argv[1]) if len(sys.argv) > 1 else host_cores()
    trials = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    sizes = [int(s) for s in sys.argv[3].split(",")] if len(sys.argv) > 3 \
        else [256, 1024, 4096]
    os.environ.setdefault("URLMAP_SPARK_DRIVER_MEM", f"{host_heap_gib(cores)}g")
    gen = get_spark(master=f"local[{host_cores()}]", app_name="ab_arrow_gen")
    gen.sparkContext.setLogLevel("ERROR")
    cp = bench.ensure_vp_corpus(gen)
    gen.stop()

    res = {s: [] for s in sizes}
    for t in range(trials):
        order = sizes[t % len(sizes):] + sizes[:t % len(sizes)]
        for size in order:
            r = one(cores, size, cp)
            print(f"[{cores}] trial {t} size {size:5d}: {r}", flush=True)
            res[size].append(r)
    best = {s: max(rs, key=lambda r: r["steady_urls_per_sec"])
            for s, rs in res.items()}
    for s in sizes:
        print(f"best {s:5d}: steady {best[s]['steady_urls_per_sec']:.1f} "
              f"whole {best[s]['urls_per_sec']:.1f}")
    if 1024 in sizes:
        for s in sizes:
            if s == 1024:
                continue
            ratios = [round(a["steady_urls_per_sec"] / b["steady_urls_per_sec"], 3)
                      for a, b in zip(res[s], res[1024])]
            print(f"per-trial {s}/1024 steady ratios: {ratios}")


if __name__ == "__main__":
    main()
