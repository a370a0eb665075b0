"""Round-6 measurement harness (bench.py is FROZEN — extra benchmarks
live here, guide §1.4).

Modes:
  --queries [names...]   noop-sink time (best/median of N) + explain
                         ("formatted") dump for headline queries at
                         $SPARK_GRAFT_SF_DIR (default: the largest
                         sf* test-data dir present), plans written to
                         plans/r06/<query>_<tag>.txt
  --crawl                one bench-config crawl with URLMAP_CRAWL_DEBUG=1
                         phase ticks (per-round breakdown)

Host-fit defaults: $SPARK_GRAFT_CPUS defaults to every core nproc
reports and the driver heap ($URLMAP_SPARK_DRIVER_MEM) to one derived
from MemTotal (tools/hostfit.py).

Usage:
  python bench_extra.py --queries --tag before
  python bench_extra.py --queries --tag after text-langid text-quality
  URLMAP_CRAWL_DEBUG=1 python bench_extra.py --crawl
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.join(HERE, "tools")]

from hostfit import host_cores, host_heap_gib, largest_sf_dir  # noqa: E402

SF_DIR = (os.environ.get("SPARK_GRAFT_SF_DIR") or largest_sf_dir("/root/testdata")
          or "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or host_cores())
os.environ.setdefault("URLMAP_SPARK_DRIVER_MEM", f"{host_heap_gib(CPUS)}g")

PICKS = [
    "fetch-join", "stats-agg", "per-host-quota-topk", "seen-anti-join",
    "first-wins-dedup", "url-normalize", "extract-explode",
    "dedup-exact", "dedup-minhash-lsh", "dedup-ngram-capped",
    "embed-cosine-topk", "embed-ann-lsh", "text-langid", "text-quality",
    "token-count", "image-decode-meta", "image-phash-neardup",
    "stream-window-metrics", "caption-align-gate",
]


def run_queries(tag: str, names: list[str], repeats: int = 3) -> None:
    import __spark_entry__ as E
    from urlmap_spark.session import get_spark

    spark = get_spark(master=f"local[{CPUS}]", app_name=f"bench_extra_{tag}")
    spark.sparkContext.setLogLevel("ERROR")
    qs = E.queries()
    os.makedirs("plans/r06", exist_ok=True)
    out = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"{name} [{tag}]")
        times = []
        for _ in range(repeats):
            t0 = time.time()
            df = qs[name](spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            times.append(round(time.time() - t0, 3))
        # the plan dump is outside the timed window
        df = qs[name](spark, SF_DIR)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        with open(f"plans/r06/{name}_{tag}.txt", "w") as f:
            f.write(f"# {name} [{tag}] @ {SF_DIR}  times={times}\n\n{plan}")
        out[name] = {"min": min(times), "med": sorted(times)[len(times) // 2],
                     "all": times}
        print(f"{name:28s} min={min(times):7.3f} med={sorted(times)[len(times)//2]:7.3f} {times}")
    spark.sparkContext.setJobDescription(None)
    print(json.dumps({"tag": tag, "sf": SF_DIR, "queries": out}))
    spark.stop()


def run_crawl_debug(trials: int = 3) -> None:
    import bench as B
    from urlmap_spark.session import get_spark

    spark = get_spark(master=f"local[{CPUS}]", app_name="bench_extra_crawl")
    spark.sparkContext.setLogLevel("ERROR")
    cp = B.ensure_corpus(spark)
    corpus = B.cached_corpus(spark, cp)
    for t in range(trials):
        print(f"--- trial {t} ---", flush=True)
        r = B.run_crawl(spark, cp, corpus=corpus)
        print(json.dumps(r), flush=True)
    corpus.unpersist()
    spark.stop()


if __name__ == "__main__":
    argv = sys.argv[1:]
    if "--crawl" in argv:
        run_crawl_debug()
    else:
        tag = "before"
        if "--tag" in argv:
            tag = argv[argv.index("--tag") + 1]
        names = [a for a in argv if not a.startswith("--") and a != tag]
        run_queries(tag, names or PICKS)
