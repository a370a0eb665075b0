"""A/B: seen anti-join variants at the bench crawl's operating shape.

Round-5 shape (the crawl's worst round): |seen| ~ 2.4M urls, candidate
links ~ 8M rows (heavy dup factor, ~85% pointing at seen urls). Times
each variant with the noop sink, interleaved ABAB (guide §1).

Variants:
  bcast_str    current: cand LEFT ANTI broadcast(seen.url)  [strings]
  bcast_md5    16-byte digest keys both sides (unhex(md5(url)))
  bcast_build  1-row probe side -> isolates the broadcast build cost
  shj_dedup    first_wins dedup then shuffled anti-join (no broadcast)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from urlmap_spark.session import get_spark
from hostfit import host_cores, host_heap_gib

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or host_cores())
os.environ.setdefault("URLMAP_SPARK_DRIVER_MEM", f"{host_heap_gib(CPUS)}g")

N_SEEN = 2_400_000
N_CAND = 8_000_000


def main() -> None:
    spark = get_spark(master=f"local[{CPUS}]", app_name="ab_seen_bcast")
    spark.sparkContext.setLogLevel("ERROR")

    # synthetic urls shaped like the bench corpus's (host + path)
    def url_expr(i):
        return F.concat(
            F.lit("https://h"), (i % 500).cast("string"), F.lit(".test/p/"),
            (i / 7).cast("long").cast("string"), F.lit("/x"), i.cast("string"))

    seen = (
        spark.range(N_SEEN).select(url_expr(F.col("id")).alias("url"))
        .localCheckpoint(eager=True)
    )
    # candidates: 85% point at seen ids (dup factor ~3), 15% new
    cand = (
        spark.range(N_CAND)
        .select(
            F.when(F.pmod(F.col("id"), 100) < 85,
                   F.pmod(F.xxhash64("id"), F.lit(N_SEEN)))
            .otherwise(N_SEEN + F.pmod(F.xxhash64("id"), F.lit(N_SEEN)))
            .alias("tgt"),
            F.col("id").alias("parent_order"),
            F.pmod(F.col("id"), F.lit(16)).cast("int").alias("pos"),
            F.lit(3).alias("depth"),
        )
        .select(url_expr(F.abs(F.col("tgt"))).alias("url"),
                "parent_order", "pos", "depth")
        .localCheckpoint(eager=True)
    )
    one = cand.limit(1).localCheckpoint(eager=True)

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    from urlmap_spark.operators.order import first_wins

    def v_bcast_str():
        noop(first_wins(cand.join(F.broadcast(seen), "url", "left_anti"),
                        "url", ["parent_order", "pos"]))

    def v_bcast_md5():
        sd = seen.select(F.unhex(F.md5("url")).alias("_k"))
        cd = cand.withColumn("_k", F.unhex(F.md5("url")))
        noop(first_wins(cd.join(F.broadcast(sd), "_k", "left_anti").drop("_k"),
                        "url", ["parent_order", "pos"]))

    def v_bcast_build():
        noop(one.join(F.broadcast(seen), "url", "left_anti"))

    def v_shj_dedup():
        deduped = first_wins(cand, "url", ["parent_order", "pos"])
        noop(deduped.hint("shuffle_hash").join(seen, "url", "left_anti"))

    variants = {
        "bcast_str": v_bcast_str,
        "bcast_md5": v_bcast_md5,
        "bcast_build": v_bcast_build,
        "shj_dedup": v_shj_dedup,
    }
    times: dict[str, list[float]] = {k: [] for k in variants}
    for rep in range(4):
        for name, fn in variants.items():
            spark.sparkContext.setJobDescription(f"{name} rep{rep}")
            t0 = time.time()
            fn()
            times[name].append(round(time.time() - t0, 3))
    for name, ts in times.items():
        print(f"{name:14s} min={min(ts):7.3f} med={sorted(ts)[len(ts)//2]:7.3f} {ts}")
    spark.stop()


if __name__ == "__main__":
    main()
