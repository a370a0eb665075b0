"""Decompose the verified-crawl fetch stage: cached-corpus scan vs join
vs decode, at several core counts. Usage: python tools/decompose_vp.py [cores...]
(default: a quarter of the host's cores and all of them; the driver heap
defaults to the host's, tools/hostfit.py)
"""

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from hostfit import host_cores, host_heap_gib  # noqa: E402
from urlmap_spark.session import get_spark  # noqa: E402


def main() -> None:
    cores = [int(c) for c in sys.argv[1:]] or [max(1, host_cores() // 4), host_cores()]
    os.environ.setdefault("URLMAP_SPARK_DRIVER_MEM", f"{host_heap_gib(max(cores))}g")
    gen = get_spark(master=f"local[{host_cores()}]", app_name="gen")
    gen.sparkContext.setLogLevel("ERROR")
    cp = bench.ensure_vp_corpus(gen)
    gen.stop()

    from pyspark.sql import functions as F

    for n in cores:
        spark = get_spark(master=f"local[{n}]", app_name=f"decomp_{n}")
        spark.sparkContext.setLogLevel("ERROR")
        corpus = (spark.read.parquet(cp)
                  .repartition(bench.JOIN_PARTS, F.col("url"))
                  .sortWithinPartitions("url").persist())
        corpus.count()
        frontier = (corpus.select("url")
                    .filter(F.pmod(F.xxhash64("url"), F.lit(3)) == 0)
                    .withColumn("depth", F.lit(0))
                    .withColumn("order", F.xxhash64("url"))
                    .localCheckpoint(eager=True))
        nf = frontier.count()

        def t(label, df):
            t0 = time.time()
            df.write.format("noop").mode("overwrite").save()
            print(f"  [{n}] {label:28s} {time.time() - t0:6.2f}s", flush=True)

        # a) full cached scan incl. bytes
        t("scan+bytes_len", corpus.select(F.sum(F.length("bytes"))))
        # b) narrow cached scan (no bytes)
        t("scan_narrow", corpus.select(F.count("caption")))
        # c) fetch-join, no decode, no bytes
        j = frontier.join(corpus.select("url", "caption", "status"), "url", "left")
        t("join_narrow", j)
        # d) fetch-join with bytes column carried (no decode)
        jb = frontier.join(corpus.select("url", "caption", "status", "bytes", "fmt",
                                         "phash"), "url", "left")
        t("join+bytes", jb.select("url", "status", F.length("bytes").alias("bl")))
        # e) full join + decode UDF
        from urlmap_spark.operators.multimodal import payload_ok_udf
        jd = jb.withColumn("payload_ok",
                           payload_ok_udf(F.col("bytes"), F.col("fmt"),
                                          F.col("phash").cast("string")))
        t("join+decode", jd.select("url", "status", "payload_ok"))
        # f) join + decode + localCheckpoint (the real fetch_ckpt shape)
        t0 = time.time()
        jd.select("url", "depth", "order", "status", "caption", "payload_ok") \
          .localCheckpoint(eager=True)
        print(f"  [{n}] {'join+decode+ckpt':28s} {time.time() - t0:6.2f}s", flush=True)
        print(f"  [{n}] frontier rows: {nf}", flush=True)
        spark.stop()


if __name__ == "__main__":
    main()
