"""ABAB in-session A/B for per-query kernel variants at driver scale.

1. token-count: BPE regex with possessive quantifiers (disjoint
   character classes -> identical matches, no backtracking state).
2. first-wins-dedup: hash-agg min(struct) vs row_number window.

Each variant's result is checked identical (exceptAll both ways) before
timing is believed.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from hostfit import host_cores, host_heap_gib  # noqa: E402

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or host_cores())
os.environ.setdefault("URLMAP_SPARK_DRIVER_MEM", f"{host_heap_gib(CPUS)}g")

from pyspark.sql import Window
from pyspark.sql import functions as F

from urlmap_spark.session import get_spark

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/tmp/sfx10")


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    spark = get_spark(master=f"local[{CPUS}]", app_name="ab_query_kernels")
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    ev = spark.read.parquet(f"{SF}/events.parquet")

    TOKEN_RE = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"
    TOKEN_RE_POSS = r"[a-zA-Z]++|[0-9]++|[^a-zA-Z0-9\s]"

    def tc_old():
        noop(docs.select(
            "doc_id",
            F.regexp_count("text", F.lit(r"\S+")).cast("int").alias("n_tokens"),
            F.regexp_count("text", F.lit(TOKEN_RE)).cast("int").alias("n_bpe")))

    def tc_new():
        noop(docs.select(
            "doc_id",
            F.regexp_count("text", F.lit(r"\S++")).cast("int").alias("n_tokens"),
            F.regexp_count("text", F.lit(TOKEN_RE_POSS)).cast("int").alias("n_bpe")))

    def fw_old():
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        noop(ev.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
             .select("user_id", "event_id", "event_type"))

    def fw_new():
        noop(ev.groupBy("user_id")
             .agg(F.min(F.struct("ts", "event_id", "event_type")).alias("_s"))
             .select("user_id", F.col("_s.event_id").alias("event_id"),
                     F.col("_s.event_type").alias("event_type")))

    # equivalence gates
    a = docs.select("doc_id", F.regexp_count("text", F.lit(TOKEN_RE)).alias("n"),
                    F.regexp_count("text", F.lit(r"\S+")).alias("t"))
    b = docs.select("doc_id", F.regexp_count("text", F.lit(TOKEN_RE_POSS)).alias("n"),
                    F.regexp_count("text", F.lit(r"\S++")).alias("t"))
    d1 = a.exceptAll(b).count() + b.exceptAll(a).count()
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    fa = (ev.withColumn("rn", F.row_number().over(w)).filter("rn = 1")
          .select("user_id", "event_id", "event_type"))
    fb = (ev.groupBy("user_id")
          .agg(F.min(F.struct("ts", "event_id", "event_type")).alias("_s"))
          .select("user_id", F.col("_s.event_id").alias("event_id"),
                  F.col("_s.event_type").alias("event_type")))
    d2 = fa.exceptAll(fb).count() + fb.exceptAll(fa).count()
    print(f"equivalence: token diff rows={d1}  first-wins diff rows={d2}", flush=True)

    variants = {"tc_old": tc_old, "tc_new": tc_new,
                "fw_old": fw_old, "fw_new": fw_new}
    times = {k: [] for k in variants}
    for rep in range(4):
        for name, fn in variants.items():
            spark.sparkContext.setJobDescription(f"{name} rep{rep}")
            t0 = time.time()
            fn()
            times[name].append(round(time.time() - t0, 3))
    for name, ts in times.items():
        print(f"{name:8s} min={min(ts):6.3f} med={sorted(ts)[len(ts)//2]:6.3f} {ts}")
    spark.stop()


if __name__ == "__main__":
    main()
