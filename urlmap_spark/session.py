"""SparkSession factory with the engine's standard knobs.

Local-mode testing defaults; on a real cluster the same settings apply
except master/driver-memory come from spark-submit.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    master: str | None = None,
    app_name: str = "urlmap_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    # Python workers are forked with the driver's PYTHONPATH env, not its
    # sys.path — make the package importable executor-side regardless of
    # the caller's cwd. On a real cluster, spark-submit --py-files does
    # this job; this keeps local[<N>] behavior identical.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pypath = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pypath.split(os.pathsep):
        os.environ["PYTHONPATH"] = pkg_root + (os.pathsep + pypath if pypath else "")

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # 2x cores in local mode keeps every core busy through skewed stages
        n = int(master[master.find("[") + 1 : -1]) if "[" in master and "*" not in master else cpus
        shuffle_partitions = max(8, 2 * n)
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("URLMAP_SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # static: Spark's default of 100 generated classes is below what
        # one crawl generates, so every round evicted classes the next
        # round needed again (the benchmark crawl compiled ~460 classes
        # at 100 entries, ~200 at 4096)
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        # PySpark 4 otherwise walks the Python stack and makes three
        # py4j calls on every DataFrame/Column API call to record its
        # call site for error messages: ~2.5 ms a call, ~2.7 s of driver
        # time per benchmark crawl, which builds its plans call by call
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
