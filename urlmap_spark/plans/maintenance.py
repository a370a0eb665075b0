"""Checkpoint maintenance: seen-set retirement and refetch requeue.

The reference engine has no recrawl story (one process, one run); at
the 10^10-URL design point the seen set and its prefilter blobs are
durable state that outlives any single crawl, and two maintenance
operations become first-class:

- ``requeue_urls`` — recrawl-after-TTL: stale pages go back into the
  persisted frontier for refetch. The seen set is untouched (the URLs
  stay known, so in-flight discovery never re-enqueues them); a
  resumed crawl fetches them in its next round and appends fresh
  result rows (the results table is an append log — latest ``order``
  wins, ``unique_sorted_urls`` dedups).

- ``retire_urls`` — forget: URLs leave the seen set entirely, so
  ORGANIC rediscovery (a link from a still-pending page) re-crawls
  them. The seen rewrite is the catalog's snapshot-minus path (an
  Iceberg row-level DELETE becomes a rewrite in the shim), and the
  persisted prefilter blobs are updated in place: the cuckoo filter
  DELETES the fingerprints in O(retired) (operators/cuckoo.py
  remove_urls — safe because every retired URL was inserted), while a
  bloom cannot unset bits and must REBUILD from the surviving seen
  rows — the concrete reason the north_rule names both structures.
  Blobs in the disk layout (one per disk bucket, diskseen.py) are
  deleted from / rebuilt under the same bucket key and task-side
  hashes the crawl's seen gate inserts with.

Both commit a normal catalog round (marker-last atomicity), so a
crashed maintenance run is invisible and ``crawl(..., resume=True)``
picks up the maintained state with no special cases.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.order import with_global_order
from ..sources.catalog import RoundCatalog


def _url_frame(spark: SparkSession, urls) -> DataFrame:
    from ..functions.urlkernel import normalize_udf

    df = urls if isinstance(urls, DataFrame) else \
        spark.createDataFrame([(u,) for u in urls], "url string")
    return (df.select(normalize_udf(F.trim(F.col("url"))).alias("url"))
              .filter(F.col("url").isNotNull())
              .dropDuplicates(["url"]))


def _zero_metrics(round_idx: int, order_counter: int, **extra) -> dict:
    """A maintenance round processes no pages; consumers that fold
    per-round metrics (bench steady-state, stats aggregation) must see
    explicit zeros, never missing keys."""
    return {"round": round_idx, "frontier": 0, "skipped_depth": 0,
            "blocked_robots": 0, "new_discovered": 0,
            "order_counter": order_counter, "wall_s": 0.0,
            "processed": 0, "crawled": 0, "failed": 0, "max_depth": 0,
            "urls_per_sec": 0.0, **extra}


def _load_filter_state(spark, cat: RoundCatalog, last: int):
    """(cfg, filters_df, partition_by) from the last committed round, or
    (None, None, None) when blobs were not persisted there. A 4-field
    seen_filter_cfg marks the disk layout: one (_ub, filter) blob per
    disk bucket, committed partitioned by _ub."""
    fc = cat.read_metrics(last).get("seen_filter_cfg")
    if not fc:
        return None, None, None
    kind, n_buckets, m_bits = fc[0], int(fc[1]), int(fc[2])
    try:
        filters = cat.read(spark, last, "seen_filters")
    except Exception:  # noqa: BLE001 — blobs absent in this layout
        return None, None, None
    if len(fc) > 3:
        from ..operators.diskseen import filter_config
        return filter_config(kind, n_buckets, n_buckets * m_bits), filters, ["_ub"]
    if kind == "cuckoo":
        from ..operators.cuckoo import CuckooConfig
        return CuckooConfig(n_buckets, m_bits), filters, None
    from ..operators.seen import BloomConfig
    return BloomConfig(n_buckets, m_bits), filters, None


def requeue_urls(spark: SparkSession, checkpoint_dir: str, urls,
                 num_partitions: int | None = None) -> dict:
    """Re-enqueue already-fetched URLs for refetch (recrawl-after-TTL).

    Only URLs with a committed result row qualify — a never-fetched URL
    is either pending (already in the frontier) or unknown (a new seed,
    not a recrawl). Requeued rows get fresh ``order`` values continuing
    the crawl's FIFO counter, so the refetch ordering is deterministic
    and mergeable with in-flight discovery.
    """
    cat = RoundCatalog(checkpoint_dir)
    last = cat.last_round()
    if last is None:
        raise ValueError(f"no committed rounds under {checkpoint_dir}")
    m = cat.read_metrics(last)
    order_counter = int(m["order_counter"])

    want = _url_frame(spark, urls)
    results = cat.read_union(spark, "results")
    # latest depth per requeued URL (a URL refetched twice keeps its
    # original discovery depth — depth is a property of the link graph)
    latest = (results.join(want, "url", "left_semi")
              .groupBy("url").agg(F.min("depth").alias("depth")))
    frontier = cat.read(spark, last, "next_frontier").drop("_hb")
    requeue = latest.join(frontier.select("url"), "url", "left_anti")

    ordered, new_counter = with_global_order(
        requeue, ["url"], order_col="order", start=order_counter,
        num_partitions=num_partitions)
    ordered = ordered.select("url", F.col("depth").cast("int").alias("depth"),
                             "order")
    if "attempt" in frontier.columns:
        ordered = ordered.withColumn("attempt", F.lit(1))
    merged = frontier.unionByName(ordered)
    n_requeued = new_counter - order_counter

    tables = {"next_frontier": merged}
    _, filters, fpb = _load_filter_state(spark, cat, last)
    if filters is not None:
        tables["seen_filters"] = filters  # carry forward unchanged
    mm = _zero_metrics(last + 1, new_counter, maintenance="requeue",
                       requeued=n_requeued,
                       **({"seen_filter_cfg": m["seen_filter_cfg"]}
                          if m.get("seen_filter_cfg") else {}),
                       **({"disk_seen_cfg": m["disk_seen_cfg"]}
                          if m.get("disk_seen_cfg") else {}))
    cat.commit_round(last + 1, tables, mm,
                     partition_by={"seen_filters": fpb} if fpb else None)
    return {"requeued": n_requeued, "round": last + 1}


def retire_urls(spark: SparkSession, checkpoint_dir: str, urls) -> dict:
    """Remove URLs from the persisted seen set so organic rediscovery
    re-crawls them (seen-set retirement / forget).

    URLs still pending in the frontier are skipped — retiring a queued
    URL would let a later link re-enqueue it a second time. SEED URLs
    are also effectively not retireable: seeds never enter the
    committed seen deltas (resume re-pins them into seen from the
    ``seeds`` argument every run), so they fall out of the semi-join
    below. The seen rewrite is ``compact(minus=...)``
    (snapshot-isolated); persisted prefilter blobs are deleted from in
    O(retired) for the cuckoo filter and rebuilt from the surviving
    rows for the bloom.
    """
    cat = RoundCatalog(checkpoint_dir)
    last = cat.last_round()
    if last is None:
        raise ValueError(f"no committed rounds under {checkpoint_dir}")
    m = cat.read_metrics(last)

    want = _url_frame(spark, urls)
    frontier = cat.read(spark, last, "next_frontier").drop("_hb")
    pending = want.join(frontier.select("url"), "url", "left_semi")
    n_pending = pending.count()
    retire = want.join(frontier.select("url"), "url", "left_anti")
    seen = cat.read_union(spark, "seen_delta")
    retire = retire.join(seen.select("url"), "url", "left_semi") \
        .localCheckpoint(eager=True)
    n_retired = retire.count()

    fcfg, filters, fpb = _load_filter_state(spark, cat, last)

    # snapshot = (all committed seen) minus retired; vacuums the deltas
    # it covers so resume reads one snapshot + post-maintenance deltas
    cat.compact(spark, "seen_delta", minus=retire, vacuum=True)

    tables = {"next_frontier": frontier}
    if filters is not None and fpb:
        from ..operators import diskseen
        if fcfg.kind == "cuckoo":
            tables["seen_filters"] = diskseen.remove_urls(filters, retire, fcfg)
        else:
            # the disk gate with no blobs to read rebuilds each bucket's
            # blob from its surviving seen rows (the seed table's too)
            dirs = cat.table_paths("seen_delta")
            if cat.has_table("seeds"):
                dirs.append(cat.table_dir("seeds"))
            tables["seen_filters"] = diskseen.disk_seen_anti_join(
                spark.createDataFrame([], "url string"), dirs, fcfg.n_buckets,
                fcfg, None).filters
    elif filters is not None:
        if fcfg.kind == "cuckoo":
            from ..operators.cuckoo import remove_urls
            tables["seen_filters"] = remove_urls(filters, retire, fcfg)
        else:
            from ..operators.seen import build_filters
            tables["seen_filters"] = build_filters(
                cat.read_union(spark, "seen_delta").select("url"), fcfg)
    mm = _zero_metrics(last + 1, int(m["order_counter"]),
                       maintenance="retire", retired=n_retired,
                       skipped_pending=n_pending,
                       **({"seen_filter_cfg": m["seen_filter_cfg"]}
                          if m.get("seen_filter_cfg") else {}),
                       **({"disk_seen_cfg": m["disk_seen_cfg"]}
                          if m.get("disk_seen_cfg") else {}))
    cat.commit_round(last + 1, tables, mm,
                     partition_by={"seen_filters": fpb} if fpb else None)
    return {"retired": n_retired, "skipped_pending": n_pending,
            "round": last + 1}
