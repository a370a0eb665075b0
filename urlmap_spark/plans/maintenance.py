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
  DELETES the fingerprints in O(retired) (diskseen.remove_urls — safe
  because every retired URL was inserted), while a bloom cannot unset
  bits and must REBUILD from the surviving seen rows — the concrete
  reason the north_rule names both structures.

The crawl persists prefilter blobs in one layout only, the disk seen
gate's (one blob per disk bucket, operators/diskseen.py); maintenance
deletes from / rebuilds them under the same bucket key and task-side
hashes the gate inserts with. A checkpoint whose last round records
any other ``seen_filter_cfg`` (the retired in-memory layout's three
fields) counts as holding no blobs: they are neither read nor carried
forward, and the next gate rebuilds each bucket's blob from seen.

Both commit a normal catalog round (marker-last atomicity), so a
crashed maintenance run is invisible and ``crawl(..., resume=True)``
picks up the maintained state with no special cases.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import diskseen
from ..operators.order import with_global_order
from ..sources.catalog import RoundCatalog
from .crawl import FRONTIER_PB, bucketed_frontier, read_frontier

_PB = {**FRONTIER_PB, "seen_filters": ["_ub"]}  # blobs: one per disk bucket


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
    """(cfg, blobs) of the disk-layout prefilter blobs the last committed
    round holds, or (None, None): no blobs, or a record of another
    layout (module doc)."""
    fc = cat.read_metrics(last).get("seen_filter_cfg")
    if not fc or fc[3:] != [diskseen.LAYOUT]:
        return None, None
    try:
        filters = cat.read(spark, last, "seen_filters")
    except Exception:  # noqa: BLE001 — blobs absent
        return None, None
    n_buckets = int(fc[1])
    return diskseen.filter_config(fc[0], n_buckets, n_buckets * int(fc[2])), filters


def _layout_meta(m: dict, blobs: bool) -> dict:
    """The layout records a maintenance round carries forward: the disk
    seen layout always, the prefilter's only along with its blobs."""
    keys = ("disk_seen_cfg", "seen_filter_cfg") if blobs else ("disk_seen_cfg",)
    return {k: m[k] for k in keys if m.get(k)}


def requeue_urls(spark: SparkSession, checkpoint_dir: str, urls) -> dict:
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
    frontier = read_frontier(spark, cat, last)
    requeue = latest.join(frontier.select("url"), "url", "left_anti")

    ordered, new_counter = with_global_order(
        requeue, ["url"], order_col="order", start=order_counter)
    ordered = ordered.select("url", F.col("depth").cast("int").alias("depth"),
                             "order")
    if "attempt" in frontier.columns:
        ordered = ordered.withColumn("attempt", F.lit(1))
    merged = frontier.unionByName(ordered)
    n_requeued = new_counter - order_counter

    tables = {"next_frontier": bucketed_frontier(merged)}
    _, filters = _load_filter_state(spark, cat, last)
    if filters is not None:
        tables["seen_filters"] = filters  # carry forward unchanged
    mm = _zero_metrics(last + 1, new_counter, maintenance="requeue",
                       requeued=n_requeued, **_layout_meta(m, filters is not None))
    cat.commit_round(last + 1, tables, mm, partition_by=_PB)
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
    (snapshot-isolated); persisted disk-layout prefilter blobs are
    deleted from in O(retired) for the cuckoo filter and rebuilt from
    the surviving rows for the bloom.
    """
    cat = RoundCatalog(checkpoint_dir)
    last = cat.last_round()
    if last is None:
        raise ValueError(f"no committed rounds under {checkpoint_dir}")
    m = cat.read_metrics(last)

    want = _url_frame(spark, urls)
    frontier = read_frontier(spark, cat, last)
    pending = want.join(frontier.select("url"), "url", "left_semi")
    n_pending = pending.count()
    retire = want.join(frontier.select("url"), "url", "left_anti")
    seen = cat.read_union(spark, "seen_delta")
    retire = retire.join(seen.select("url"), "url", "left_semi") \
        .localCheckpoint(eager=True)
    n_retired = retire.count()

    fcfg, filters = _load_filter_state(spark, cat, last)

    # snapshot = (all committed seen) minus retired; vacuums the deltas
    # it covers so resume reads one snapshot + post-maintenance deltas
    cat.compact(spark, "seen_delta", minus=retire)

    tables = {"next_frontier": bucketed_frontier(frontier)}
    if filters is not None and fcfg.kind == "cuckoo":
        tables["seen_filters"] = diskseen.remove_urls(filters, retire, fcfg)
    elif filters is not None:
        # the disk gate with no blobs to read rebuilds each bucket's
        # blob from its surviving seen rows (the seed table's too)
        dirs = cat.table_paths("seen_delta")
        if cat.has_table("seeds"):
            dirs.append(cat.table_dir("seeds"))
        tables["seen_filters"] = diskseen.disk_seen_anti_join(
            spark.createDataFrame([], "url string"), dirs, fcfg.n_buckets,
            fcfg, None).filters
    mm = _zero_metrics(last + 1, int(m["order_counter"]),
                       maintenance="retire", retired=n_retired,
                       skipped_pending=n_pending,
                       **_layout_meta(m, filters is not None))
    cat.commit_round(last + 1, tables, mm, partition_by=_PB)
    return {"retired": n_retired, "skipped_pending": n_pending,
            "round": last + 1}
