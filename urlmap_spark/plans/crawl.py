"""The iterative BFS crawl driver — one Spark job per round.

Reimplements the reference's sequential BFS semantics
(reference: internal/crawler/crawler.go:168-276) as synchronous
DataFrame supersteps (SURVEY.md §3.4):

    frontier(d) --depth gate--> --politeness--> --robots gate-->   (one
      materialization: a flagged frame, deferred rows read back from it)
      --fetch-join corpus--> results(d)
      --outlink UDF + posexplode--> --scope filter vs seed-->
      --first-wins dedup--> --anti-join seen--> frontier(d+1)

Determinism: crawl order is the reference's FIFO enqueue order, rebuilt
as ``order`` = global rank over (parent_order, pos) of each URL's FIRST
discovery. The reference's concurrent mode is nondeterministic
(sync.Map LoadOrStore first-wins, crawler.go:754); our rounds make the
sequential order THE order at any parallelism — tested by running the
same crawl at different core counts.

Scale notes (the 100 TB story):
- the corpus `bytes` column is never referenced by the crawl plan, so
  Catalyst prunes it out of the fetch-join scan entirely;
- the fetch-join and anti-join shuffle on `url`; AQE skew-join splitting
  plus the politeness salting (operators/politeness.py) handle Zipf-hot
  hosts;
- the seen set is only ever used build-side of a left_anti join and is
  re-read from compact parquet deltas — nothing is O(frontier) on the
  driver; driver traffic is one int per partition per round.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field
from functools import reduce
from urllib.parse import urlsplit

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import urlcore
from ..functions.urlkernel import should_skip_expr, status_ok_expr
from ..operators import diskseen
from ..operators.extract import canonicalize_links, explode_hrefs, href_category_expr
from ..operators.order import (
    first_wins,
    first_wins_packed,
    first_wins_packed_bounds,
    with_global_order,
)
from ..operators.politeness import schedule_frontier
from ..operators.robots import host_rule_lists, robots_gate
from ..sources.catalog import RoundCatalog

FRONTIER_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("depth", T.IntegerType(), False),
    T.StructField("order", T.LongType(), False),
])

RESULT_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("depth", T.IntegerType()),
    T.StructField("order", T.LongType()),
    T.StructField("status", T.IntegerType()),
    T.StructField("ok", T.BooleanType()),
    T.StructField("n_links", T.IntegerType()),
    T.StructField("round", T.IntegerType()),
])
RESULT_COLUMNS = RESULT_SCHEMA.fieldNames()

_DEBUG = os.environ.get("URLMAP_CRAWL_DEBUG") == "1"


class _Tick:
    def __init__(self, round_idx: int):
        self.r = round_idx
        self.t = time.time()

    def __call__(self, label: str) -> None:
        if _DEBUG:
            now = time.time()
            print(f"  [r{self.r}] {label:24s} {now - self.t:6.2f}s", flush=True)
            self.t = now


@dataclass
class CrawlConfig:
    max_depth: int = -1                      # -1 = unlimited (reference default)
    same_domain: bool = True                 # hard-coded true in the reference CLI
    same_path_prefix: bool = True            # (cmd/urlmap/main.go:165-166)
    user_agent: str = "urlmap/1.0"
    max_attempts: int = 1                    # total fetch attempts per URL:
                                             # 5xx is TRANSIENT and re-enqueues
                                             # into the next round until this
                                             # cap; 4xx never retries
                                             # (reference: client.go:63-83,
                                             # RetryCount default 3). 1 = off;
                                             # a static corpus re-serves the
                                             # same row, so >1 only changes
                                             # results when the corpus models
                                             # transience (transient_5xx col)
    robots_rules: DataFrame | None = None    # parsed rules -> robots gate
    render_modes: DataFrame | None = None    # (host, use_js) detection cache ->
                                             # unified fetch dispatch (#4/#27);
                                             # needs a rendered_caption corpus col
    host_quota: DataFrame | None = None      # (host, quota) per-round politeness
    default_quota: int | None = None
    global_cap: int | None = None            # per-round global rate cap
    checkpoint_dir: str | None = None        # None = in-memory (tests)
    frontier_host_buckets: int = 16          # host-hash partitioning of the
                                             # CHECKPOINTED frontier (north_rule:
                                             # frontier partitioned by host-hash;
                                             # per-host maintenance reads prune
                                             # bucket dirs at scan time)
    max_rounds: int = 10_000
    frontier_partitions: int | None = None
    extract_partitions: int | None = None    # UDF-stage fan-out (default: cores)
    corpus_unique: bool = True               # contract: corpus has ONE row per
                                             # url (a web cannot return two
                                             # responses for one GET). A dirty
                                             # corpus would otherwise emit
                                             # duplicate result rows sharing
                                             # one `order` value — set False
                                             # and the crawl first-wins-dedups
                                             # the corpus ONCE up front
                                             # (min(struct(cols)) by url — one
                                             # corpus shuffle, deterministic,
                                             # rounds unchanged)
    verify_payload: bool = False             # decode fetched bytes + phash check
                                             # (input_hint per-row invariant)
    bloom_seen: bool = False                 # partitioned prefilter inside the
                                             # disk seen gate (one blob per disk
                                             # bucket, probed and extended by the
                                             # exact bucket probe's own task,
                                             # operators/diskseen.py). Requires
                                             # disk_seen: while seen fits in
                                             # memory the broadcast and
                                             # shuffled-hash probes beat a
                                             # probabilistic pre-pass
    seen_filter_bits: int = 1 << 27          # total prefilter bits, split
                                             # evenly over the disk buckets
    seen_filter: str = "bloom"               # "bloom" | "cuckoo" — which
                                             # prefilter structure backs the
                                             # disk gate (north_rule names
                                             # both; the cuckoo adds deletion,
                                             # used by maintenance.retire_urls)
    broadcast_seen_max_urls: int = 600_000   # while |seen| (known EXACTLY
                                             # driver-side: it equals
                                             # order_counter) is under this,
                                             # the seen anti-join BROADCASTS
                                             # seen and runs BEFORE the
                                             # first-wins dedup shuffle —
                                             # most outlinks of a converging
                                             # crawl point at seen URLs, so
                                             # they drop map-side and never
                                             # enter a shuffle. Past the
                                             # limit the plan flips to dedup
                                             # -> shuffled-hash anti-join
                                             # (or the disk gate):
                                             # the broadcast's serial driver
                                             # build + per-executor ship
                                             # grows with |seen| (measured
                                             # ~1.5s/round at 2.4M urls, r6
                                             # ABAB — the shuffled path's
                                             # fully-parallel build wins
                                             # from ~600k up, and only more
                                             # so on a real cluster).
                                             # 0 disables. Exact either
                                             # way: an anti-join filters
                                             # whole url-groups, so it
                                             # commutes with per-url min.
    disk_seen: bool = False                  # past the broadcast limit, run
                                             # the exact seen anti-join as the
                                             # DISK-BACKED bucket probe
                                             # (operators/diskseen.py): seen
                                             # stays in its persisted _ub=
                                             # bucket layout and is read task-
                                             # side, so the per-round shuffle
                                             # is O(candidates), independent
                                             # of |seen| — the 10^10 exact
                                             # path (storage-partitioned-join
                                             # analog). Requires
                                             # checkpoint_dir; composes with
                                             # the broadcast-seen fast path and
                                             # bloom_seen (one-pass gate)
    disk_seen_buckets: int = 64              # |seen|/B must fit a task (the
                                             # scale knob: 10^10 urls / 4096
                                             # buckets ~ 150 MB per task)
    compact_seen_every: int = 0              # >0: every N committed rounds,
                                             # fold the seen_delta dirs into
                                             # one compaction snapshot and
                                             # vacuum the covered deltas (the
                                             # Iceberg rewrite_data_files
                                             # analog, inline) — caps the
                                             # per-bucket file count a long
                                             # disk-seen crawl's probe tasks
                                             # must open at B×N instead of
                                             # B×rounds. Snapshot-isolated:
                                             # a crash mid-compaction leaves
                                             # the deltas authoritative
    priority_expr: str | None = None         # SQL expression over the frontier
                                             # columns (url, depth, order[,
                                             # attempt]) -> numeric priority:
                                             # when a politeness budget defers
                                             # rows, budget winners are picked
                                             # HIGHEST priority first (FIFO
                                             # order breaks ties) instead of
                                             # plain FIFO — the north_rule's
                                             # frontier-as-priority-queue.
                                             # Requires a budget (host_quota /
                                             # default_quota / global_cap);
                                             # without one every frontier row
                                             # is processed anyway and a
                                             # priority would be a silent
                                             # no-op, so that combination is
                                             # rejected. Null priority ranks
                                             # LOWEST (a partial CASE expr's
                                             # unmatched rows defer, not win).
                                             # Delays, never drops:
                                             # the final URL-seen set is
                                             # priority-invariant (tested)
    progress: object | None = None           # per-round callback(metrics dict)
                                             # — the batch analog of the
                                             # reference's live progress ticker
                                             # (progress.go:272-298); exceptions
                                             # are swallowed (reporting must
                                             # never kill a crawl)


@dataclass
class CrawlRun:
    results: DataFrame
    metrics: list[dict] = field(default_factory=list)
    rounds: int = 0
    seen: DataFrame | None = None


def _union_all(parts: list[DataFrame]) -> DataFrame | None:
    """unionByName over ``parts`` in order; None when there are none."""
    return reduce(DataFrame.unionByName, parts) if parts else None


def _report(progress, m: dict) -> None:
    """Hand a copy of one round's metrics to the progress callback;
    its exceptions are swallowed (reporting never kills a crawl)."""
    if progress is not None:
        try:
            progress(dict(m))
        except Exception:  # noqa: BLE001
            pass


def crawl(
    spark: SparkSession,
    corpus: DataFrame,
    seed_url: str | list[str] | DataFrame,
    cfg: CrawlConfig | None = None,
    resume: bool = False,
) -> CrawlRun:
    """seed_url: one URL, a seed LIST, or a seed DataFrame (column
    ``url``). The reference crawls one seed; the north_rule contract is
    "under the same seed list". List seeds are validated + normalized +
    first-occurrence-deduped driver-side; round-0 crawl order is
    seed-list order (FIFO enqueue semantics). DataFrame seeds are the
    10^10-frontier path: validated/normalized/deduped distributed, with
    round-0 order = lexicographic URL order (a deterministic canonical
    choice); scoped crawls (same_domain) need a list, not a DataFrame.

    With a checkpoint_dir, DataFrame seeds are persisted as the
    catalog's named ``seeds`` table (url, depth, order — the normalized
    round-0 frontier) BEFORE round 0 runs, so the crawl is resumable
    from any interrupt point: a resume rebuilds ``seen`` from the seed
    table plus the committed deltas, exactly as the list path rebuilds
    it from the config seeds. On resume the passed DataFrame is ignored
    in favor of the persisted table (normalization and round-0 order
    parity are guaranteed by construction)."""
    cfg = cfg or CrawlConfig()
    if cfg.disk_seen and not cfg.checkpoint_dir:
        raise ValueError("disk_seen requires checkpoint_dir: the disk-backed "
                         "anti-join probes the catalog's bucketed seen_delta "
                         "layout")
    if cfg.bloom_seen and not cfg.disk_seen:
        raise ValueError("bloom_seen requires disk_seen: the prefilter lives "
                         "inside the disk seen gate, one blob per disk bucket")
    politeness = (cfg.host_quota is not None or cfg.default_quota is not None
                  or cfg.global_cap is not None)
    if cfg.priority_expr is not None and not politeness:
        raise ValueError(
            "priority_expr needs a politeness budget (host_quota / "
            "default_quota / global_cap) to act on — without one the "
            "whole frontier is processed every round and the priority "
            "would be a silent no-op")
    # one blob per disk bucket (raises on an unknown seen_filter)
    filter_cfg = (diskseen.filter_config(cfg.seen_filter, cfg.disk_seen_buckets,
                                         cfg.seen_filter_bits)
                  if cfg.bloom_seen else None)
    seeds_df: DataFrame | None = None
    if isinstance(seed_url, DataFrame):
        if cfg.same_domain:
            raise ValueError("DataFrame seeds require same_domain=False; "
                             "scoped crawls take a seed list")
        seeds_df = seed_url
        seeds: list[str] = []
    else:
        seed_list = [seed_url] if isinstance(seed_url, str) else list(seed_url)
        seeds = []
        seen_set: set[str] = set()
        for su in seed_list:
            if not urlcore.is_valid_url(su):
                raise ValueError(f"invalid start URL: {su}")
            n = urlcore.normalize_url(su)
            if n not in seen_set:
                seen_set.add(n)
                seeds.append(n)
        if not seeds:
            raise ValueError("no start URL")
    # the seed list as ONE local relation (pandas-built: a LocalTableScan).
    # A list-of-tuples frame plans as a Python-RDD scan that re-runs on
    # every use — the round-0 frontier, the disk gate's broadcast of the
    # seeds every round, committed_seen()
    seed_frame = (spark.createDataFrame(pd.DataFrame({
        "url": seeds, "depth": np.zeros(len(seeds), dtype=np.int32),
        "order": np.arange(len(seeds), dtype=np.int64)}), FRONTIER_SCHEMA)
        if seeds else None)

    # The round plan places every filter by hand (depth gate before fetch,
    # scope before dedup, ...). Catalyst's PushPredicateThroughNonJoin
    # would "improve" it by substituting each filter's condition through
    # the canonicalization withColumn chain — the substitution is
    # recursive and duplicates the string-surgery tree hundreds of times
    # (observed: a single Filter with ~500 regex matchers, a 55k-line
    # whole-stage-codegen class, Janino's 64 KB limit exceeded, and every
    # task paying compile-retry + interpreted fallback). Excluded for the
    # duration of the crawl; restored after.
    _EXCLUDE = "org.apache.spark.sql.catalyst.optimizer.PushDownPredicates"
    old_excluded = spark.conf.get("spark.sql.optimizer.excludedRules", None)
    spark.conf.set(
        "spark.sql.optimizer.excludedRules",
        _EXCLUDE if not old_excluded else f"{old_excluded},{_EXCLUDE}",
    )

    try:
        tick0 = _Tick(0)  # setup attribution (debug only)
        catalog = RoundCatalog(cfg.checkpoint_dir) if cfg.checkpoint_dir else None
        # The crawl plan never touches `bytes` unless payload verification
        # is on; select the narrow columns explicitly so even a cache()
        # stays slim. With verification, bytes flow ONLY through the fetch
        # join into the Arrow decode UDF and are dropped before the round
        # checkpoint — pixels never enter `seen`/frontier state or a
        # second shuffle.
        retry = max(1, cfg.max_attempts)
        has_attempt = retry > 1
        web_cols = ["url", "caption", "status"]
        if cfg.verify_payload:
            web_cols += ["bytes", "fmt", "phash"]
        # transient-failure model (reference: client_test.go's flaky
        # server): a corpus row with transient_5xx = t serves its 5xx
        # status for the first t attempts, then 200
        transient = has_attempt and "transient_5xx" in corpus.columns
        if transient:
            web_cols.append("transient_5xx")
        # unified dispatch (#4): JS-enabled hosts read the rendered
        # content column; hosts without one fall back to static
        # (reference: unified_client.go:77-119 GetWithFallback)
        dispatch = cfg.render_modes is not None and "rendered_caption" in corpus.columns
        if dispatch:
            web_cols.append("rendered_caption")
        web = corpus.select(*web_cols)
        if not cfg.corpus_unique:
            # deterministic first-wins over duplicate corpus rows: ONE
            # up-front shuffle of the (narrow) corpus projection; every
            # round's fetch-join then sees the one-row-per-url contract.
            # Materialized eagerly — without the checkpoint, the groupBy
            # re-executed inside every round's fetch-join action, i.e.
            # O(rounds) corpus shuffles, not one (ADVICE r5 #1).
            others = [c for c in web.columns if c != "url"]
            web = (
                web.groupBy("url")
                .agg(F.min(F.struct(*others)).alias("_r"))
                .select("url", *[F.col(f"_r.{c}").alias(c) for c in others])
                .localCheckpoint(eager=True)
            )

        metrics: list[dict] = []
        results_parts: list[DataFrame] = []
        # df_seeded: this crawl's seed set lives in the catalog's named
        # `seeds` table (fresh DataFrame-seed run writes it below; a
        # resume finds it already committed) rather than in the config
        df_seeded = seeds_df is not None or (
            catalog is not None and catalog.has_table("seeds"))

        def committed_seen(upto: int | None = None) -> DataFrame:
            """The committed seen set: every seen_delta plus the seeds,
            which never enter any delta — list seeds from the config, a
            DataFrame-seeded crawl's from its persisted seed table."""
            seen = (catalog.read_union(spark, "seen_delta", upto=upto).select("url")
                    if catalog.committed_rounds()
                    else spark.createDataFrame([], "url string"))
            if seed_frame is not None:
                seen = seen.unionByName(seed_frame.select("url"))
            if catalog.has_table("seeds"):
                seen = seen.unionByName(
                    catalog.read_table(spark, "seeds").select("url"))
            return seen

        def keeps_seen_frames() -> bool:
            """Whether the next round may read `seen` as DataFrames: the
            disk gate reads its bucket files task-side, so a disk crawl
            needs them only while a broadcast round can still come
            (|seen| == order_counter only grows)."""
            return not cfg.disk_seen or order_counter <= cfg.broadcast_seen_max_urls

        if resume and catalog is not None and catalog.last_round() is not None:
            last = catalog.last_round()
            # drop is a no-op on pre-bucketing checkpoints (no _hb column)
            frontier = catalog.read(spark, last, "next_frontier").drop("_hb")
            m = catalog.read_metrics(last)
            order_counter = int(m["order_counter"])
            # the committed frontier is that round's new, deferred and
            # retried rows; a maintenance round rewrote it, so count it
            n_frontier = (frontier.count() if "maintenance" in m else
                          sum(int(m.get(k, 0)) for k in
                              ("new_discovered", "deferred", "retried")))
            seen = committed_seen(upto=last) if keeps_seen_frames() else None
            round_idx = last + 1
            metrics = [catalog.read_metrics(r) for r in catalog.committed_rounds()]
        elif resume and catalog is not None and catalog.has_table("seeds"):
            # DataFrame-seeded crawl interrupted BEFORE the round-0
            # commit: restart round 0 from the persisted seed table (the
            # passed seed DataFrame, if any, is ignored — the table is
            # the normalization/ordering-parity source of truth)
            frontier = (catalog.read_table(spark, "seeds")
                        .select("url", "depth", "order")
                        .localCheckpoint(eager=True))
            order_counter = int(catalog.read_table_meta("seeds")["order_counter"])
            n_frontier = order_counter
            seen = frontier.select("url")
            round_idx = 0
            tick0("setup_seeds_table_resume")
        elif seeds_df is not None:
            from ..functions.urlkernel import is_valid_udf, normalize_udf

            norm = (
                seeds_df.select(normalize_udf(F.trim(F.col("url"))).alias("url"),
                                is_valid_udf(F.trim(F.col("url"))).alias("_v"))
                .filter(F.col("_v") & F.col("url").isNotNull())
                .select("url").dropDuplicates(["url"])
            )
            frontier, order_counter = with_global_order(
                norm.withColumn("depth", F.lit(0)), ["url"], order_col="order",
                start=0, num_partitions=cfg.frontier_partitions)
            frontier = frontier.select("url", "depth", "order").localCheckpoint(eager=True)
            n_frontier = order_counter
            if catalog is not None:
                # persist the normalized round-0 frontier as the named
                # seed table BEFORE any round runs: from here on every
                # interrupt point is resumable (VERDICT r4 #2). Bucketed
                # by the disk-seen key when disk_seen is on, so the
                # bucket probe reads it like one more seen_delta dir —
                # at the 10^10-frontier design point the seed set is
                # itself a table and must never ride a broadcast.
                sd_meta: dict = {"order_counter": order_counter}
                sd_pb = None
                sd_tbl = frontier
                if cfg.disk_seen:
                    sd_tbl = diskseen.with_bucket(frontier, cfg.disk_seen_buckets)
                    sd_pb = ["_ub"]
                    sd_meta["disk_seen_cfg"] = [cfg.disk_seen_buckets]
                catalog.commit_table("seeds", sd_tbl, partition_by=sd_pb,
                                     meta=sd_meta)
            seen = frontier.select("url")
            round_idx = 0
            tick0("setup_seeds_df")
        else:
            frontier = seed_frame
            if len(seeds) > 64:
                frontier = frontier.repartition(
                    cfg.frontier_partitions or spark.sparkContext.defaultParallelism)
            seen = frontier.select("url")
            order_counter = n_frontier = len(seeds)
            round_idx = 0

        if has_attempt and "attempt" not in frontier.columns:
            frontier = frontier.withColumn("attempt", F.lit(1))

        # seen is kept as a list of materialized deltas (union on demand):
        # no per-round checkpoint of the whole set, compacted past a threshold
        seen_parts: list[DataFrame] = []
        if keeps_seen_frames():
            seen_parts = [seen.localCheckpoint(eager=True)]
        tick0("setup_seen_ckpt")
        seeds_seen_small: DataFrame | None = None
        seeds_table_dirs: list[str] = []
        filter_dir = None
        if cfg.disk_seen:
            # the only seen URLs that never reach the catalog's seen_delta
            # tables are the seeds: list seeds stay a tiny broadcastable
            # frame; a DataFrame seed TABLE (never broadcastable) is
            # persisted in the same _ub layout, so the bucket probe reads
            # it like one more delta dir
            if seed_frame is not None:
                seeds_seen_small = seed_frame.select("url")
            # a checkpoint (or seed table) written without disk_seen has
            # FLAT dirs: the bucket probe would read nothing from them and
            # silently re-enqueue seen URLs — refuse instead
            checks = []
            if df_seeded and catalog.has_table("seeds"):
                checks.append(("seeds table", catalog.read_table_meta("seeds")))
                seeds_table_dirs = [catalog.table_dir("seeds")]
            last = catalog.last_round() if resume else None
            if last is not None:
                checks.append(("checkpoint", catalog.read_metrics(last)))
            for what, meta in checks:
                if meta.get("disk_seen_cfg") != [cfg.disk_seen_buckets]:
                    raise ValueError(
                        f"disk_seen resume: {what} was written with disk_seen_cfg="
                        f"{meta.get('disk_seen_cfg')!r}, this run wants "
                        f"{[cfg.disk_seen_buckets]!r} — bucket layouts are "
                        "incompatible; re-crawl or match disk_seen_buckets")
            # the gate reads and rewrites its own prefilter blobs task-side;
            # the driver only tracks which committed round holds them. A
            # checkpoint without blobs in this layout has each bucket's
            # blob rebuilt from seen by the next gate
            if filter_cfg is not None and last is not None and catalog.read_metrics(
                    last).get("seen_filter_cfg") == diskseen.layout_record(filter_cfg):
                filter_dir = catalog.round_table_dir(last, "seen_filters")
        fcols = ["url", "depth", "order"] + (["attempt"] if has_attempt else [])
        # the robots rules folded once per crawl into one row per host
        # (operators/robots.py): each round's gate is a broadcast join
        robots_lists = (host_rule_lists(cfg.robots_rules).localCheckpoint(eager=True)
                        if cfg.robots_rules is not None else None)
        tick0("setup_rest")

        # n_frontier, the frontier's exact row count, stays driver-side:
        # each round's counts give the next one (no count() job per round)
        while round_idx < cfg.max_rounds and n_frontier > 0:
            t0 = time.time()
            tick = _Tick(round_idx)

            # --- dequeue-time depth gate (reference: crawler.go:207-211).
            # Pure BFS keeps one depth per round (= round_idx), so the gate is
            # a driver-side comparison; with politeness deferral (or retry
            # re-enqueues) depths mix and we fall back to a real filter.
            skipped_depth = blocked_robots = n_deferred = 0
            deferred = None
            process = frontier
            depth_filtered = cfg.max_depth >= 0 and (politeness or has_attempt)
            if depth_filtered:
                process = frontier.filter(F.col("depth") <= cfg.max_depth)
            elif 0 <= cfg.max_depth < round_idx:
                skipped_depth, process = n_frontier, None
            if process is not None and (depth_filtered or politeness
                                        or robots_lists is not None):
                # --- ONE materialization before the fetch: the depth-gated
                # rows, each flagged by the politeness schedule (quota
                # overflow re-queues, never drops) and the robots gate
                # (disallowed = skipped, crawler.go:583-600), stored by one
                # eager checkpoint. Its Observation reports the gate counts
                # (zero extra jobs); the deferred rows and the fetch input
                # are both read back from the stored frame, so the window
                # exchanges run once per round.
                pre, pcol = process, None
                if politeness:
                    if cfg.priority_expr is not None:
                        pre = pre.withColumn("_priority", F.expr(cfg.priority_expr))
                        pcol = "_priority"
                    pre = schedule_frontier(
                        pre, cfg.host_quota, cfg.default_quota, cfg.global_cap,
                        priority_col=pcol, flag_col="_sched")
                if robots_lists is not None:
                    pre = robots_gate(pre, robots_lists)
                sched_ok = F.col("_sched") if politeness else F.lit(True)
                allowed_ok = F.col("robots_allowed") if robots_lists is not None else F.lit(True)
                pobs = Observation()
                pre = pre.observe(
                    pobs, F.count(F.lit(1)).alias("n"),
                    F.sum(F.when(~sched_ok, 1).otherwise(0)).alias("deferred"),
                    F.sum(F.when(sched_ok & ~allowed_ok, 1).otherwise(0)).alias("blocked"),
                ).localCheckpoint(eager=True)
                n_kept = int(pobs.get["n"] or 0)
                # n_frontier is exact (the previous round's counts), so the
                # gated rows need no column of their own
                skipped_depth = n_frontier - n_kept
                n_deferred = int(pobs.get["deferred"] or 0)
                blocked_robots = int(pobs.get["blocked"] or 0)
                process = pre.filter(sched_ok & allowed_ok).select(*fcols) if n_kept else None
                if politeness:
                    deferred = pre.filter(~sched_ok).select(*fcols)
            if process is None:
                metrics.append({
                    "round": round_idx, "frontier": n_frontier, "processed": 0,
                    "crawled": 0, "failed": 0, "skipped_depth": skipped_depth,
                    "blocked_robots": 0, "new_discovered": 0, "max_depth": 0,
                    "order_counter": order_counter, "wall_s": round(time.time() - t0, 3),
                    **({"payload_ok": 0} if cfg.verify_payload else {}),
                })
                _report(cfg.progress, metrics[-1])
                break

            # --- fetch = join against the corpus (reference: client.Get ->
            #     crawler.go:331-334 status window; misses stay as failed rows).
            # Eager checkpoint: ONE materialization reused by results, metrics
            # and extraction (and truncates the per-round lineage chain, which
            # otherwise OOMs plan compilation after ~10 rounds).
            fetched = process.join(web, "url", "left")
            if transient:
                # flaky-server model: attempts beyond the row's transient
                # budget succeed (reference: client_test.go retry cases)
                fetched = fetched.withColumn(
                    "status",
                    F.when(F.col("transient_5xx").isNotNull()
                           & (F.col("attempt") > F.col("transient_5xx")),
                           F.lit(200)).otherwise(F.col("status")),
                ).drop("transient_5xx")
            fetched = (
                fetched
                .withColumn("ok", F.coalesce(status_ok_expr(F.col("status")), F.lit(False)))
                .withColumn("status", F.coalesce(F.col("status"), F.lit(0)))
            )
            if dispatch:
                from ..operators.stats import dispatch_content

                fetched = dispatch_content(fetched, cfg.render_modes)
            if cfg.verify_payload:
                from ..operators.multimodal import payload_ok_udf

                fetched = fetched.withColumn(
                    "payload_ok",
                    F.when(F.col("ok"),
                           # int64 phash passes through exactly: arrow_udf
                           # never converts to pandas (the old nullable-
                           # int64 -> float64 corruption was a pandas
                           # artifact; see UDF doc)
                           payload_ok_udf(F.col("bytes"), F.col("fmt"),
                                          F.col("phash")))
                    .otherwise(F.lit(False)),
                ).drop("bytes", "fmt", "phash")
            # --- fold EVERY per-round scalar (status aggregation + retry
            # count) into the fetch-checkpoint job itself: an Observation
            # fires when the eager localCheckpoint materializes, so the
            # round's metrics cost ZERO extra Spark jobs — the fixed-cost
            # residue the r3 efficiency sweep attributed small-corpus
            # scaling loss to. A 5xx row with attempts left re-enqueues
            # (reference retries in-fetch, client.go:63-83; a batch round
            # IS the backoff) — it emits NO result row this round, so the
            # observed status sums count FINAL-outcome rows only.
            can_retry = (
                (F.col("status").between(500, 599) & (F.col("attempt") < retry))
                if has_attempt else F.lit(False)
            )

            def _fin(c):
                return F.when(~can_retry, c)  # final-outcome rows only

            fobs = Observation()
            fetched = fetched.observe(
                fobs,
                F.sum(F.when(can_retry, 1).otherwise(0)).alias("n_retry"),
                F.sum(_fin(F.lit(1))).alias("processed"),
                F.sum(_fin(F.when(F.col("ok"), 1).otherwise(0))).alias("crawled"),
                F.sum(_fin(F.when(~F.col("ok"), 1).otherwise(0))).alias("failed"),
                F.max(_fin(F.col("depth"))).alias("max_depth"),
                *([F.sum(_fin(F.when(F.col("payload_ok"), 1).otherwise(0)))
                   .alias("payload_ok")] if cfg.verify_payload else []),
                *([F.sum(_fin(F.when(F.col("render_mode"), 1).otherwise(0)))
                   .alias("rendered")] if dispatch else []),
            ).localCheckpoint(eager=True)
            om = fobs.get  # complete once the checkpoint job finished
            retry_rows = None
            final = fetched
            n_retry = int(om["n_retry"] or 0)
            if has_attempt:
                retry_rows = fetched.filter(can_retry).select(
                    "url", "depth", "order",
                    (F.col("attempt") + 1).alias("attempt"))
                final = fetched.filter(~can_retry)
            tick("fetch_ckpt")

            # --- outlink extraction on OK pages only (crawler.go:644).
            # The exploded hrefs are materialized once per round: it (a) runs
            # the findall a single time instead of once per canonicalization
            # branch, and (b) keeps the posexplode in its own codegen stage —
            # fused with the canonicalization when-tree the Generate's consume
            # method exceeds Janino's 64 KB limit and every task pays compile-
            # retry + interpreted fallback.
            # Parallelism rides the fetch checkpoint's OWN partitioning
            # (the SMJ against the url-partitioned corpus fixes it at the
            # join width, comfortably >= cores) — the pre-r6 blanket
            # repartition paid a full shuffle of every exploded href PLUS
            # the sort-before-repartition local sort (guide §2.5) per
            # round for parallelism the checkpoint already had. The
            # repartition remains only for the narrow case where the
            # fetch materialization came out under-partitioned (tiny
            # corpora whose join AQE-coalesced below the core count).
            n_extract = cfg.extract_partitions or spark.sparkContext.defaultParallelism
            exploded = (
                explode_hrefs(
                    final.filter(F.col("ok")).select("url", "depth", "order", "caption")
                )
                # drop junk BEFORE the checkpoint: skip-scheme/empty hrefs
                # and the no-href posexplode_outer null rows would be
                # dropped by the UDF branch anyway — filtering here (one
                # JVM-side regex) keeps them out of the checkpoint write
                # and the Arrow lane (~8% of hrefs on the Zipf corpus)
                .filter(F.col("href").isNotNull()
                        & ~should_skip_expr(F.col("href")))
                # materialize the href category here: the two canonicalization
                # branch filters then reference a plain int attribute instead
                # of having the category CASE substituted into each of them
                # (base_col: a dotted-path base routes to the exact UDF)
                .withColumn("_cat", href_category_expr("url"))
            )
            if fetched.rdd.getNumPartitions() < n_extract:
                exploded = exploded.repartition(n_extract)
            # eager checkpoint, NOT exchange-reuse: the two branch
            # consumers would otherwise re-trigger the parent fetch-
            # checkpoint scan and regex findall per consumer — measured
            # 2.6x slower without this materialization (8-core VP crawl
            # 48s -> 125s). The slow-branch row count rides the
            # checkpoint job (Observation — zero extra jobs): when this
            # round has NO category-9 hrefs, canonicalize_links omits
            # the exact-UDF branch entirely — a second full scan of the
            # stored hrefs plus an ArrowEvalPython stage that would
            # yield zero rows (common case: well-formed corpora emit
            # only native-category hrefs)
            eobs = Observation()
            exploded = exploded.observe(
                eobs,
                F.sum(F.when(F.col("_cat") == 9, 1).otherwise(0))
                .alias("n_slow"),
                F.max("pos").alias("max_pos"),
            ).localCheckpoint(eager=True)
            n_slow = int(eobs.get["n_slow"] or 0)
            max_pos = int(eobs.get["max_pos"] or 0)
            tick("explode_ckpt")

            # --- scope vs the normalized seed(s) (crawler.go:233-249) is
            # applied INSIDE canonicalize_links, per branch, with the seed
            # host/dir precomputed as Python literals — see
            # operators/extract.py for the codegen-size rationale.
            seed_scopes = None
            if cfg.same_domain:
                if len(seeds) > 64:
                    raise ValueError("scoped crawls support at most 64 seeds; "
                                     "disable same_domain for open crawls")
                seed_scopes = [
                    ((urlcore.extract_domain(s) or "").lower(),
                     urlcore._dir_path(urlsplit(s).path or "/"))
                    for s in seeds
                ]
            links = canonicalize_links(
                exploded, seed_scopes=seed_scopes,
                scope_prefix=cfg.same_path_prefix,
                slow_branch=n_slow > 0,
            ).select(
                F.col("outlink"),
                F.col("order").alias("parent_order"),
                F.col("pos"),
                (F.col("depth") + 1).alias("depth"),
            )

            # --- first-wins intra-round dedup + anti-join the seen set --------
            new_filters = gate_obs = None  # set by the disk gate
            seen = _union_all(seen_parts)
            cand = links.select(
                F.col("outlink").alias("url"), "parent_order", "pos", "depth")
            # packed-long first-wins when this round's tie-key maxima fit
            # the 38/14/11-bit layout (driver-known exactly: parent_order
            # < order_counter, max pos observed on the explode ckpt,
            # candidate depth <= this round's max final depth + 1) — the
            # generic struct form is the always-correct fallback
            if first_wins_packed_bounds(order_counter - 1, max_pos,
                                        int(om["max_depth"] or 0) + 1):
                _fw = first_wins_packed
            else:
                def _fw(d):
                    return first_wins(d, "url", ["parent_order", "pos"])
            if 0 < order_counter <= cfg.broadcast_seen_max_urls:
                # |seen| == order_counter (every enqueued URL, exactly), so
                # this is an exact driver-side broadcast decision, not an
                # estimate. Broadcasting seen lets the anti-join run map-
                # side BEFORE the dedup shuffle: in a converging crawl most
                # candidate links point at seen URLs and never reach an
                # exchange. Catalyst can't make this call itself — seen is
                # a union of checkpointed RDDs with no size stats.
                cand = cand.join(F.broadcast(seen), "url", "left_anti")
                new = _fw(cand)
            elif cfg.disk_seen:
                # 10^10 exact path: seen stays in its persisted _ub bucket
                # layout and is read task-side — the only exchange ships
                # the candidates + a 4-byte bucket key; with a prefilter
                # the same bucket tasks also probe and extend the blobs
                # (diskseen.py)
                gate = diskseen.disk_seen_anti_join(
                    _fw(cand),
                    seeds_table_dirs + catalog.table_paths("seen_delta"),
                    cfg.disk_seen_buckets, filter_cfg, filter_dir,
                    extra_seen=seeds_seen_small,
                )
                new, new_filters, gate_obs = gate.new, gate.filters, gate.observation
            else:
                # shuffled-HASH anti, not sort-merge: both sides are
                # exchanged either way, but SHJ skips both sorts and
                # builds each partition's seen hash table in parallel
                # (url keys are unique, so build partitions are uniform —
                # no skew risk; r6 ABAB on the bench crawl: late-round
                # walls 6.1-7.1s -> 4.2-4.3s)
                new = _fw(cand).join(seen.hint("shuffle_hash"), "url", "left_anti")

            # --- assign global crawl order (FIFO enqueue order). ONE fused
            # materialization: with_global_order eagerly checkpoints the
            # dedup/anti-join chain in its range-partitioned layout, so the
            # round pays a single job for {dedup, anti-join, order} where
            # the pre-r6 loop paid {dedup+anti checkpoint, stats re-shuffle,
            # window hash-shuffle + sort} (guide §2.4 — removed shuffles
            # measured in OPTIMIZATION_r06.md). The ordering pass's
            # partition counts double as the new-URL count (free).
            prev_counter = order_counter
            new, order_counter = with_global_order(
                new, ["parent_order", "pos"], order_col="order", start=order_counter,
                num_partitions=cfg.frontier_partitions,
            )
            tick("extract_dedup_ckpt")
            n_new = order_counter - prev_counter
            new_frontier = new.select("url", "depth", "order")
            if has_attempt:
                new_frontier = new_frontier.withColumn("attempt", F.lit(1))
                if n_retry:
                    new_frontier = new_frontier.unionByName(retry_rows)

            next_frontier = (new_frontier if deferred is None
                             else new_frontier.unionByName(deferred))
            # every branch reads a stored frame (ordering pass, fetch and
            # pre-fetch checkpoints). With a catalog the frontier is
            # written and re-read, so an eager checkpoint here would be a
            # whole Spark job of pure fixed cost; so it is on the pure-BFS
            # in-memory path, a projection over the checkpointed `new`
            # (rank offsets are driver literals) with one consumer
            if catalog is None and (deferred is not None or n_retry):
                next_frontier = next_frontier.localCheckpoint(eager=True)
            tick("frontier_ckpt")

            results_r = final.select(
                "url", "depth", "order", F.col("status").cast("int"), "ok",
                F.lit(round_idx).alias("round"),
            ).withColumn("n_links", F.lit(None).cast("int")).select(*RESULT_COLUMNS)

            round_wall = time.time() - t0
            m = {
                "round": round_idx,
                "frontier": n_frontier,
                "skipped_depth": skipped_depth,
                "blocked_robots": int(blocked_robots),
                "new_discovered": n_new,
                "order_counter": order_counter,
                "wall_s": round(round_wall, 3),
                **({"retried": n_retry} if has_attempt else {}),
                # deferred rows re-enter the next frontier: the progress
                # ticker needs them for queue_size and must NOT count
                # them processed (ADVICE r3)
                **({"deferred": n_deferred} if politeness else {}),
                # lets resume/maintenance validate the persisted
                # seen_filters blobs before trusting them
                **({"seen_filter_cfg": diskseen.layout_record(filter_cfg)}
                   if new_filters is not None else {}),
                # lets a disk_seen resume validate the persisted bucket
                # layout before trusting it
                **({"disk_seen_cfg": [cfg.disk_seen_buckets]}
                   if cfg.disk_seen else {}),
            }
            m.update({
                "urls_per_sec": round(int(om["processed"] or 0) / max(round_wall, 1e-9), 1),
                "processed": int(om["processed"] or 0),
                "crawled": int(om["crawled"] or 0),
                "failed": int(om["failed"] or 0),
                "max_depth": int(om["max_depth"] or 0),
                **({"payload_ok": int(om["payload_ok"] or 0)} if cfg.verify_payload else {}),
                **({"rendered": int(om["rendered"] or 0)} if dispatch else {}),
            })

            if catalog is not None:
                # per-PARTITION lineage (north_rule): bucket is the same
                # host-hash key the persisted frontier is partitioned by,
                # so each lineage row describes one physical partition's
                # slice of the frontier (host granularity within it)
                lineage = next_frontier.groupBy(
                    F.pmod(F.xxhash64(F.expr("try_parse_url(url, 'HOST')")),
                           F.lit(cfg.frontier_host_buckets)).cast("int")
                    .alias("bucket"),
                    F.expr("try_parse_url(url, 'HOST')").alias("host"),
                ).agg(F.count("*").alias("n"), F.min("order").alias("min_order"),
                      F.max("order").alias("max_order"))
                # bucket the persisted frontier by host-hash UNLESS it is
                # empty — a 0-row partitionBy write leaves no data files
                # and the re-read below could not infer a schema
                bucket_nf = (n_new + n_deferred + n_retry) > 0
                sd = new.select("url")
                pb: dict[str, list[str]] = {}
                if bucket_nf:
                    pb["next_frontier"] = ["_hb"]
                if cfg.disk_seen and n_new > 0:  # 0-row partitionBy writes no files
                    sd = diskseen.with_bucket(sd, cfg.disk_seen_buckets)
                    pb["seen_delta"] = ["_ub"]
                tables = {
                    "results": results_r,
                    "next_frontier": next_frontier.withColumn(
                        "_hb",
                        F.pmod(F.xxhash64(F.expr("try_parse_url(url, 'HOST')")),
                               F.lit(cfg.frontier_host_buckets)).cast("int"))
                    if bucket_nf else next_frontier,
                    "seen_delta": sd,
                    "lineage": lineage,
                }
                if new_filters is not None:
                    tables["seen_filters"] = new_filters
                    pb["seen_filters"] = ["_ub"]
                # the gate's filter counts are observed on its blob write
                catalog.commit_round(round_idx, tables, m,
                                     partition_by=pb or None, observed=gate_obs)
                # the next gate reads the blobs this round just committed;
                # a round without them (broadcast path) leaves none
                filter_dir = (catalog.round_table_dir(round_idx, "seen_filters")
                              if new_filters is not None else None)
                # re-read from storage: snapshot-isolated resume point
                frontier = catalog.read(spark, round_idx, "next_frontier").drop("_hb")
                if keeps_seen_frames():
                    seen_parts.append(
                        catalog.read(spark, round_idx, "seen_delta").select("url"))
                else:
                    seen_parts = []
                if cfg.compact_seen_every > 0 and \
                        (round_idx + 1) % cfg.compact_seen_every == 0:
                    catalog.compact(spark, "seen_delta", vacuum=True)
                    # same cadence for the append-only results/lineage
                    # tables (VERDICT r4 #5): a 10^3-round crawl would
                    # otherwise accrete per-round dirs whose open/footer
                    # cost dominates the final read_union — the classic
                    # small-files problem, bounded here to one snapshot
                    # + <cadence> deltas per table. Resume never reads
                    # these tables (frontier/seen/metrics only), so the
                    # fold cannot perturb resume state.
                    catalog.compact(spark, "results", vacuum=True)
                    catalog.compact(spark, "lineage", vacuum=True)
                    # resume, maintenance and the next gate read only the
                    # last round's prefilter blobs: older ones are dead
                    catalog.drop_superseded("seen_filters")
                    # the old seen_parts entries lazily reference the
                    # just-vacuumed delta dirs — rebuild from the snapshot
                    if seen_parts:
                        seen_parts = [committed_seen()]
                    tick("seen_compact")
            else:
                results_parts.append(results_r)
                seen_parts.append(new.select("url"))
                frontier = next_frontier

            if len(seen_parts) > 64:  # bound the union width on deep crawls
                seen_parts = [_union_all(seen_parts).localCheckpoint(eager=True)]

            n_frontier = n_new + n_deferred + n_retry
            metrics.append(m)
            _report(cfg.progress, m)
            round_idx += 1

        if catalog is not None:
            # interrupted before any round committed (e.g. a max_rounds=0
            # probe of a DataFrame-seeded setup): the seeds are all state
            results = (catalog.read_union(spark, "results")
                       if catalog.committed_rounds() else None)
            seen_df = committed_seen()
        else:
            results = _union_all(results_parts)
            seen_df = _union_all(seen_parts)
        if results is None:
            results = spark.createDataFrame([], RESULT_SCHEMA)

        return CrawlRun(results=results, metrics=metrics, rounds=round_idx, seen=seen_df)

    finally:
        if old_excluded:
            spark.conf.set("spark.sql.optimizer.excludedRules", old_excluded)
        else:
            spark.conf.unset("spark.sql.optimizer.excludedRules")
