"""spark-submit entry point — the CLI twin of the reference binary.

    spark-submit --py-files urlmap_spark.zip -m urlmap_spark.cli \\
        --corpus /path/to/corpus.parquet --depth 2 \\
        --output-format text --output out/ https://seed.test/

Mirrors the reference's flag surface where it translates to batch
execution (reference: cmd/urlmap/main.go:82-113): --depth (-1 default),
--output-format text|json|csv|xml, --respect-robots, --rate-limit
(per-round cap), --verbose; crawl scoping matches the reference's
hard-coded same-domain+path-prefix defaults with flags to relax them.
Batch-only flags: --corpus (the web-as-a-table), --checkpoint/--resume,
--seeds-file (seed list), --verify-payload, --quota.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from . import __version__


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="urlmap-spark", description=__doc__)
    # reference: cmd/urlmap/main.go:72-80 (version command)
    p.add_argument("--version", action="version",
                   version=f"urlmap-spark version {__version__}")
    p.add_argument("seed", nargs="*", help="start URL(s)")
    p.add_argument("--corpus", required=True, help="parquet path of the corpus table")
    p.add_argument("--seeds-file", help="file with one seed URL per line")
    p.add_argument("--depth", type=int, default=-1, help="max depth (-1 = unlimited)")
    p.add_argument("--no-same-domain", action="store_true")
    p.add_argument("--no-path-prefix", action="store_true")
    p.add_argument("--respect-robots", action="store_true")
    p.add_argument("--robots-lines", help="parquet path of (host, lineno, line) robots lines")
    p.add_argument("--seed-from-sitemaps", action="store_true",
                   help="fold sitemap URLs discovered in robots.txt "
                        "(Sitemap: lines, reference robots.go:175-177 — "
                        "parsed but unconsumed there) into the round-0 "
                        "seed list, in (host, lineno) order after the CLI "
                        "seeds; requires --respect-robots --robots-lines")
    p.add_argument("--user-agent", default="urlmap/1.0")
    p.add_argument("--concurrent", "-c", type=int, default=0,
                   help="parallelism hint (reference -c worker count): sets "
                        "the frontier/extraction partition fan-out; 0 = "
                        "spark default parallelism")
    p.add_argument("--progress", action="store_true",
                   help="per-round progress lines plus the live status "
                        "ticker + final stats block (reference -p, "
                        "progress.go:272-331); ticker interval via "
                        "URLMAP_PROGRESS_INTERVAL (default 1s)")
    p.add_argument("--rate-limit", type=int, default=0,
                   help="global per-round fetch cap (0 = unlimited)")
    p.add_argument("--retry-attempts", type=int, default=1,
                   help="total fetch attempts per URL; 5xx re-enqueues "
                        "until the cap, 4xx never retries (reference "
                        "client.go RetryCount=3 against LIVE servers; a "
                        "static corpus re-serves the same row, so the "
                        "default here is 1 — pass 3 when the corpus "
                        "models transience via a transient_5xx column)")
    p.add_argument("--quota", type=int, default=0, help="per-host per-round cap (0 = unlimited)")
    p.add_argument("--priority", default=None, metavar="SQL_EXPR",
                   help="frontier priority expression over (url, depth, "
                        "order): budget winners (per --quota / --rate-limit) "
                        "are picked highest-priority-first, FIFO order "
                        "breaking ties (a null priority ranks lowest) — "
                        "the frontier-as-priority-queue "
                        "mode; requires --quota or --rate-limit")
    p.add_argument("--round-budget", type=float, default=30.0,
                   help="seconds of wall-clock a round models; robots "
                        "Crawl-delay d becomes floor(budget/d) fetches/round "
                        "(reference sleeps per fetch, crawler.go:603-606)")
    # JS rendering (reference: cmd/urlmap/main.go:93-106; batch semantics:
    # the corpus carries a rendered_caption column = what a browser pool
    # would have produced; these flags decide WHICH hosts consume it)
    p.add_argument("--js-render", action="store_true",
                   help="render every host with JS (reference --js-render)")
    p.add_argument("--js-auto", action="store_true",
                   help="automatic SPA detection, static scoring only "
                        "(reference --js-auto)")
    p.add_argument("--js-auto-strict", action="store_true",
                   help="automatic detection + dynamic verification against "
                        "the rendered content (reference --js-auto-strict)")
    p.add_argument("--js-hosts",
                   help="comma-separated hosts to force-render (overrides "
                        "auto detection for those hosts)")
    p.add_argument("--js-threshold", type=float, default=0.5,
                   help="SPA detection threshold 0.0-1.0 (reference --js-threshold)")
    p.add_argument("--seen-filter", choices=["bloom", "cuckoo"],
                   default=None,
                   help="ENABLE the partitioned prefilter inside the disk seen "
                        "probe (north_rule: 'bloom/cuckoo URL-seen'); requires "
                        "--disk-seen. cuckoo adds O(1) deletion for seen-set "
                        "retirement. Off by default: under --broadcast-seen-max "
                        "the broadcast path answers the probe exactly anyway")
    p.add_argument("--broadcast-seen-max", type=int, default=None,
                   help="while |seen| is under this, the seen anti-join "
                        "broadcasts (map-side, pre-dedup); 0 disables — "
                        "past it the shuffled/disk paths take over "
                        "(default: CrawlConfig.broadcast_seen_max_urls)")
    p.add_argument("--disk-seen", action="store_true",
                   help="exact seen anti-join probes the checkpoint's bucketed "
                        "on-disk seen layout task-side (shuffle O(candidates), "
                        "independent of |seen| — the 10^10 path); requires "
                        "--checkpoint")
    p.add_argument("--disk-seen-buckets", type=int, default=64,
                   help="url-hash bucket count of the persisted seen layout "
                        "(|seen|/B must fit one task)")
    p.add_argument("--compact-seen-every", type=int, default=0,
                   help="fold the checkpoint's seen deltas into one snapshot "
                        "every N rounds (inline rewrite_data_files analog; "
                        "caps probe-side file opens on long crawls; 0 = off)")
    p.add_argument("--checkpoint", help="checkpoint directory (enables resume)")
    p.add_argument("--resume", action="store_true")
    p.add_argument("--verify-payload", action="store_true",
                   help="decode fetched image bytes and verify phash per row")
    p.add_argument("--output", help="output path (default: print to stdout)")
    p.add_argument("--output-format", default="text",
                   choices=["text", "json", "csv", "xml"])
    p.add_argument("--master", default=None)
    p.add_argument("--verbose", action="store_true",
                   help="INFO-level Spark logs + a per-round progress line "
                        "(reference progress.go live ticker, batch analog)")
    p.add_argument("--log-format", choices=["text", "json"], default="text",
                   help="progress/summary line format (reference logging "
                        "config, config/logging.go); json always includes "
                        "per-round progress events")
    return p


def main(argv: list[str] | None = None, _spark=None) -> int:
    """_spark: inject an existing SparkSession (tests); it is then not
    stopped on exit."""
    args = build_parser().parse_args(argv)
    seeds = list(args.seed)
    if args.seeds_file:
        with open(args.seeds_file) as f:
            seeds += [line.strip() for line in f if line.strip()]
    if not seeds:
        print("error: at least one seed URL is required", file=sys.stderr)
        return 2

    from .operators.output import unique_sorted_urls, write_output
    from .operators.robots import parse_robots
    from .plans.crawl import CrawlConfig, crawl
    from .session import get_spark

    spark = _spark or get_spark(master=args.master, app_name="urlmap_spark_cli")
    if args.verbose:
        spark.sparkContext.setLogLevel("INFO")

    corpus = spark.read.parquet(args.corpus)
    robots_rules = None
    host_quota = None
    sitemap_count = 0
    if args.respect_robots and args.robots_lines:
        from .operators.politeness import quota_from_delays

        robots_rules, delays, sitemaps = parse_robots(
            spark.read.parquet(args.robots_lines), user_agent=args.user_agent)
        # Crawl-delay -> per-host per-round quota (the batch analog of
        # the reference's per-fetch sleep, crawler.go:603-606)
        host_quota = quota_from_delays(delays, args.round_budget)
        if args.seed_from_sitemaps:
            # robots Sitemap: lines are O(hosts) — a bounded driver
            # collect by construction, like the seed list itself
            sm_rows = sitemaps.orderBy("host", "lineno").collect()
            sitemap_count = len(sm_rows)
            from .functions import urlcore

            # normalize exactly like crawl() normalizes the seed list,
            # and skip URLs already seeded (ADVICE r4: a raw sitemap URL
            # equal to a CLI seed — or a normalization variant of one —
            # must not enter the list twice; dedup here keeps the seed
            # count display and the 64-seed scope limit honest)
            seeded = {urlcore.normalize_url(s) for s in seeds
                      if urlcore.is_valid_url(s)}
            for r in sm_rows:
                u = (r["sitemap"] or "").strip()
                if not urlcore.is_valid_url(u):
                    print(f"warning: skipping invalid sitemap URL: {u}",
                          file=sys.stderr)
                    continue
                n = urlcore.normalize_url(u)
                if n not in seeded:
                    seeded.add(n)
                    seeds.append(n)
        else:
            sitemap_count = sitemaps.count()
    elif args.seed_from_sitemaps:
        print("error: --seed-from-sitemaps requires --respect-robots "
              "and --robots-lines", file=sys.stderr)
        return 2

    render_modes_df = None
    js_on = args.js_render or args.js_auto or args.js_auto_strict or args.js_hosts
    if js_on:
        from pyspark.sql import functions as F

        if "rendered_caption" not in corpus.columns:
            # no rendered content in the corpus: every render falls back
            # to HTTP (reference GetWithFallback) — a no-op dispatch
            print("warning: corpus has no rendered_caption column; "
                  "JS rendering falls back to static content", file=sys.stderr)
        from .operators.stats import render_modes as _render_modes

        hosts = corpus.select(
            F.expr("try_parse_url(url, 'HOST')").alias("host")).distinct()
        if args.js_render:
            modes = hosts.select("host", F.lit(True).alias("use_js"))
        elif args.js_auto or args.js_auto_strict:
            modes = _render_modes(
                corpus,
                rendered_col="rendered_caption" if args.js_auto_strict else None,
                threshold=args.js_threshold)
        else:
            modes = hosts.select("host", F.lit(False).alias("use_js"))
        if args.js_hosts:
            manual = spark.createDataFrame(
                [(h.strip(), True) for h in args.js_hosts.split(",") if h.strip()],
                "host string, use_js boolean")
            modes = modes.join(manual.select("host"), "host", "left_anti") \
                         .unionByName(manual)
        render_modes_df = modes

    # live status ticker (reference progress.go:272-298): a daemon
    # thread repaints a \r line between per-round prints; text mode
    # only (json mode's round events ARE the machine-readable ticker)
    reporter = None
    if args.progress and args.log_format == "text":
        from .progress import LiveProgressReporter

        reporter = LiveProgressReporter(
            spark,
            update_interval=float(os.environ.get(
                "URLMAP_PROGRESS_INTERVAL", "1.0")))
        reporter.start()

    def _progress(m: dict) -> None:
        if reporter is not None:
            reporter.on_round(m)
        if args.log_format == "json":
            print(json.dumps({"event": "round", **m}), file=sys.stderr)
        else:
            extras = "".join(
                f" {k}={m[k]}" for k in ("blocked_robots", "retried", "rendered",
                                         "filter_maybe", "filter_new")
                if m.get(k))
            # with the live ticker active, clear its half-painted \r
            # status line first — otherwise the round line is appended
            # onto it and the output garbles (ADVICE r3)
            clear = "\r\x1b[K" if reporter is not None else ""
            print(f"{clear}round {m['round']}: frontier={m['frontier']} "
                  f"new={m['new_discovered']}{extras} wall={m['wall_s']}s",
                  file=sys.stderr)

    cfg = CrawlConfig(
        max_depth=args.depth,
        same_domain=not args.no_same_domain,
        same_path_prefix=not args.no_path_prefix,
        user_agent=args.user_agent,
        max_attempts=args.retry_attempts,
        robots_rules=robots_rules,
        render_modes=render_modes_df,
        host_quota=host_quota,
        default_quota=args.quota or None,
        global_cap=args.rate_limit or None,
        priority_expr=args.priority,
        bloom_seen=args.seen_filter is not None,
        seen_filter=args.seen_filter or "bloom",
        **({"broadcast_seen_max_urls": args.broadcast_seen_max}
           if args.broadcast_seen_max is not None else {}),
        disk_seen=args.disk_seen,
        disk_seen_buckets=args.disk_seen_buckets,
        compact_seen_every=args.compact_seen_every,
        checkpoint_dir=args.checkpoint,
        verify_payload=args.verify_payload,
        frontier_partitions=args.concurrent or None,
        extract_partitions=args.concurrent or None,
        progress=_progress if (args.progress or args.verbose
                               or args.log_format == "json") else None,
    )
    # structured crawl-start event (reference LogCrawlStart,
    # config/logging.go:42-49): always in json mode; at INFO (= only
    # under --verbose) in text mode, slog-style key=value
    start_fields = {
        "url": seeds[0] if len(seeds) == 1 else seeds,
        "max_depth": args.depth,
        "concurrent": args.concurrent or 0,
        "user_agent": args.user_agent,
    }
    if args.log_format == "json":
        print(json.dumps({"event": "start", **start_fields}), file=sys.stderr)
    elif args.verbose:
        print("Starting crawl "
              + " ".join(f"{k}={v}" for k, v in start_fields.items()),
              file=sys.stderr)
    try:
        run = crawl(spark, corpus, seeds if len(seeds) > 1 else seeds[0], cfg,
                    resume=args.resume)
        if reporter is not None:
            # swap the in-flight estimates for the folded per-round
            # truth, then print the reference's final stats block
            # (progress.go:301-331) — before the JSON summary so that
            # stays the last line
            reporter.finalize(run.metrics)
            reporter.stop()
    except ValueError as e:
        # invalid seed etc.: a clean diagnostic + nonzero exit, like the
        # reference binary's cobra error path — never a traceback
        # (json mode: a structured error event, reference LogCrawlError /
        # slog.Error, config/logging.go:61-67)
        if args.log_format == "json":
            print(json.dumps({"event": "error", "error": str(e)}),
                  file=sys.stderr)
        else:
            print(f"error: {e}", file=sys.stderr)
        if _spark is None:
            spark.stop()
        return 2
    finally:
        # ANY exit — clean, ValueError, or an unexpected Py4J error
        # propagating — must tear the daemon ticker down, or it keeps
        # repainting over the traceback (ADVICE r3); cancel() after a
        # successful stop() is a no-op
        if reporter is not None:
            reporter.cancel()
    urls = unique_sorted_urls(run.results)

    if args.output:
        write_output(urls, args.output, args.output_format)
    elif args.output_format == "xml":
        # stdout is inherently driver-side, but STREAM the enveloped frame
        # (toLocalIterator) so the driver never holds the whole document
        from .operators.output import xml_lines

        for r in xml_lines(urls).toLocalIterator():
            print(r["value"])
    elif args.output_format == "json":
        from .operators.output import json_lines

        for r in json_lines(urls).toLocalIterator():
            print(r["value"])
    else:
        for r in urls.toLocalIterator():
            print(r["url"])

    summary = {
        # reference LogCrawlComplete carries the start URL next to the
        # totals (config/logging.go:70-76)
        "start_url": seeds[0] if len(seeds) == 1 else seeds,
        "rounds": run.rounds,
        "processed": sum(m.get("processed", 0) for m in run.metrics),
        "crawled": sum(m.get("crawled", 0) for m in run.metrics),
        "failed": sum(m.get("failed", 0) for m in run.metrics),
        "skipped": sum(m.get("skipped_depth", 0) + m.get("blocked_robots", 0)
                       for m in run.metrics),
        **({"rendered": sum(m.get("rendered", 0) for m in run.metrics)}
           if render_modes_df is not None else {}),
        **({"sitemaps": sitemap_count} if sitemap_count else {}),
    }
    if args.log_format == "json":
        summary = {"event": "summary", **summary}
    print(json.dumps(summary), file=sys.stderr)
    if _spark is None:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
