"""CLI surface: --version, robots Crawl-delay -> per-host quota wiring,
sitemap surfacing (reference: cmd/urlmap/main.go flags + version cmd,
crawler.go:603-606 crawl-delay application)."""

import json

import pytest

from urlmap_spark import __version__, cli

ROBOTS = [
    ("h.test", 0, "User-agent: *"),
    ("h.test", 1, "Crawl-delay: 10"),
    ("h.test", 2, "Sitemap: https://h.test/sitemap.xml"),
]


def test_version_flag(capsys):
    with pytest.raises(SystemExit) as e:
        cli.main(["--version"])
    assert e.value.code == 0
    assert f"urlmap-spark version {__version__}" in capsys.readouterr().out


def _corpus(spark):
    # root links to 6 children; children link back to root
    rows = [("https://h.test/", " ".join(f'href="/p{i}"' for i in range(6)), 200)]
    rows += [(f"https://h.test/p{i}", 'href="/"', 200) for i in range(6)]
    return spark.createDataFrame(rows, "url string, caption string, status int")


def test_crawl_delay_becomes_quota(spark, tmp_path, capsys):
    """--respect-robots + robots-lines with Crawl-delay: 10 and
    --round-budget 30 -> 3 fetches/round for h.test; overflow defers
    (never drops) so the final URL set is complete."""
    corpus_p = str(tmp_path / "corpus.parquet")
    robots_p = str(tmp_path / "robots.parquet")
    out_p = str(tmp_path / "out")
    _corpus(spark).write.parquet(corpus_p)
    spark.createDataFrame(ROBOTS, "host string, lineno int, line string") \
        .write.parquet(robots_p)

    rc = cli.main([
        "https://h.test/", "--corpus", corpus_p,
        "--respect-robots", "--robots-lines", robots_p,
        "--round-budget", "30", "--no-path-prefix",
        "--output", out_p,
    ], _spark=spark)
    assert rc == 0
    summary = json.loads(capsys.readouterr().err.strip().splitlines()[-1])
    # 7 URLs at <=3/round (seed round processes 1) -> at least 3 rounds
    assert summary["processed"] == 7
    assert summary["rounds"] >= 3
    assert summary["sitemaps"] == 1

    import glob

    txt = open(glob.glob(out_p + "/part-*")[0]).read().splitlines()
    assert txt == sorted(["https://h.test/"] + [f"https://h.test/p{i}" for i in range(6)])


SPA_MARK = '<div id="root"></div> react loading'


def _spa_corpus(spark):
    rows = [
        ("https://spa.test/", SPA_MARK, SPA_MARK + ' href="/a" href="/b"', 200),
        ("https://spa.test/a", SPA_MARK, SPA_MARK + ' href="/b"', 200),
        ("https://spa.test/b", SPA_MARK, None, 200),
        ("https://static.test/", 'plain page href="/x"', None, 200),
        ("https://static.test/x", 'plain page href="/"', None, 200),
    ]
    return spark.createDataFrame(
        rows, "url string, caption string, rendered_caption string, status int")


def test_cli_js_auto_strict_renders_spa_host(spark, tmp_path, capsys):
    """--js-auto-strict: detection (static + dynamic verify) builds the
    render-mode cache from the corpus and the crawl consumes the
    JS-rendered content — outlinks that only exist after rendering
    appear in the output (reference: cli_test.go JS flag suite)."""
    corpus_p = str(tmp_path / "spa_corpus.parquet")
    out_p = str(tmp_path / "out")
    _spa_corpus(spark).write.parquet(corpus_p)

    rc = cli.main([
        "https://spa.test/", "--corpus", corpus_p,
        "--js-auto-strict", "--no-path-prefix", "--output", out_p,
    ], _spark=spark)
    assert rc == 0
    summary = json.loads(capsys.readouterr().err.strip().splitlines()[-1])
    assert summary["rendered"] == 2           # /, /a rendered; /b fell back
    assert summary["crawled"] == 3

    import glob
    txt = open(glob.glob(out_p + "/part-*")[0]).read().splitlines()
    assert txt == ["https://spa.test/", "https://spa.test/a", "https://spa.test/b"]


def test_cli_js_hosts_manual_override(spark, tmp_path, capsys):
    """--js-hosts forces render mode for the listed hosts without any
    detection pass."""
    corpus_p = str(tmp_path / "spa_corpus2.parquet")
    out_p = str(tmp_path / "out2")
    _spa_corpus(spark).write.parquet(corpus_p)

    rc = cli.main([
        "https://spa.test/", "--corpus", corpus_p,
        "--js-hosts", "spa.test", "--no-path-prefix", "--output", out_p,
    ], _spark=spark)
    assert rc == 0
    summary = json.loads(capsys.readouterr().err.strip().splitlines()[-1])
    assert summary["rendered"] == 2

    import glob
    txt = open(glob.glob(out_p + "/part-*")[0]).read().splitlines()
    assert len(txt) == 3


def test_cli_stdout_json_streams_valid_document(spark, tmp_path, capsys):
    """stdout JSON goes through toLocalIterator over the enveloped frame
    (no driver-side whole-document string) and still parses."""
    corpus_p = str(tmp_path / "c.parquet")
    _corpus(spark).write.parquet(corpus_p)
    rc = cli.main([
        "https://h.test/", "--corpus", corpus_p,
        "--no-path-prefix", "--output-format", "json",
    ], _spark=spark)
    assert rc == 0
    out = capsys.readouterr().out
    doc = json.loads(out)
    assert doc["total"] == 7
    assert len(doc["urls"]) == 7


def test_cli_verbose_progress_lines(spark, tmp_path, capsys):
    """--verbose emits one progress line per round (reference live
    ticker, progress.go:272-298 — batch analog is per-round)."""
    corpus_p = str(tmp_path / "pc.parquet")
    _corpus(spark).write.parquet(corpus_p)
    rc = cli.main([
        "https://h.test/", "--corpus", corpus_p,
        "--no-path-prefix", "--output", str(tmp_path / "pout"),
        "--verbose",
    ], _spark=spark)
    assert rc == 0
    err = capsys.readouterr().err.splitlines()
    rounds = [l for l in err if l.startswith("round ")]
    assert len(rounds) >= 2
    assert "frontier=" in rounds[0] and "new=" in rounds[0]


def test_cli_json_log_format(spark, tmp_path, capsys):
    """--log-format json: every stderr event is a JSON object with an
    event tag (reference structured logging, config/logging.go)."""
    corpus_p = str(tmp_path / "jc.parquet")
    _corpus(spark).write.parquet(corpus_p)
    rc = cli.main([
        "https://h.test/", "--corpus", corpus_p,
        "--no-path-prefix", "--output", str(tmp_path / "jout"),
        "--log-format", "json",
    ], _spark=spark)
    assert rc == 0
    events = [json.loads(l) for l in capsys.readouterr().err.splitlines() if l.strip()]
    kinds = [e["event"] for e in events]
    assert kinds.count("round") >= 2
    assert kinds[-1] == "summary"
    assert events[-1]["processed"] == 7
    r0 = next(e for e in events if e["event"] == "round")
    assert {"round", "frontier", "new_discovered", "wall_s"} <= set(r0)


def test_cli_concurrent_and_progress_flags(spark, tmp_path, capsys):
    """--concurrent sets the partition fan-out (reference -c workers);
    --progress emits round lines without --verbose."""
    corpus_p = str(tmp_path / "cc.parquet")
    _corpus(spark).write.parquet(corpus_p)
    rc = cli.main([
        "https://h.test/", "--corpus", corpus_p,
        "--no-path-prefix", "--output", str(tmp_path / "cout"),
        "--concurrent", "4", "--progress",
    ], _spark=spark)
    assert rc == 0
    raw = capsys.readouterr().err
    # with the live ticker active each round line leads with \r\x1b[K to
    # clear the half-painted status line (ADVICE r3); \r splits lines in
    # splitlines(), so match on the raw stream
    assert "\x1b[Kround " in raw
    err = raw.splitlines()
    assert any(l.replace("\x1b[K", "").startswith("round ") for l in err)
    summary = json.loads(err[-1])
    assert summary["processed"] == 7


def test_cli_invalid_seed_clean_error(spark, tmp_path, capsys):
    """An invalid seed exits 2 with a diagnostic, never a traceback
    (reference cobra error path; e2e_test.go error handling)."""
    corpus_p = str(tmp_path / "e.parquet")
    _corpus(spark).write.parquet(corpus_p)
    rc = cli.main(["notaurl", "--corpus", corpus_p], _spark=spark)
    assert rc == 2
    err = capsys.readouterr().err
    assert "error:" in err and "notaurl" in err
    assert "Traceback" not in err


def test_cli_seen_filter_cuckoo_matches_bloom(spark, tmp_path, capsys):
    """--seen-filter cuckoo produces the identical URL set and round
    structure as the default bloom (the prefilter is an execution
    strategy over the exact anti-join, never a semantics change)."""
    corpus_p = str(tmp_path / "corpus.parquet")
    _corpus(spark).write.parquet(corpus_p)

    outs = {}
    for name in ("bloom", "cuckoo"):
        out_p = str(tmp_path / f"out-{name}")
        # --broadcast-seen-max 0 disables the broadcast fast path, so the
        # named prefilter inside the disk seen gate runs every round
        rc = cli.main([
            "https://h.test/", "--corpus", corpus_p, "--no-path-prefix",
            "--seen-filter", name, "--broadcast-seen-max", "0",
            "--disk-seen", "--checkpoint", str(tmp_path / f"ck-{name}"),
            "--output", out_p,
        ], _spark=spark)
        assert rc == 0
        import glob
        outs[name] = open(glob.glob(out_p + "/part-*")[0]).read().splitlines()
    assert outs["cuckoo"] == outs["bloom"]
    assert len(outs["cuckoo"]) == 7


def test_cli_disk_seen(spark, tmp_path):
    """--disk-seen crawls via the disk-backed exact anti-join (with
    --checkpoint) and matches the default path's output; without
    --checkpoint it exits with a clean diagnostic, and so does
    --seen-filter without --disk-seen."""
    corpus_p = str(tmp_path / "corpus.parquet")
    _corpus(spark).write.parquet(corpus_p)
    import glob

    base = str(tmp_path / "out-base")
    rc = cli.main(["https://h.test/", "--corpus", corpus_p,
                   "--no-path-prefix", "--output", base], _spark=spark)
    assert rc == 0
    want = open(glob.glob(base + "/part-*")[0]).read().splitlines()

    out_p = str(tmp_path / "out-disk")
    rc = cli.main([
        "https://h.test/", "--corpus", corpus_p, "--no-path-prefix",
        "--disk-seen", "--disk-seen-buckets", "8",
        "--broadcast-seen-max", "0", "--compact-seen-every", "2",
        "--checkpoint", str(tmp_path / "ck"), "--output", out_p,
    ], _spark=spark)
    assert rc == 0
    assert open(glob.glob(out_p + "/part-*")[0]).read().splitlines() == want

    for bad in (["--disk-seen"],  # disk_seen requires checkpoint
                ["--seen-filter", "cuckoo",  # the prefilter requires disk_seen
                 "--checkpoint", str(tmp_path / "ck-nodisk")]):
        rc = cli.main(["https://h.test/", "--corpus", corpus_p, *bad], _spark=spark)
        assert rc == 2  # clean error path


def test_cli_priority_queue(spark, tmp_path, capsys):
    """--priority turns the frontier into a priority queue through the CLI
    (north_rule): with a --rate-limit budget the final URL set is identical
    to the FIFO run (delays never drop); without any budget the flag is a
    clean rc=2 diagnostic, never a silent no-op."""
    corpus_p = str(tmp_path / "corpus.parquet")
    _corpus(spark).write.parquet(corpus_p)
    import glob

    base = str(tmp_path / "out-fifo")
    rc = cli.main(["https://h.test/", "--corpus", corpus_p,
                   "--no-path-prefix", "--output", base], _spark=spark)
    assert rc == 0
    want = open(glob.glob(base + "/part-*")[0]).read().splitlines()

    out_p = str(tmp_path / "out-prio")
    rc = cli.main([
        "https://h.test/", "--corpus", corpus_p, "--no-path-prefix",
        "--rate-limit", "2", "--priority", "xxhash64(url)",
        "--output", out_p,
    ], _spark=spark)
    assert rc == 0
    capsys.readouterr()
    assert open(glob.glob(out_p + "/part-*")[0]).read().splitlines() == want

    rc = cli.main(["https://h.test/", "--corpus", corpus_p,
                   "--priority", "depth"], _spark=spark)
    assert rc == 2  # priority without a budget -> clean error path
    assert "priority" in capsys.readouterr().err


def test_cli_structured_start_event_and_start_url(spark, tmp_path, capsys):
    """json mode opens with a LogCrawlStart analog and the summary
    carries start_url like LogCrawlComplete (config/logging.go:42-49,
    70-76)."""
    corpus_p = str(tmp_path / "se.parquet")
    _corpus(spark).write.parquet(corpus_p)
    rc = cli.main([
        "https://h.test/", "--corpus", corpus_p,
        "--no-path-prefix", "--output", str(tmp_path / "seout"),
        "--log-format", "json", "--user-agent", "ua-x", "--depth", "3",
    ], _spark=spark)
    assert rc == 0
    events = [json.loads(l) for l in capsys.readouterr().err.splitlines() if l.strip()]
    assert events[0]["event"] == "start"
    assert events[0]["url"] == "https://h.test/"
    assert events[0]["max_depth"] == 3
    assert events[0]["user_agent"] == "ua-x"
    assert events[-1]["event"] == "summary"
    assert events[-1]["start_url"] == "https://h.test/"


def test_cli_structured_error_event(spark, tmp_path, capsys):
    """json mode reports failures as a structured error event
    (LogCrawlError / slog.Error, config/logging.go:61-67)."""
    corpus_p = str(tmp_path / "ee.parquet")
    _corpus(spark).write.parquet(corpus_p)
    rc = cli.main(["notaurl", "--corpus", corpus_p, "--log-format", "json"],
                  _spark=spark)
    assert rc == 2
    err = capsys.readouterr().err
    events = [json.loads(l) for l in err.splitlines() if l.strip()]
    assert events[-1]["event"] == "error"
    assert "notaurl" in events[-1]["error"]
    assert "Traceback" not in err


def test_cli_verbose_text_start_line(spark, tmp_path, capsys):
    """--verbose (INFO level, reference default is WARN) prints the
    slog-style start line in text mode (config/logging.go:15-19,
    42-49)."""
    corpus_p = str(tmp_path / "vs.parquet")
    _corpus(spark).write.parquet(corpus_p)
    rc = cli.main([
        "https://h.test/", "--corpus", corpus_p,
        "--no-path-prefix", "--output", str(tmp_path / "vsout"),
        "--verbose",
    ], _spark=spark)
    assert rc == 0
    err = capsys.readouterr().err
    assert "Starting crawl url=https://h.test/ max_depth=" in err
    # default (non-verbose) text mode stays WARN-quiet: no start line
    rc = cli.main([
        "https://h.test/", "--corpus", corpus_p,
        "--no-path-prefix", "--output", str(tmp_path / "vsout2"),
    ], _spark=spark)
    assert rc == 0
    assert "Starting crawl" not in capsys.readouterr().err


def test_seed_from_sitemaps(spark, tmp_path, capsys):
    """--seed-from-sitemaps: a sitemap-listed URL is crawled at depth 0
    (VERDICT r3 #6 — the reference parses Sitemap: lines but never
    consumes them; this folds them into the round-0 seeds)."""
    corpus_p = str(tmp_path / "corpus.parquet")
    robots_p = str(tmp_path / "robots.parquet")
    out_p = str(tmp_path / "out")
    rows = [("https://h.test/", 'href="/p0"', 200),
            ("https://h.test/p0", "", 200),
            ("https://h.test/sitemap.xml", 'href="/s1"', 200),
            ("https://h.test/s1", "", 200)]
    spark.createDataFrame(rows, "url string, caption string, status int") \
        .write.parquet(corpus_p)
    spark.createDataFrame(ROBOTS, "host string, lineno int, line string") \
        .write.parquet(robots_p)

    # depth 0: ONLY seeds are fetched — the sitemap URL appearing in the
    # output proves it entered the frontier at depth 0
    rc = cli.main([
        "https://h.test/", "--corpus", corpus_p,
        "--respect-robots", "--robots-lines", robots_p,
        "--seed-from-sitemaps", "--depth", "0", "--no-path-prefix",
        "--output", out_p,
    ], _spark=spark)
    assert rc == 0
    import glob

    txt = open(glob.glob(out_p + "/part-*")[0]).read().splitlines()
    assert txt == ["https://h.test/", "https://h.test/sitemap.xml"]


def test_seed_from_sitemaps_requires_robots(spark, capsys, tmp_path):
    corpus_p = str(tmp_path / "corpus.parquet")
    _corpus(spark).write.parquet(corpus_p)
    rc = cli.main(["https://h.test/", "--corpus", corpus_p,
                   "--seed-from-sitemaps"], _spark=spark)
    assert rc == 2
    assert "--seed-from-sitemaps requires" in capsys.readouterr().err
