"""robots.txt parsing + gating goldens, ported from the reference
(reference: internal/robots/robots_test.go)."""

import pandas as pd
from pyspark.sql import functions as F

from urlmap_spark.operators.robots import host_rule_lists, parse_robots, robots_gate

ROBOTS_TXT = """User-agent: *
Disallow: /admin/
Disallow: /private/
Allow: /admin/public/

# a comment line
User-agent: TestBot
Disallow: /special/
Crawl-delay: 2

Sitemap: https://h.test/sitemap.xml
"""


def _lines_df(spark, host: str, text: str):
    rows = [(host, i, line) for i, line in enumerate(text.splitlines())]
    return spark.createDataFrame(rows, "host string, lineno int, line string")


def test_parse_robots_ua_groups(spark):
    """UA matching: '*' applies; substring match ('TestBot' in our UA);
    non-matching groups dropped (reference: robots.go:189-205)."""
    raw = _lines_df(spark, "h.test", ROBOTS_TXT)
    rules, delays, sitemaps = parse_robots(raw, user_agent="TestBot/1.0")
    got = {(r["user_agent"], r["directive"], r["path"]) for r in rules.collect()}
    assert got == {
        ("*", "Disallow", "/admin/"),
        ("*", "Disallow", "/private/"),
        ("*", "Allow", "/admin/public/"),
        ("TestBot", "Disallow", "/special/"),
    }
    d = delays.collect()
    assert len(d) == 1 and d[0]["crawl_delay_s"] == 2.0
    # Sitemap lines are collected regardless of UA group (robots.go:175-177)
    assert [r["sitemap"] for r in sitemaps.collect()] == ["https://h.test/sitemap.xml"]

    # a UA that matches only the wildcard group
    rules2, delays2, _ = parse_robots(raw, user_agent="OtherBot/2.0")
    got2 = {(r["directive"], r["path"]) for r in rules2.collect()}
    assert got2 == {("Disallow", "/admin/"), ("Disallow", "/private/"),
                    ("Allow", "/admin/public/")}
    assert delays2.count() == 0


def test_parse_robots_empty_ua_never_matches(spark):
    """Rules under an empty 'User-agent:' group are dropped — the
    reference requires currentUserAgent != '' and matchesUserAgent('')
    is false (robots.go:162, 189-196)."""
    txt = "User-agent:\nDisallow: /hidden\nUser-agent: *\nDisallow: /a\n"
    rules, _, _ = parse_robots(_lines_df(spark, "h.test", txt), user_agent="AnyBot")
    assert {(r["user_agent"], r["path"]) for r in rules.collect()} == {("*", "/a")}


def test_parse_robots_last_crawl_delay_wins(spark):
    """Each matching Crawl-delay line overwrites robotsData.crawlDelay
    (robots.go:169-174) — the LAST one wins, and unparseable values are
    skipped like a failed time.ParseDuration."""
    txt = "User-agent: *\nCrawl-delay: 9\nCrawl-delay: oops\nCrawl-delay: 3\n"
    _, delays, _ = parse_robots(_lines_df(spark, "h.test", txt), user_agent="AnyBot")
    d = delays.collect()
    assert len(d) == 1 and d[0]["crawl_delay_s"] == 3.0


def test_gate_length_tie_first_rule_in_file_order_wins(spark):
    """checkRules keeps a rule only when STRICTLY longer (robots.go:
    214-221), so on a length tie the first rule in file order wins:
    'Disallow: /a' before 'Allow: /a' blocks."""
    rules = spark.createDataFrame(
        [("h.test", "*", "Disallow", "/a", 1), ("h.test", "*", "Allow", "/a", 2),
         ("g.test", "*", "Allow", "/a", 1), ("g.test", "*", "Disallow", "/a", 2)],
        "host string, user_agent string, directive string, path string, lineno int")
    frontier = spark.createDataFrame(
        [("https://h.test/a", 0, 0), ("https://g.test/a", 0, 1)],
        "url string, depth int, `order` long")
    out = {r["url"]: r["robots_allowed"] for r in robots_gate(frontier, rules).collect()}
    assert out == {"https://h.test/a": False, "https://g.test/a": True}


def test_gate_wildcard_length_tie(spark):
    """A trailing '*' counts toward the pattern length (robots.go:214
    compares len(rule.path)): 'Disallow: /a*' and 'Allow: /ab' tie at 3,
    so the earlier line wins whichever directive it carries; the
    longer '/ab*' (4) beats both."""
    frontier = spark.createDataFrame(
        [("https://h.test/abc", 0, 0), ("https://g.test/abc", 0, 1),
         ("https://k.test/abc", 0, 2), ("https://h.test/ax", 0, 3)],
        "url string, depth int, `order` long")
    rules = spark.createDataFrame(
        [("h.test", "*", "Disallow", "/a*", 1), ("h.test", "*", "Allow", "/ab", 2),
         ("g.test", "*", "Allow", "/ab", 1), ("g.test", "*", "Disallow", "/a*", 2),
         ("k.test", "*", "Allow", "/ab", 1), ("k.test", "*", "Disallow", "/a*", 2),
         ("k.test", "*", "Disallow", "/ab*", 3)],
        "host string, user_agent string, directive string, path string, lineno int")
    want = {"https://h.test/abc": False, "https://g.test/abc": True,
            "https://k.test/abc": False, "https://h.test/ax": False}
    for r in (rules, host_rule_lists(rules)):
        assert {x["url"]: x["robots_allowed"]
                for x in robots_gate(frontier, r).collect()} == want


def test_gate_without_lineno_tie_allows(spark):
    """Rules without a lineno column (ad-hoc tables) rank a length tie
    as all-equal, and Allow then wins — deterministically, whatever the
    row order of the rule table."""
    frontier = spark.createDataFrame(
        [("https://h.test/a", 0, 0), ("https://h.test/b", 0, 1)],
        "url string, depth int, `order` long")
    for rows in ([("h.test", "*", "Disallow", "/a"), ("h.test", "*", "Allow", "/a")],
                 [("h.test", "*", "Allow", "/a"), ("h.test", "*", "Disallow", "/a")]):
        rules = spark.createDataFrame(
            rows + [("h.test", "*", "Disallow", "/b")],
            "host string, user_agent string, directive string, path string")
        got = {x["url"]: x["robots_allowed"] for x in robots_gate(frontier, rules).collect()}
        assert got == {"https://h.test/a": True, "https://h.test/b": False}


def test_gate_keeps_rows_and_columns_without_exchange(spark):
    """The gate is a broadcast join plus a projection: every frontier row
    (duplicates included) and column comes out, and the plan holds no
    shuffle exchange."""
    frontier = spark.createDataFrame(
        [("https://h.test/a", 0, 0, "x"), ("https://h.test/a", 0, 0, "x"),
         ("https://u.test/a", 1, 1, None)],
        "url string, depth int, `order` long, extra string")
    rules = spark.createDataFrame(
        [("h.test", "*", "Disallow", "/a", 1)],
        "host string, user_agent string, directive string, path string, lineno int")
    gated = robots_gate(frontier, host_rule_lists(rules).localCheckpoint(eager=True))
    assert gated.columns == frontier.columns + ["robots_allowed"]
    assert sorted(tuple(r) for r in gated.collect()) == [
        ("https://h.test/a", 0, 0, "x", False), ("https://h.test/a", 0, 0, "x", False),
        ("https://u.test/a", 1, 1, None, True)]
    plan = gated._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "hashpartitioning" not in plan


def test_gate_longest_match_and_wildcards(spark):
    """checkRules golden (reference: robots_test.go:80-108): longest
    matching rule wins, default allow, '*'-suffix wildcard."""
    rules = spark.createDataFrame(
        [("h.test", "TestBot", "Disallow", "/admin"),
         ("h.test", "TestBot", "Allow", "/admin/public"),
         ("h.test", "TestBot", "Disallow", "/private/*")],
        "host string, user_agent string, directive string, path string")
    cases = {
        "/": True, "/admin": False, "/admin/public": True,
        "/admin/secret": False, "/private/data": False, "/public": True,
    }
    frontier = spark.createDataFrame(
        [(f"https://h.test{p}", 0, i) for i, p in enumerate(cases)],
        "url string, depth int, `order` long")
    out = {r["url"].replace("https://h.test", "") or "/": r["robots_allowed"]
           for r in robots_gate(frontier, rules).collect()}
    assert out == cases


def test_gate_path_matches_goldens(spark):
    """pathMatches goldens (reference: robots_test.go:51-78) expressed
    through the gate with one Disallow rule per pattern."""
    cases = [  # (pattern, url_path, matches)
        ("/admin", "/admin", True), ("/admin", "/admin/", True),
        ("/admin", "/admin/page", True), ("/admin/", "/admin/page", True),
        ("/admin/*", "/admin/page", True), ("/admin/*", "/admin/", True),
        ("/admin/*", "/other", False), ("/", "/", True), ("/", "/any", True),
    ]
    for i, (pattern, path, matches) in enumerate(cases):
        rules = spark.createDataFrame(
            [(f"h{i}.test", "*", "Disallow", pattern)],
            "host string, user_agent string, directive string, path string")
        frontier = spark.createDataFrame(
            [(f"https://h{i}.test{path}", 0, 0)], "url string, depth int, `order` long")
        allowed = robots_gate(frontier, rules).collect()[0]["robots_allowed"]
        # matched Disallow => NOT allowed
        assert allowed == (not matches), (pattern, path)


def test_gate_fail_open_for_unknown_host(spark):
    """Hosts with no robots rules default to allowed
    (reference: robots.go:69-72 fail-open)."""
    rules = spark.createDataFrame(
        [("other.test", "*", "Disallow", "/")],
        "host string, user_agent string, directive string, path string")
    frontier = spark.createDataFrame(
        [("https://unknown.test/x", 0, 0)], "url string, depth int, `order` long")
    assert robots_gate(frontier, rules).collect()[0]["robots_allowed"]


def test_crawl_with_robots_gate(spark):
    """End-to-end: disallowed URLs are skipped, never fetched, and links
    are still discovered from allowed pages (reference: crawler.go:583-600)."""
    from urlmap_spark.plans.crawl import CrawlConfig, crawl
    from urlmap_spark.plans.oracle import oracle_bfs
    from urlmap_spark.sources import corpus as C

    pdf = C.basic_site_pandas()
    rules = spark.createDataFrame(
        [("basic.test", "*", "Disallow", "/page2")],
        "host string, user_agent string, directive string, path string")
    run = crawl(spark, spark.createDataFrame(pdf), "https://basic.test/",
                CrawlConfig(robots_rules=rules))
    urls = {r["url"] for r in run.results.collect()}
    assert "https://basic.test/page2" not in urls
    assert "https://basic.test/page1" in urls
    blocked = sum(m["blocked_robots"] for m in run.metrics)
    assert blocked == 1
    # oracle equivalence with the same disallow set
    eres, _ = oracle_bfs(pdf, "https://basic.test/",
                         robots_disallowed={"https://basic.test/page2"})
    assert urls == {r.url for r in eres}
