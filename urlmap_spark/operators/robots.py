"""robots.txt as DataFrames: parse raw lines, gate the frontier.

Parsing mirrors the reference's scanner loop (reference:
internal/robots/robots.go:138-178): trim, drop comments/blank lines,
split on the first ':', track the current User-agent group, keep
Allow/Disallow/Crawl-delay rules whose UA group matches ours.
The group-tracking (order-dependent in Go) becomes a last-non-null
window over line numbers — fully distributed.

Gating mirrors IsAllowed (robots.go:49-78 + checkRules :208-225 +
pathMatches :228-252): prefix match (with trailing-* wildcard), LONGEST
matching rule path wins — with the FIRST rule in file order winning a
length tie (checkRules uses a strict `>` while scanning in file order,
robots.go:214-221) — default allow, fail-open for hosts with no rules.
The rules are folded ONCE into one row per host holding its rules in
precedence order (``host_rule_lists``); the gate broadcast-joins those
lists on host and keeps the first rule whose stem prefixes the path
(a higher-order ``filter``), so it adds no exchange to the frontier's
plan and preserves every frontier row and column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def parse_robots(
    raw_lines: DataFrame, user_agent: str = "urlmap/1.0"
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """raw_lines(host, lineno, line) -> (rules, delays, sitemaps).

    rules(host, user_agent, directive['Allow'|'Disallow'], path, lineno)
    delays(host, crawl_delay_s double) — the LAST matching Crawl-delay
    line wins, as the reference assigns robotsData.crawlDelay per line
    (robots.go:169-174); unparseable values are skipped like a failed
    time.ParseDuration.
    sitemaps(host, sitemap, lineno) — collected regardless of the
    current UA group (robots.go:175-177).
    """
    t = raw_lines.withColumn("line", F.trim("line"))
    t = t.filter((F.col("line") != "") & ~F.col("line").startswith("#"))
    t = t.filter(F.col("line").contains(":"))
    t = t.withColumn("directive", F.trim(F.lower(F.substring_index("line", ":", 1))))
    t = t.withColumn(
        "value",
        F.trim(F.expr("substring(line, instr(line, ':') + 1, 1 << 30)")),
    )
    # sitemaps are group-independent (robots.go:175-177) — grab them
    # before the UA-group bookkeeping
    sitemaps = (
        t.filter(F.col("directive") == "sitemap")
        .select("host", F.col("value").alias("sitemap"), "lineno")
    )
    # current user-agent group = last UA line at or before this line
    w = Window.partitionBy("host").orderBy("lineno").rowsBetween(Window.unboundedPreceding, 0)
    t = t.withColumn(
        "ua_group",
        F.last(F.when(F.col("directive") == "user-agent", F.col("value")), ignorenulls=True).over(w),
    ).filter(F.col("ua_group").isNotNull())
    # UA match: '*' or our UA contains the pattern (case-insensitive);
    # an EMPTY pattern never matches (reference: robots.go:189-196 —
    # matchesUserAgent returns false for "" and rules are only kept when
    # currentUserAgent != "")
    ua_ok = (F.col("ua_group") != "") & (
        (F.col("ua_group") == "*")
        | F.lit(user_agent.lower()).contains(F.lower(F.col("ua_group")))
    )
    rules = (
        t.filter(F.col("directive").isin("allow", "disallow") & ua_ok)
        .select(
            "host",
            F.col("ua_group").alias("user_agent"),
            F.initcap("directive").alias("directive"),
            F.col("value").alias("path"),
            "lineno",
        )
    )
    delays = (
        t.filter((F.col("directive") == "crawl-delay") & ua_ok)
        .withColumn("_d", F.col("value").try_cast("double"))
        .filter(F.col("_d").isNotNull())
        .groupBy("host")
        .agg(F.max_by("_d", "lineno").alias("crawl_delay_s"))
    )
    return rules, delays, sitemaps


def host_rule_lists(rules: DataFrame) -> DataFrame:
    """rules(host, directive, path[, lineno]) -> (_host, _rules): one row
    per host, its rules as array<struct<l, nl, a, stem>> sorted in
    precedence order — pattern length (a trailing ``*`` counts)
    descending, then ``lineno`` ascending, then Allow before Disallow —
    so the first rule that matches a path is the one IsAllowed keeps.
    Empty patterns never match (robots.go:229) and are dropped here.
    Rules without a ``lineno`` column (ad-hoc rule tables) tie-break as
    all-equal, so a length tie goes to Allow. Build it once and pass it
    to ``robots_gate`` in place of the rules to skip the per-call fold.
    """
    lineno = F.col("lineno") if "lineno" in rules.columns else F.lit(0)
    pattern = F.col("path")
    wildcard = pattern.endswith("*")
    return (
        rules.filter(pattern.isNotNull() & (pattern != ""))
        .groupBy(F.col("host").alias("_host"))
        .agg(F.sort_array(F.collect_list(F.struct(
            F.length(pattern).alias("l"),
            (-lineno).alias("nl"),
            (F.col("directive") == "Allow").alias("a"),
            F.when(wildcard, F.expr("substring(path, 1, length(path) - 1)"))
            .otherwise(pattern).alias("stem"),
        )), asc=False).alias("_rules"))
    )


def robots_gate(frontier: DataFrame, rules: DataFrame) -> DataFrame:
    """Adds ``robots_allowed`` to the frontier (host/path derived from url).

    rules: the parsed rule table, or its ``host_rule_lists`` fold. The
    lists broadcast-join on host; the first rule in precedence order
    whose stem prefixes the path decides (longest pattern, then the
    first in file order, module doc). Hosts with no matching rule (or
    no rules at all) default to allowed (fail-open, reference:
    robots.go:69-72). No exchange: every frontier row and column is
    kept as it is.
    """
    lists = rules if "_rules" in rules.columns else host_rule_lists(rules)
    path = F.coalesce(F.expr("try_parse_url(url, 'PATH')"), F.lit("/"))
    first = F.get(F.filter("_rules", lambda r: path.startswith(r["stem"])), 0)
    # two DataFrame calls: the crawl builds this plan every round
    return frontier.join(
        F.broadcast(lists), F.expr("try_parse_url(url, 'HOST')") == lists["_host"], "left"
    ).select(*frontier.columns, F.coalesce(first["a"], F.lit(True)).alias("robots_allowed"))
