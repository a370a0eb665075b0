"""Property-based parity fuzz (hypothesis): the hybrid native+UDF
canonicalization must equal the exact-UDF path and the pure-Python
kernel on GENERATED hrefs/bases, not just the curated edge list in
test_extract.py. Derandomized (fixed seed) so CI is deterministic;
shrinking still localizes any counterexample."""

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F  # noqa: F401

from urlmap_spark.functions import urlcore
from urlmap_spark.operators.extract import extract_outlinks

SEG = st.text(alphabet="abz09._~-", min_size=1, max_size=5)

_PREFIX = st.sampled_from([
    "", "/", "./", "../", "//", ".//", "..//", "https://h7.test/",
    "http://h7.test", "HTTPS://Up.Test/", "javascript:", "mailto:",
    "?", "#", " ", ".", "..", "data:,", "a:b/",
])
_SUFFIX = st.sampled_from(["", "/", "//", "?q=1", "#f", "?x#y", " ", "/.", "/..",
                           "?", "?#f", "#"])

_GRAMMAR_HREF = st.builds(
    lambda p, segs, s: p + "/".join(segs) + s,
    _PREFIX, st.lists(SEG, min_size=0, max_size=3), _SUFFIX)

# raw chaos (printable minus the quote that delimits href="..." in captions)
_RAW_HREF = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126,
                           exclude_characters='"'),
    max_size=12)

HREF = st.one_of(_GRAMMAR_HREF, _RAW_HREF)

_BASE_RAW = st.builds(
    lambda host, segs, q: "https://" + host + "/" + "/".join(segs)
    + ("?" + q if q else ""),
    st.sampled_from(["edge.test", "h0.fz.test", "deep.sub.fz.test"]),
    st.lists(SEG, min_size=0, max_size=3),
    st.sampled_from(["", "x=1", "a=b&c=d"]))


def _canonical_base(raw: str) -> str:
    n = urlcore.normalize_url(raw)
    assert n is not None
    return n


@settings(max_examples=12, deadline=None, derandomize=True)
@given(bases=st.lists(_BASE_RAW, min_size=1, max_size=3, unique=True),
       hrefs=st.lists(HREF, min_size=1, max_size=25))
def test_hybrid_equals_udf_equals_python_fuzzed(spark, bases, hrefs):
    # distinct raws can normalize to the same canonical URL ('/a/' and
    # '/a') — dedupe so expected positions count each page once
    bases = sorted({_canonical_base(b) for b in bases})
    rows = [{"url": b, "caption": " ".join(f'href="{h}"' for h in hrefs)}
            for b in bases]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["url", "caption"]))

    hybrid = sorted((r["url"], r["pos"], r["outlink"]) for r in
                    extract_outlinks(df).select("url", "pos", "outlink").collect())
    pure = sorted((r["url"], r["pos"], r["outlink"]) for r in
                  extract_outlinks(df, native_fast_path=False)
                  .select("url", "pos", "outlink").collect())
    assert hybrid == pure, "hybrid native path diverges from exact UDF path"

    exp = []
    for b in set(bases):
        for pos, h in enumerate(hrefs):
            c = urlcore.canonical_outlink(b, h)
            if c is not None:
                exp.append((b, pos, c))
    assert hybrid == sorted(exp), "Spark pipeline diverges from Python kernel"


# canonical-universe URL generator for the normalize/host/dir twins:
# absolute http(s), no percent-escapes — the declared universe of
# normalize_simple_expr / _light_host / _light_dir_path
_HOSTPART = st.text(alphabet="abz09-", min_size=1, max_size=5)
_ABS_URL = st.builds(
    lambda scheme, hs, port, segs, slash, q, frag:
        scheme + ".".join(hs) + port + "/" + "/".join(segs)
        + (slash if segs else "") + q + frag,
    st.sampled_from(["http://", "https://"]),
    st.lists(_HOSTPART, min_size=1, max_size=3),
    st.sampled_from(["", ":8080", ":443"]),
    st.lists(SEG, min_size=0, max_size=3),
    st.sampled_from(["", "/"]),
    st.sampled_from(["", "?q=1", "?a=b&c=d", "?"]),
    st.sampled_from(["", "#f", "#", "#a/b?c"]))


@settings(max_examples=12, deadline=None, derandomize=True)
@given(urls=st.lists(_ABS_URL, min_size=1, max_size=30))
def test_native_normalize_twin_fuzzed(spark, urls):
    """normalize_simple_expr must equal urlcore.normalize_url on every
    generated absolute http(s) URL (its declared universe)."""
    from urlmap_spark.functions.urlkernel import normalize_simple_expr

    df = spark.createDataFrame(pd.DataFrame({"url": urls}))
    got = [r["n"] for r in
           df.select(normalize_simple_expr(F.col("url")).alias("n")).collect()]
    want = [urlcore.normalize_url(u) for u in urls]
    assert got == want


@settings(max_examples=12, deadline=None, derandomize=True)
@given(urls=st.lists(_ABS_URL, min_size=1, max_size=30))
def test_light_host_and_dir_twins_fuzzed(spark, urls):
    """_light_host / _light_dir_path (the scope-filter fast paths) must
    equal the Python kernel's host and directory-path on CANONICAL
    URLs (they consume canonical_outlink/normalize output)."""
    from urllib.parse import urlsplit

    from urlmap_spark.operators.extract import _light_dir_path, _light_host

    canon = sorted({c for c in (urlcore.normalize_url(u) for u in urls) if c})
    df = spark.createDataFrame(pd.DataFrame({"url": canon}))
    rows = df.select(
        _light_host(F.col("url")).alias("h"),
        _light_dir_path(F.col("url")).alias("d"),
        "url").collect()
    for r in rows:
        assert r["h"] == (urlcore.extract_domain(r["url"]) or "").lower(), r["url"]
        assert r["d"] == urlcore._dir_path(urlsplit(r["url"]).path or "/"), r["url"]


@settings(max_examples=10, deadline=None, derandomize=True)
@given(keys=st.lists(st.tuples(st.integers(0, 1 << 40), st.integers(0, 7)),
                     min_size=1, max_size=300, unique=True),
       parts=st.integers(1, 9), start=st.integers(0, 1 << 50))
def test_global_order_fuzzed(spark, keys, parts, start):
    """with_global_order (range shuffle + per-partition rank + offsets)
    must equal a driver-side sort's dense rank for ANY key set,
    partition count and starting counter."""
    from urlmap_spark.operators.order import with_global_order

    df = spark.createDataFrame(
        [(a, b) for a, b in keys], "parent_order long, pos int")
    out, counter = with_global_order(df, ["parent_order", "pos"],
                                     start=start, num_partitions=parts)
    got = {(r["parent_order"], r["pos"]): r["order"] for r in out.collect()}
    want = {k: start + i for i, k in enumerate(sorted(keys))}
    assert got == want
    assert counter == start + len(keys)


@settings(max_examples=6, deadline=None, derandomize=True)
@given(cseed=st.integers(0, 999),
       n_hosts=st.integers(1, 4),
       total_pages=st.integers(8, 48),
       max_depth=st.sampled_from([-1, 1, 2]),
       path_prefix=st.booleans(),
       two_seeds=st.booleans(),
       variant=st.sampled_from(["broadcast", "shuffled", "bloom"]))
def test_crawl_fuzzed_vs_oracle(spark, cseed, n_hosts, total_pages,
                                max_depth, path_prefix, two_seeds, variant):
    """End-to-end crawl fuzz: the full Spark BFS plan — under every
    seen-dedup strategy (broadcast early anti-join, shuffled exact
    anti-join, bloom-gated disk probe) — must reproduce the Python
    oracle's (url, depth, order, ok) rows and seen set on GENERATED
    corpora, not just the curated seeds in test_crawl.py."""
    import tempfile

    from urlmap_spark.plans.crawl import CrawlConfig, crawl
    from urlmap_spark.plans.oracle import oracle_bfs
    from urlmap_spark.sources import corpus as C

    pdf = C.corpus_pandas(seed=cseed, n_hosts=n_hosts,
                          total_pages=total_pages, with_bytes=False)
    seeds = [f"https://h0.example-{cseed}.test/"]
    if two_seeds and n_hosts >= 2:
        seeds.append(f"https://h1.example-{cseed}.test/")
    kw = dict(max_depth=max_depth, same_path_prefix=path_prefix)
    if variant == "shuffled":
        kw["broadcast_seen_max_urls"] = 0
    with tempfile.TemporaryDirectory() as ck:  # one checkpoint per example
        if variant == "bloom":
            kw.update(broadcast_seen_max_urls=0, checkpoint_dir=ck, disk_seen=True,
                      disk_seen_buckets=4, bloom_seen=True, seen_filter_bits=4 << 14)
        run = crawl(spark, spark.createDataFrame(pdf), seeds, CrawlConfig(**kw))
        got = [(r["url"], r["depth"], r["order"], r["ok"])
               for r in run.results.orderBy("order").collect()]
    eres, _ = oracle_bfs(pdf, seeds, max_depth=max_depth,
                         same_path_prefix=path_prefix)
    assert got == [(r.url, r.depth, r.order, r.ok) for r in eres]


# ---- robots parse+gate fuzz --------------------------------------------
# An INDEPENDENT pure-Python matcher implementing the reference's
# scanner + IsAllowed semantics (robots.go:138-178, 189-196, 208-252):
# UA-group tracking, empty-group/empty-pattern never match, trailing-*
# prefix, strictly-longer rule wins (first-in-file on length tie),
# default allow. Fuzzed against parse_robots + robots_gate.

_ROBOT_PATH = st.builds(
    lambda segs, suf: "/" + "/".join(segs) + suf,
    st.lists(st.sampled_from(["a", "b", "ab", "a.b", "c9"]), max_size=3),
    st.sampled_from(["", "/", "*", "/*"]))

_ROBOT_LINE = st.one_of(
    st.builds(lambda u: f"User-agent: {u}",
              st.sampled_from(["*", "urlmap", "URLMAP/1.0", "bot", ""])),
    st.builds(lambda d, p: f"{d}: {p}",
              st.sampled_from(["Disallow", "Allow", "disallow", "ALLOW"]),
              st.one_of(_ROBOT_PATH, st.just(""))),
    st.builds(lambda s: f"Crawl-delay: {s}",
              st.sampled_from(["1", "2.5", "nope", ""])),
    st.sampled_from(["# comment", "", "   ", "garbage no colon",
                     "Sitemap: https://h.test/sm.xml", ": odd", "Noindex: /x"]),
)


def _py_robots_allowed(lines: list[str], user_agent: str, path: str) -> bool:
    group = None
    rules: list[tuple[str, str]] = []  # (directive, pattern) in file order
    for line in lines:
        line = line.strip()
        if not line or line.startswith("#") or ":" not in line:
            continue
        d, _, v = line.partition(":")
        d, v = d.strip().lower(), v.strip()
        if d == "user-agent":
            group = v
        elif d in ("allow", "disallow") and group:
            if group == "*" or group.lower() in user_agent.lower():
                rules.append((d, v))
    best_len, allowed = -1, True
    for d, pat in rules:
        if not pat:
            continue
        stem = pat[:-1] if pat.endswith("*") else pat
        if path.startswith(stem) and len(pat) > best_len:
            best_len, allowed = len(pat), (d == "allow")
    return allowed


@settings(max_examples=25, deadline=None, derandomize=True)
@given(lines=st.lists(_ROBOT_LINE, min_size=0, max_size=14),
       paths=st.lists(_ROBOT_PATH, min_size=1, max_size=8, unique=True))
def test_robots_parse_gate_fuzzed(spark, lines, paths):
    """The gate over the parsed rules and over their once-built per-host
    fold (host_rule_lists, what the crawl passes every round) both equal
    the independent matcher."""
    from urlmap_spark.operators.robots import host_rule_lists, parse_robots, robots_gate

    host = "rfz.test"
    raw = spark.createDataFrame(
        [(host, i, ln) for i, ln in enumerate(lines)] or [(host, 0, "")],
        "host string, lineno int, line string")
    rules, _, _ = parse_robots(raw, user_agent="urlmap/1.0")
    frontier = spark.createDataFrame(
        [(f"https://{host}{p}",) for p in paths], "url string")
    want = {f"https://{host}{p}":
            _py_robots_allowed(lines, "urlmap/1.0", p) for p in paths}
    for r in (rules, host_rule_lists(rules)):
        got = {row["url"]: row["robots_allowed"]
               for row in robots_gate(frontier, r).collect()}
        assert got == want


UNI_HREFS = [
    "/café/menü",                       # latin-1-range path
    "/日本語/ページ",                     # CJK
    "/a/%C3%A9",                        # pre-encoded UTF-8 stays encoded
    "https://münchen.test/straße",      # unencoded IDN-ish host
    "https://xn--mnchen-3ya.test/x",    # punycode host
    "../π/σ?τ=υ",                       # dot-segment + greek
    "/emoji/🚀",                        # astral-plane codepoint
    "mailto:héllo@tëst.test",           # skip-scheme with unicode
    "/combining/é vs é",               # NFC vs NFD (NOT unified) + space
    "?q=значение",                      # cyrillic query
    "#фрагмент",                        # fragment-only (dropped)
    "//пример.test/path",               # protocol-relative unicode host
    "/mixed/ascii✓tail",
    "HTTPS://ÜPPER.test/Path",          # uppercase scheme + unicode host
]


def test_unicode_hrefs_three_way_parity(spark):
    """The hypothesis grammar above is ASCII-only by construction
    (codepoints 32-126); this pins the non-ASCII universe: hybrid
    native path == exact Arrow UDF == pure-Python kernel on IDN hosts,
    CJK/greek/cyrillic paths, astral emoji, NFC-vs-NFD forms and
    pre-percent-encoded bytes. (Found nothing when first probed —
    kept as a regression fence for the native fast-path router.)"""
    bases = ["https://edge.test/a/b?x=1", "https://deep.sub.fz.test/"]
    rows = [{"url": b, "caption": " ".join(f'href="{h}"' for h in UNI_HREFS)}
            for b in bases]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["url", "caption"]))
    hybrid = sorted((r["url"], r["pos"], r["outlink"]) for r in
                    extract_outlinks(df).select("url", "pos", "outlink").collect())
    pure = sorted((r["url"], r["pos"], r["outlink"]) for r in
                  extract_outlinks(df, native_fast_path=False)
                  .select("url", "pos", "outlink").collect())
    assert hybrid == pure
    exp = sorted((b, pos, urlcore.canonical_outlink(b, h))
                 for b in bases for pos, h in enumerate(UNI_HREFS)
                 if urlcore.canonical_outlink(b, h) is not None)
    assert hybrid == exp
    # the skip-scheme and fragment-only hrefs vanish, everything else lands
    assert len(hybrid) == 2 * (len(UNI_HREFS) - 2)
