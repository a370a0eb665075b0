"""Outlink extraction: caption -> ordered hrefs -> canonical URLs.

The reference extracts ``a[href]`` in document order with goquery
(reference: internal/parser/parser.go:120-208). Our pages are
image+caption rows whose caption embeds ``href="..."`` tokens; the
extraction is a single Arrow-vectorized regex findall (pandas .str
accessor — no per-row Python loop), followed by posexplode and the
one-pass canonicalization UDF.

Document order is preserved as the ``pos`` column.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..functions import urlcore
from ..functions.urlkernel import canonical_outlink_udf

HREF_RE = r'href="([^"]*)"'


@pandas_udf(T.ArrayType(T.StringType()))
def hrefs_udf(caption: pd.Series) -> pd.Series:
    """Ordered raw hrefs from caption, vectorized (pandas str.findall)."""
    return caption.fillna("").str.findall(HREF_RE)


def hrefs_expr(caption: Column) -> Column:
    """Native twin of hrefs_udf: regexp_extract_all stays JVM-side (the
    hot path — no Python at all for the findall step)."""
    return F.regexp_extract_all(caption, F.lit(HREF_RE), F.lit(1))


def hrefs_py(caption: str) -> list[str]:
    """Pure-Python twin for the oracle BFS."""
    import re

    return re.findall(HREF_RE, caption or "")


def explode_hrefs(pages: DataFrame, caption_col: str = "caption",
                  use_udf_findall: bool = False) -> DataFrame:
    """pages -> one row per (page, pos, raw href), document order in pos."""
    findall = hrefs_udf(F.col(caption_col)) if use_udf_findall else hrefs_expr(F.col(caption_col))
    return pages.select("*", F.posexplode_outer(findall).alias("pos", "href")) \
                .drop(caption_col)


def extract_outlinks(pages: DataFrame, base_col: str = "url",
                     caption_col: str = "caption", use_udf_findall: bool = False,
                     native_fast_path: bool = True) -> DataFrame:
    """pages -> one row per (page, pos, canonical outlink).

    Pipeline (reference: internal/parser/parser.go:155-199):
      posexplode(hrefs) -> canonicalize -> drop nulls.
    Dropped hrefs (empty / skip-scheme / invalid after resolution) simply
    vanish, exactly like the reference's continue branches. Duplicates and
    document order are preserved (``pos``).

    Hybrid execution: hrefs that are ALREADY absolute lowercase http(s)
    URLs need no RFC-3986 resolution — they take a pure native-expression
    path (validity + normalization, whole-stage codegen, zero Python);
    only relative/odd hrefs cross into the Arrow UDF. The two paths are
    a union — row order is irrelevant because document order travels in
    ``pos``. Parity of the native normalizer with the exact UDF is pinned
    by tests/test_urlkernel.py and the crawl-vs-oracle suite.
    """
    exploded = explode_hrefs(pages, caption_col, use_udf_findall)
    return canonicalize_links(exploded, base_col, native_fast_path)


def extract_same_domain(pages: DataFrame, base_col: str = "url",
                        caption_col: str = "caption") -> DataFrame:
    """Per-page same-domain extraction (reference: parser.go:211-246
    ExtractSameDomainLinks): canonical outlinks whose host equals the
    PAGE's host — the standalone twin of the crawl's seed-scope filter.
    The host comparison is applied INSIDE each canonicalization branch
    (page_host_scope) — filtering the union from above lets Catalyst
    substitute the whole assembly tree into the condition and blow the
    64 KB codegen limit."""
    exploded = explode_hrefs(pages, caption_col)
    return canonicalize_links(exploded, base_col, page_host_scope=True)


def href_category_expr(base_col: str | None = None) -> Column:
    """Categorize the ``href`` column for hybrid canonicalization:
    1 = absolute lowercase http(s), 2 = root-relative (no dot segments),
    3 = './'-relative (single leading dot segment), 4 = '../'-relative
    (single leading parent segment), 6 = bare relative (no scheme/dots),
    9 = everything else (exact UDF).
    Skip-scheme/empty/whitespace hrefs can never satisfy a native
    category (they all contain ':', start with '#', or fail the
    trim/nonempty guards), so no separate skip category is needed — the
    UDF branch drops them.

    base_col — when given, a BASE containing a dot segment or an empty
    path segment ('//') routes the whole row to the exact UDF: the
    native branches splice the base's directory verbatim, but the
    resolver collapses dot segments of the merged path (RFC 3986
    remove_dot_segments) and drops its interior empty segments, so a
    dotted base (a user seed is normalized but not dot-collapsed, found
    by the hypothesis parity fuzz, tests/test_fuzz_parity.py) or a
    '/a//' base (reachable through absolute hrefs) would diverge."""
    href = F.col("href")
    trimmed = href == F.trim(href)
    nonempty = href != ""
    # any '.' or '..' path segment disqualifies native resolution —
    # INCLUDING inside absolute hrefs: the resolver applies
    # remove_dot_segments to an absolute reference's path too, which
    # the native branch does not (same fuzz finding)
    dotseg = href.rlike(r"(^|/)\.{1,2}([/?#]|$)")

    is_abs = ((href.startswith("http://") | href.startswith("https://"))
              & trimmed & ~dotseg)
    # base-DIRECTORY categories (3/4/6) additionally need a base path
    # without dot or empty segments: they splice the base's dir
    # verbatim, while the resolver collapses dot segments and drops
    # interior empty segments of the merged path ('/a//' + '../c' is
    # '/c' there, '/a/c' spliced). One regex: a dot segment anywhere,
    # or a '//' after the scheme's '://' and before any '?'/'#'. Cat 1 never
    # consults the base; cat 2 only uses its scheme://host — both exempt.
    base_ok = (F.lit(True) if base_col is None
               else ~F.col(base_col).rlike(
                   r"(^|/)\.{1,2}([/?#]|$)|^[^:/?#]+://[^?#]*//"))
    is_rootrel = (
        href.startswith("/") & ~href.startswith("//") & ~dotseg & trimmed
    )
    # relative-merge resolution (urljoin) also collapses "//" inside a
    # relative path — those go to the exact UDF
    dslash = href.contains("//")
    # './rest' and '../rest': exactly ONE leading dot segment, none in
    # the remainder — urljoin semantics are then pure string surgery
    # (dir + rest / parent(dir) + rest); deeper '../..' chains and inner
    # dot segments keep the exact UDF
    r3 = F.substring(href, 3, F.lit(1 << 30))
    is_dotrel = (
        href.startswith("./") & trimmed & ~dslash & ~r3.contains(":")
        & ~r3.startswith("/") & ~r3.rlike(r"(^|/)\.{1,2}([/?#]|$)") & base_ok
    )
    r4 = F.substring(href, 4, F.lit(1 << 30))
    is_parentrel = (
        href.startswith("../") & trimmed & ~dslash & ~r4.contains(":")
        & ~r4.startswith("/") & ~r4.rlike(r"(^|/)\.{1,2}([/?#]|$)") & base_ok
    )
    is_bare = (
        nonempty & trimmed & ~href.contains(":") & ~dotseg & ~dslash
        & ~href.startswith("/") & ~href.startswith(".")
        & ~href.startswith("?") & ~href.startswith("#") & base_ok
    )
    return (
        F.when(is_abs, F.lit(1))
        .when(is_rootrel, F.lit(2))
        .when(is_dotrel, F.lit(3))
        .when(is_parentrel, F.lit(4))
        .when(is_bare, F.lit(6))
        .otherwise(F.lit(9))
    )


def _light_host(url_col: Column) -> Column:
    """lowercased host (port stripped) of a CANONICAL absolute URL —
    cheap substring ops, no URI parser (hot-path twin of host_expr;
    IPv6 literals are out of scope for the canonical corpus universe)."""
    after = F.substring_index(url_col, "://", -1)
    return F.lower(F.substring_index(F.substring_index(
        F.substring_index(after, "/", 1), "?", 1), ":", 1))


def _light_dir_path(url_col: Column) -> Column:
    """directory-style path of a CANONICAL absolute URL ('' -> '/',
    trailing '/' ensured) for prefix scope checks."""
    after = F.substring_index(url_col, "://", -1)
    raw = F.substring_index(
        F.substring(after, F.length(F.substring_index(after, "/", 1)) + 1,
                    F.lit(1 << 30)), "?", 1)
    p = F.when(raw == "", F.lit("/")).otherwise(raw)
    return F.when((p != "/") & ~p.endswith("/"), F.concat(p, F.lit("/"))).otherwise(p)


def scope_condition(host_col: Column, dir_col: Column,
                    seed_scopes: list[tuple[str, str]], prefix: bool) -> Column:
    """ANY-seed scope: (host == seed_host) [and dir startswith seed_dir]."""
    conds = []
    for s_host, s_dir in seed_scopes:
        c = host_col == F.lit(s_host)
        if prefix:
            c = c & dir_col.startswith(s_dir)
        conds.append(c)
    out = conds[0]
    for c in conds[1:]:
        out = out | c
    return out


def canonicalize_links(exploded: DataFrame, base_col: str = "url",
                       native_fast_path: bool = True,
                       seed_scopes: list[tuple[str, str]] | None = None,
                       scope_prefix: bool = True,
                       page_host_scope: bool = False,
                       slow_branch: bool = True) -> DataFrame:
    """exploded(base, ..., pos, href) -> rows with a canonical ``outlink``
    column; hrefs the reference drops simply vanish.

    seed_scopes: optional [(lowercased host, dir-path), ...] — the crawl's
    same-domain/path-prefix scope filter, applied INSIDE each branch where
    host/path are one-hop expressions over materialized columns. Applying
    it as a filter above the branch union instead lets Catalyst clone the
    condition into both branches with the full canonicalization tree
    substituted in — a 20,000-line codegen method that exceeds Janino's
    64 KB limit.

    slow_branch=False: the caller has PROVED the input holds zero
    category-9 hrefs (e.g. the crawl observes the count while the
    exploded frame materializes), so the exact-UDF branch — a second
    full scan of the input plus an ArrowEvalPython stage that would
    produce zero rows — is omitted outright. Unioning an empty branch
    is the identity, so results are unchanged by construction."""
    if not native_fast_path:
        out = (
            exploded
            .withColumn("outlink", canonical_outlink_udf(F.col(base_col), F.col("href")))
            .filter(F.col("outlink").isNotNull())
        )
        if seed_scopes:
            out = out.filter(scope_condition(
                _light_host(F.col("outlink")), _light_dir_path(F.col("outlink")),
                seed_scopes, scope_prefix))
        if page_host_scope:
            out = out.filter(_light_host(F.col("outlink")) == _light_host(F.col(base_col)))
        return out
    # --- native canonicalization for the common href shapes ---------------
    # The reference's per-href pipeline is pure string surgery for every
    # href WITHOUT dot-segments / scheme oddities; those shapes stay in
    # whole-stage codegen. Anything unusual (uppercase scheme, protocol-
    # relative, '.'/'..' segments, untrimmed, colons) routes to the exact
    # Arrow UDF. Parity is pinned by the crawl-vs-oracle suite and a
    # dedicated hybrid-vs-UDF fuzz test.
    # If the caller materialized the category already (the crawl does,
    # inside its per-round checkpoint), reuse it: predicate pushdown
    # otherwise substitutes the category CASE into BOTH branch filters,
    # tripling the guard tree inside one fused codegen method (which then
    # exceeds Janino's 64 KB bytecode limit and falls back to interpreted
    # mode with per-task compile retries).
    href = F.col("href")
    tagged = exploded if "_cat" in exploded.columns else \
        exploded.withColumn("_cat", href_category_expr(base_col))
    c = F.col("_cat")

    # Single-pass assembly: normalize the PATH piece before concatenation
    # instead of re-parsing the assembled URL. Every intermediate is its
    # own column so each is referenced as an attribute — keeps the
    # whole-stage-codegen method far below Janino's 64 KB limit (inlining
    # normalize(resolve(when-tree)) blew past it and fell back to
    # interpreted mode with compile retries per task).
    base = F.col(base_col)
    native = (
        tagged.filter(c.between(1, 6))
        # scheme://host[:port] — from the href itself for absolute hrefs
        # (strip fragment+query first: "https://h?q" has no 3rd slash);
        # canonical bases always have a path, so their 3rd slash is real
        .withColumn("_sh", F.when(
            c == 1,
            F.substring_index(
                F.substring_index(F.substring_index(href, "#", 1), "?", 1), "/", 3))
            .otherwise(F.substring_index(base, "/", 3)))
        # base path sans query (crawl bases are canonical absolute URLs)
        .withColumn("_bp", F.substring_index(
            F.substring(base, F.length(F.substring_index(base, "/", 3)) + 1,
                        F.lit(1 << 30)), "?", 1))
        # strip after the last '/' — substring arithmetic, not
        # regexp_replace("[^/]*$"): same value for every input (no '/'
        # -> '', trailing '/' -> unchanged), measured ~27% cheaper on
        # the 8M-href round projection (r6 A/B); the '' case is folded
        # to '/' by the guard below exactly as before
        .withColumn("_dir", F.substring(
            F.col("_bp"), 1,
            F.length("_bp") - F.length(F.substring_index(F.col("_bp"), "/", -1))))
        .withColumn("_dir", F.when(F.col("_dir") == "", F.lit("/")).otherwise(F.col("_dir")))
        # parent of _dir for '../rest' (cat 4); RFC 3986 clamps '..' at
        # the root, so '/' stays '/': drop the trailing slash, then
        # strip after the last '/' ('/'-input yields '', which the guard
        # folds to '/'). Exact for bases without empty path segments
        # only: a '/a//' dir gives '/a/' here, '/' in the resolver — such
        # bases never reach cat 4 (href_category_expr's base_ok)
        .withColumn("_t", F.substring(F.col("_dir"), 1, F.length("_dir") - F.lit(1)))
        .withColumn("_pdir", F.substring(
            F.col("_dir"), 1,
            F.length("_t") - F.length(F.substring_index(F.col("_t"), "/", -1))))
        .withColumn("_pdir", F.when(F.col("_pdir") == "", F.lit("/")).otherwise(F.col("_pdir")))
        # host non-empty check for absolute hrefs (scheme verified above)
        .filter((c != 1) | ~F.col("_sh").isin("http://", "https://"))
        # path+query+fragment piece per category
        .withColumn(
            "_pq",
            F.when(c == 1, F.substring(href, F.length("_sh") + 1, F.lit(1 << 30)))
            .when(c == 2, href)
            .when(c == 3, F.concat(F.col("_dir"), F.substring(href, 3, F.lit(1 << 30))))
            .when(c == 4, F.concat(F.col("_pdir"), F.substring(href, 4, F.lit(1 << 30))))
            .otherwise(F.concat(F.col("_dir"), href)),  # cat 6 (bare)
        )
        # normalize: strip fragment, split query, trailing-slash & root rules
        .withColumn("_nofrag", F.substring_index("_pq", "#", 1))
        .withColumn("_p", F.substring_index("_nofrag", "?", 1))
        .withColumn("_q", F.substring("_nofrag", F.length("_p") + 1, F.lit(1 << 30)))
        # bare '?' (empty query) is dropped by the kernel's rebuild —
        # same hypothesis-fuzz finding as normalize_simple_expr
        .withColumn("_q", F.when(F.col("_q") == "?", F.lit("")).otherwise(F.col("_q")))
        .withColumn("_p", F.when(
            (F.col("_p") != "/") & F.col("_p").endswith("/"),
            F.substring("_p", 1, F.length("_p") - F.lit(1))).otherwise(F.col("_p")))
        .withColumn("_p", F.when(F.col("_p") == "", F.lit("/")).otherwise(F.col("_p")))
        .withColumn("outlink", F.concat("_sh", "_p", "_q"))
    )
    if seed_scopes or page_host_scope:
        # host from _sh (strip scheme+port), dir from the normalized _p —
        # both one-hop expressions over materialized columns
        n_host = F.lower(F.substring_index(F.substring_index(
            F.col("_sh"), "://", -1), ":", 1))
        if seed_scopes:
            n_dir = F.when(
                (F.col("_p") != "/") & ~F.col("_p").endswith("/"),
                F.concat(F.col("_p"), F.lit("/"))).otherwise(F.col("_p"))
            native = native.filter(scope_condition(n_host, n_dir, seed_scopes, scope_prefix))
        if page_host_scope:
            native = native.filter(n_host == _light_host(base))
    native = native.drop("_cat", "_sh", "_bp", "_dir", "_t", "_pdir", "_pq", "_nofrag", "_p", "_q")
    if not slow_branch:
        return native
    slow = (
        tagged.filter(c == 9).drop("_cat")
        .withColumn("outlink", canonical_outlink_udf(base, href))
        .filter(F.col("outlink").isNotNull())
    )
    if seed_scopes:
        slow = slow.filter(scope_condition(
            _light_host(F.col("outlink")), _light_dir_path(F.col("outlink")),
            seed_scopes, scope_prefix))
    if page_host_scope:
        slow = slow.filter(_light_host(F.col("outlink")) == _light_host(base))
    return native.unionByName(slow)


def extract_outlinks_py(base_url: str, caption: str) -> list[str]:
    """Pure-Python twin of extract_outlinks for the oracle BFS: returns
    canonical outlinks in document order, duplicates preserved."""
    out = []
    for href in hrefs_py(caption):
        c = urlcore.canonical_outlink(base_url, href)
        if c is not None:
            out.append(c)
    return out
