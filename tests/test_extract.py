"""Outlink-extraction parity: the hybrid (native + UDF) pipeline must
equal the pure-UDF pipeline and the pure-Python twin on EVERY href
family — including the reference's fixture edge cases
(reference: internal/parser/fixtures_test.go:13-228)."""

import pandas as pd
from pyspark.sql import functions as F

from urlmap_spark.operators.extract import (
    extract_outlinks,
    extract_outlinks_py,
    hrefs_py,
)
from urlmap_spark.sources.corpus import CORPUS_COLUMNS

# href families: [reference fixtures] + adversarial shapes that must route
# to the UDF (dot segments, protocol-relative, uppercase scheme, colons,
# whitespace) + plain shapes that take the native path
EDGE_HREFS = [
    # fixtures_test.go edge-hrefs
    "", "   ", ".", "..", "/", "./same-dir", "../parent-dir",
    "?query=test", "#fragment", "?query=test#fragment",
    "javascript:alert('x')", "mailto:a@b.test", "tel:+123",
    "ftp://x.test/a", "data:text/plain,x",
    # ecommerce goldens (fixtures_test.go:71-108)
    "./laptop-1", "?page=2", "../up/one",
    # native-path shapes
    "/abs/path", "/abs/path/", "/abs?q=1", "/abs#f", "bare", "bare/child",
    "bare?q=2#f", "https://other.test/x", "http://other.test/y/",
    "https://other.test/x?q=1#f", "https://h.test:8080/p",
    # single-dot-segment natives (cat 3/4) + boundary shapes
    "./", "../", "./x?q=1#f", "../x/", "../x?y#z", "./deep/child",
    "../deep/child",
    # adversarial -> must fall back to the exact UDF
    ".//x", "..//x", "./.", "../..", "./..", "../.",
    "//protocol-relative.test/x", "HTTPS://upper.test/x", "hTtP://mixed.test/y",
    "/with/../dots", "./nested/./dot", "../../twice", "a/../b", "/trail/.",
    "/trail/..", " /lead-space", "/trail-space ", "col:on/path", "./a:b",
    "?q:1", "%2e/encoded", "/a//double", "a//b", "https://", "http:///nohost",
    "https://host", "https://host/", "https://Host.Test/Case",
]


def _mk_corpus_row(path: str, hrefs: list[str]) -> dict:
    host = "edge.test"
    caption = " ".join(f'href="{h}"' for h in hrefs)
    return {
        "image_id": f"{host}{path}", "bytes": None, "w": 32, "h": 32,
        "fmt": "ppm", "caption": caption, "phash": 0,
        "url": f"https://{host}{path}", "status": 200,
    }


BASES = [
    "/",                     # root page
    "/category/electronics", # file-style page
    "/d2/p10",               # nested
    "/a/b?x=1",              # base with query
    "/a//",                  # empty path segment: '../c' resolves to '/c'
    "/a//b",                 # ... also under a file-style base
]


def test_hybrid_matches_udf_and_python(spark):
    rows = [_mk_corpus_row(b, EDGE_HREFS) for b in BASES]
    pdf = pd.DataFrame(rows, columns=CORPUS_COLUMNS)
    df = spark.createDataFrame(pdf).select("url", "caption")

    hybrid = extract_outlinks(df).select("url", "pos", "outlink")
    pure = extract_outlinks(df, native_fast_path=False).select("url", "pos", "outlink")
    got_h = sorted((r["url"], r["pos"], r["outlink"]) for r in hybrid.collect())
    got_u = sorted((r["url"], r["pos"], r["outlink"]) for r in pure.collect())
    assert got_h == got_u, "hybrid native path diverges from exact UDF path"

    # pure-Python twin (drops survive/canonical form must agree)
    exp = []
    for b in BASES:
        base_url = f"https://edge.test{b}"
        caption = " ".join(f'href="{h}"' for h in EDGE_HREFS)
        outs = extract_outlinks_py(base_url, caption)
        # rebuild (url,pos,outlink) accounting for dropped hrefs: re-run
        # per-href to recover positions
        from urlmap_spark.functions import urlcore

        for pos, h in enumerate(EDGE_HREFS):
            c = urlcore.canonical_outlink(base_url, h)
            if c is not None:
                exp.append((base_url, pos, c))
        assert [e[2] for e in exp if e[0] == base_url] == outs
    assert got_h == sorted(exp)


def test_document_order_and_duplicates(spark):
    """Duplicates and document order are preserved (parser keeps both,
    reference: parser.go:199)."""
    hrefs = ["/a", "/b", "/a", "./c", "/a"]
    pdf = pd.DataFrame([_mk_corpus_row("/base/page", hrefs)], columns=CORPUS_COLUMNS)
    df = spark.createDataFrame(pdf).select("url", "caption")
    got = [(r["pos"], r["outlink"]) for r in
           extract_outlinks(df).orderBy("pos").collect()]
    assert got == [
        (0, "https://edge.test/a"), (1, "https://edge.test/b"),
        (2, "https://edge.test/a"), (3, "https://edge.test/base/c"),
        (4, "https://edge.test/a"),
    ]


def test_empty_caption(spark):
    pdf = pd.DataFrame([_mk_corpus_row("/x", [])], columns=CORPUS_COLUMNS)
    df = spark.createDataFrame(pdf).select("url", "caption")
    assert extract_outlinks(df).count() == 0
