"""Seeded inputs for the benchmark workloads, cached on disk per seed.

The program under test only ever receives what is generated here: a
corpus parquet, a seed-URL list and robots.txt lines for the crawls,
and TPC-H-style tables for the query suite. Everything derives from the
workload seed, so one seed always gives the same inputs. Generation and
the reference (oracle) results are computed before any timed section
and cached under ``<cache>/<key>``, where the key holds the seed, every
size parameter and the corpus version.
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing as mp
import os
import shutil
from dataclasses import asdict, dataclass
from urllib.parse import urlsplit

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bumped when anything below changes what a key generates.
GEN_VERSION = 1


@dataclass(frozen=True)
class CorpusSpec:
    hosts: int
    pages: int
    seeds: int               # seed-URL list length (host roots first)
    fanout: tuple[int, int] = (8, 16)
    with_bytes: bool = False
    robots: bool = False


@dataclass(frozen=True)
class TableSpec:
    customers: int
    orders: int
    lineitems: int
    parts: int
    suppliers: int
    events: int
    documents: int
    embeddings: int


# "host" is the benchmark's scale: the query tables have sf0.1's row
# counts, and the crawl corpus is what fits the time budget on a 4-core
# host. "tiny" is the sf0.001-sized smoke scale.
SCALES: dict[str, dict[str, CorpusSpec | TableSpec]] = {
    "tiny": {
        "crawl-durable": CorpusSpec(hosts=4, pages=200, seeds=200, with_bytes=True,
                                    robots=True),
        "queries": TableSpec(150, 1500, 6000, 200, 10, 1000, 500, 500),
    },
    "host": {
        "crawl-durable": CorpusSpec(hosts=6, pages=1200, seeds=1200, with_bytes=True,
                                    robots=True),
        "queries": TableSpec(15_000, 150_000, 600_000, 20_000, 1000, 100_000, 5000, 2000),
    },
}


def _key(kind: str, seed: int, spec, corpus_version: int) -> str:
    raw = json.dumps([kind, seed, asdict(spec), corpus_version, GEN_VERSION])
    return f"{kind}-s{seed}-{hashlib.sha1(raw.encode()).hexdigest()[:12]}"


def _publish(tmp: str, final: str) -> None:
    """Rename a fully written directory into place; a run killed midway
    leaves only a ``.tmp`` directory that the next run overwrites."""
    if os.path.exists(final):
        shutil.rmtree(tmp)
        return
    os.replace(tmp, final)


def _fresh(path: str) -> str:
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    return tmp


# --- crawl corpora ----------------------------------------------------------

def seed_urls(seed: int, spec: CorpusSpec) -> list[str]:
    """bench.py's seed list: every host root, then a deterministic stride
    over interior pages, cut to ``spec.seeds``."""
    from urlmap_spark.sources.corpus import host_page_index, page_url

    idx = host_page_index(seed, spec.hosts, spec.pages)
    roots = [page_url(seed, hi, 0) for hi in range(spec.hosts)]
    stride = max(1, len(idx) // max(1, spec.seeds - spec.hosts))
    interior = [page_url(seed, hi, pj) for hi, pj, _ in idx[::stride]]
    return (roots + interior)[:spec.seeds]


def robots_lines(seed: int, spec: CorpusSpec) -> list[tuple[str, int, str]]:
    """(host, lineno, line) robots.txt lines. A third of the hosts block
    one directory for every agent but re-allow one page in it (longest
    match wins); every such file also carries a group for another agent
    that blocks everything, which our agent must ignore."""
    from urlmap_spark.sources.corpus import _h64, host_name

    out = []
    for hi in range(spec.hosts):
        r = _h64(seed, "robots", hi)
        if r % 3:
            continue
        d = 1 + (r >> 8) % 3
        host = host_name(seed, hi)
        body = ["# generated", "User-agent: otherbot", "Disallow: /",
                "", "User-agent: *", f"Disallow: /d{d}/",
                f"Allow: /d{d}/p{1 + (r >> 16) % 50}", "Crawl-delay: 1"]
        out += [(host, i + 1, line) for i, line in enumerate(body)]
    return out


class RobotsDisallowed:
    """Set-like view of the URLs the generated robots rules block for
    our agent, evaluated per URL: the reference semantics (longest
    matching rule wins, the earlier rule wins a tie, no rule = allow)
    written out independently of the Spark gate under test."""

    def __init__(self, lines: list[tuple[str, int, str]], agent: str = "urlmap/1.0"):
        self._rules: dict[str, list[tuple[str, str, int]]] = {}
        group = None
        for host, lineno, line in lines:
            line = line.strip()
            if not line or line.startswith("#") or ":" not in line:
                continue
            key, value = (s.strip() for s in line.split(":", 1))
            key = key.lower()
            if key == "user-agent":
                group = value
            elif key in ("allow", "disallow") and group and (
                    group == "*" or group.lower() in agent.lower()):
                self._rules.setdefault(host, []).append((key, value, lineno))

    def __bool__(self) -> bool:
        return True

    def __contains__(self, url: str) -> bool:
        parts = urlsplit(url)
        path = parts.path or "/"
        best = None
        for directive, pattern, lineno in self._rules.get(parts.hostname or "", []):
            stem = pattern[:-1] if pattern.endswith("*") else pattern
            if pattern and path.startswith(stem):
                rank = (len(pattern), -lineno)
                if best is None or rank > best[0]:
                    best = (rank, directive)
        return best is not None and best[1] == "disallow"


def _corpus_chunk(args):
    """Worker: corpus rows for a slice of (host, page) pairs, plus each
    OK page's canonical outlinks as the oracle will extract them."""
    seed, spec, chunk = args
    from urlmap_spark.operators.extract import extract_outlinks_py
    from urlmap_spark.sources.corpus import corpus_row

    rows, links = [], {}
    for hi, pj, n_pages in chunk:
        row = corpus_row(seed, hi, pj, n_pages, spec.hosts, spec.with_bytes, spec.fanout)
        rows.append(row)
        if 200 <= row["status"] < 400:
            links[row["url"]] = extract_outlinks_py(row["url"], row["caption"])
    return rows, links


CORPUS_SCHEMA = pa.schema([
    ("image_id", pa.string()), ("bytes", pa.binary()), ("w", pa.int32()),
    ("h", pa.int32()), ("fmt", pa.string()), ("caption", pa.string()),
    ("phash", pa.int64()), ("url", pa.string()), ("status", pa.int32()),
])


def _oracle(seed: int, spec: CorpusSpec, pages: dict, links: dict,
            seeds: list[str], max_depth: int, robots) -> list[tuple]:
    """plans.oracle.oracle_bfs over the generated corpus. The BFS calls
    extract_outlinks_py once per fetched page; the generator already
    computed exactly those calls in parallel, so they are served from
    that table while the oracle runs."""
    import pandas as pd

    from urlmap_spark.plans import oracle as oracle_mod

    frame = pd.DataFrame(pages)
    real = oracle_mod.extract_outlinks_py
    oracle_mod.extract_outlinks_py = lambda url, caption: list(links[url])
    try:
        results, _ = oracle_mod.oracle_bfs(
            frame, seeds, max_depth=max_depth, same_domain=False,
            robots_disallowed=robots)
    finally:
        oracle_mod.extract_outlinks_py = real
    return [(r.url, r.depth, r.order, r.status) for r in results]


@dataclass
class CrawlInputs:
    corpus: str              # parquet directory
    seeds: list[str]
    robots: list[tuple[str, int, str]]
    oracle: str              # parquet: url, depth, order, status


def crawl_inputs(cache: str, seed: int, spec: CorpusSpec, max_depth: int,
                 corpus_version: int, procs: int) -> CrawlInputs:
    path = os.path.join(cache, _key(f"crawl-d{max_depth}", seed, spec, corpus_version))
    seeds = seed_urls(seed, spec)
    robots = robots_lines(seed, spec) if spec.robots else []
    if not os.path.exists(path):
        from urlmap_spark.sources.corpus import host_page_index

        tmp = _fresh(path)
        index = host_page_index(seed, spec.hosts, spec.pages)
        n = max(1, procs * 4)
        chunks = [(seed, spec, index[i::n]) for i in range(n)]
        with mp.get_context("spawn").Pool(procs) as pool:
            parts = pool.map(_corpus_chunk, chunks)
        rows = [r for part, _ in parts for r in part]
        links = {u: v for _, part in parts for u, v in part.items()}
        table = pa.Table.from_pylist(rows, schema=CORPUS_SCHEMA)
        os.makedirs(os.path.join(tmp, "corpus"))
        pq.write_table(table, os.path.join(tmp, "corpus", "part-0.parquet"))
        pages = {c: table.column(c).to_pylist() for c in ("url", "caption", "status")}
        expected = _oracle(seed, spec, pages, links, seeds, max_depth,
                           RobotsDisallowed(robots) if robots else None)
        pq.write_table(
            pa.Table.from_pylist(
                [dict(zip(("url", "depth", "order", "status"), r)) for r in expected],
                schema=pa.schema([("url", pa.string()), ("depth", pa.int32()),
                                  ("order", pa.int64()), ("status", pa.int32())])),
            os.path.join(tmp, "oracle.parquet"))
        _publish(tmp, path)
    return CrawlInputs(os.path.join(path, "corpus"), seeds, robots,
                       os.path.join(path, "oracle.parquet"))


# --- query-suite tables -----------------------------------------------------

_VOCAB = ("the a spark join stream small order merge column group customer part "
          "value table window big scan vector filter sort hash data row batch key "
          "agg query line fast slow").split()
_T0_2024 = np.datetime64("2024-01-01T00:00:00", "us")


def _dates(rng, n: int, lo: str, hi: str) -> np.ndarray:
    days = (np.datetime64(hi, "D") - np.datetime64(lo, "D")).astype(int)
    return (np.datetime64(lo, "D") + rng.integers(0, days + 1, n)).astype("datetime64[us]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _tables(seed: int, s: TableSpec) -> dict[str, pa.Table]:
    """The TPC-H-style star schema plus ``events``, ``documents`` and
    ``embeddings`` with the column names and types the query suite
    reads. Doubles carry two decimals so the Spark and DuckDB sums agree."""
    rng = np.random.default_rng(seed)
    pick = lambda opts, n: np.asarray(opts, dtype=object)[rng.integers(0, len(opts), n)]  # noqa: E731
    i64 = lambda n: np.arange(n, dtype=np.int64)  # noqa: E731
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION{i}" for i in range(25)],
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    t["customer"] = pa.table({
        "c_custkey": i64(s.customers),
        "c_name": [f"Customer#{i:09d}" for i in range(s.customers)],
        "c_nationkey": rng.integers(0, 25, s.customers).astype(np.int32),
        "c_acctbal": _money(rng, s.customers, -999.99, 9999.99),
        "c_mktsegment": pick(segs, s.customers)})
    t["supplier"] = pa.table({
        "s_suppkey": i64(s.suppliers),
        "s_name": [f"Supplier#{i:09d}" for i in range(s.suppliers)],
        "s_nationkey": rng.integers(0, 25, s.suppliers).astype(np.int32),
        "s_acctbal": _money(rng, s.suppliers, -999.99, 9999.99)})
    colors = ["red", "blue", "green", "small", "large", "steel", "brass", "matte"]
    nouns = ["ring", "widget", "bolt", "gear", "panel", "valve", "spring", "clip"]
    t["part"] = pa.table({
        "p_partkey": i64(s.parts),
        "p_name": [f"{a} {b}" for a, b in zip(pick(colors, s.parts), pick(nouns, s.parts))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, s.parts)],
        "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], s.parts),
        "p_size": rng.integers(1, 51, s.parts).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(s.parts) % 1000) / 10, 2)})
    # ~3% of orders point at a customer id past the table: the fetch-join
    # leaf's 404 branch
    t["orders"] = pa.table({
        "o_orderkey": i64(s.orders),
        "o_custkey": rng.integers(0, int(s.customers * 1.03) + 1, s.orders).astype(np.int64),
        "o_orderstatus": pick(["F", "O", "P"], s.orders),
        "o_totalprice": _money(rng, s.orders, 1000, 500000),
        "o_orderdate": _dates(rng, s.orders, "1995-01-01", "2001-08-01"),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                 "5-LOW"], s.orders)})
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, s.orders, s.lineitems).astype(np.int64),
        "l_partkey": rng.integers(0, s.parts, s.lineitems).astype(np.int64),
        "l_suppkey": rng.integers(0, s.suppliers, s.lineitems).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, s.lineitems).astype(np.int32),
        "l_quantity": rng.integers(1, 51, s.lineitems).astype(np.float64),
        "l_extendedprice": _money(rng, s.lineitems, 900, 105000),
        "l_discount": rng.integers(0, 11, s.lineitems) / 100,
        "l_tax": rng.integers(0, 9, s.lineitems) / 100,
        "l_returnflag": pick(["A", "N", "R"], s.lineitems),
        "l_linestatus": pick(["F", "O"], s.lineitems),
        "l_shipdate": _dates(rng, s.lineitems, "1995-01-02", "2001-11-04")})
    gaps = rng.integers(1, int(30 * 86400e6 / max(1, s.events)) * 2, s.events)
    t["events"] = pa.table({
        "event_id": i64(s.events),
        "ts": _T0_2024 + np.cumsum(gaps).astype("timedelta64[us]"),
        "user_id": rng.integers(0, 150, s.events).astype(np.int64),
        "event_type": pick(["click", "error", "purchase", "signup", "view"], s.events),
        "value": _money(rng, s.events, 0.01, 490.0),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, s.events)]})
    texts = []
    for i in range(s.documents):
        if i and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(pick(_VOCAB, int(rng.integers(10, 101)))))
    langs = pick(["en", "en", "en", "de", "es", "fr", "zh"], s.documents)
    t["documents"] = pa.table({
        "doc_id": i64(s.documents), "text": texts, "lang": langs,
        "source": [f"src{i % 20}" for i in range(s.documents)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    emb = (rng.standard_normal((s.embeddings, 64)) * 0.13).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": i64(s.embeddings),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, s.embeddings).astype(np.int32)})
    return t


def query_tables(cache: str, seed: int, spec: TableSpec, corpus_version: int) -> str:
    """Directory holding one ``<table>.parquet`` per table (the layout the
    query suite's ``sf_dir`` argument expects)."""
    path = os.path.join(cache, _key("tables", seed, spec, corpus_version))
    if not os.path.exists(path):
        tmp = _fresh(path)
        for name, table in _tables(seed, spec).items():
            pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
        _publish(tmp, path)
    return path
