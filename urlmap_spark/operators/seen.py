"""Partitioned URL-seen structure: bloom prefilter + exact anti-join.

north_rule: "tests membership against a partitioned bloom/cuckoo
URL-seen structure". Design (SURVEY.md §4.3.1):

- the EXACT seen set stays authoritative (an anti-join) — a bloom
  false positive may only cost an extra exact check, never a dropped
  URL, and a false negative cannot happen by construction;
- per host-hash bucket, a fixed-size bloom filter (numpy bitmap, k
  hashes derived from two 64-bit hashes) summarizes every seen URL;
  the frame API builds/merges filters with applyInPandas (one task per
  bucket) as (bucket, filter binary) rows;
- the probe COGROUPS candidates with the filter table on the bucket
  key (one shuffle on a 4-byte key, no driver hop): rows whose bucket
  filter definitely excludes them are DEFINITELY NEW and skip the
  exact anti-join entirely; only "maybe seen" rows take the join.

At 10^10 URLs the exact set is a bucketed Iceberg table and the maybe-
seen fraction ~= true-dup fraction + false-positive rate — the anti-
join's probe side shrinks by the share of genuinely-new URLs, which in
a growing crawl is most of them.

The crawl runs the prefilter in ONE layout only, the disk seen gate's
(operators/diskseen.py): one blob per disk-seen bucket, probed and
extended inside the exact probe's own bucket task through the BloomBlob
kernel and the task-side hashes (``task_hashes``) defined here. While
seen fits in memory the crawl's broadcast or shuffled-hash anti-join
beats this frame pre-pass (a local[4] crawl with |seen| <= 400k:
55.5 s broadcast, 60.0 s shuffled, 110.5 s behind the frame
prefilter; BENCH/BASELINE.md), so ``crawl()`` never builds a
(bucket, filter) frame. The frame API below — ``build_filters``,
``split_candidates``, ``seen_anti_join`` — is kept for the declared
queries that pin it against DuckDB twins (``seen-bloom-anti-join`` and
the cuckoo pair) and for the plan dump.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FILTER_SCHEMA = T.StructType([
    T.StructField("bucket", T.IntegerType()),
    T.StructField("filter", T.BinaryType()),
])

_HASH_COLS = ["_h1", "_h2", "_bk"]


def _with_hash_cols(df: DataFrame, cfg: "BloomConfig", url_col: str = "url") -> DataFrame:
    """All URL hashing stays JVM-side (whole-stage codegen): two
    independent xxhash64 families for double hashing plus the bucket
    key. Build and probe derive from the SAME columns, so they cannot
    disagree — the Python side only ever sees int64 arrays."""
    return (
        df.withColumn("_h1", F.xxhash64(F.col(url_col)))
        .withColumn("_h2", F.xxhash64(F.lit("urlmap-bloom-h2"), F.col(url_col)))
        .withColumn("_bk", F.pmod(F.xxhash64(F.lit("urlmap-bucket"), F.col(url_col)),
                                  F.lit(cfg.n_buckets)).cast("int"))
    )


def _positions_vec(h1: np.ndarray, h2: np.ndarray, m_bits: int, k: int) -> np.ndarray:
    """(n,) int64 hash arrays -> (n, k) bit positions, pure numpy.
    Arithmetic is pinned to np.uint64 on BOTH the build and probe paths:
    mixing a raw Python int >= 2**63 with a uint64 array lets numpy
    promote to float64 and the low bits of the position differ between
    build and probe — observed as rare bloom FALSE NEGATIVES (i.e.
    silently re-crawled URLs)."""
    h1u = h1.astype(np.uint64)  # two's-complement reinterpret, both sides
    step = h2.astype(np.uint64) % np.uint64(1 << 63)
    j = np.arange(k, dtype=np.uint64)
    return ((h1u[:, None] + j[None, :] * step[:, None])
            % np.uint64(m_bits)).astype(np.int64)


def task_hashes(urls) -> tuple[np.ndarray, np.ndarray]:
    """Two 64-bit hashes of each URL string computed inside a pandas
    task (SipHash under two fixed keys) — the hash family of the
    disk-layout blobs (operators/diskseen.py). The gate task hashes
    candidates and the bucket's persisted seen rows with the same call,
    so a blob can be rebuilt from seen files task-side, and the
    fingerprint bits are independent of the xxhash64 bucket key."""
    vals = np.asarray(urls, dtype=object)
    return (pd.util.hash_array(vals, hash_key="urlmap-fp-h1-key", categorize=False),
            pd.util.hash_array(vals, hash_key="urlmap-fp-h2-key", categorize=False))


class BloomConfig:
    kind = "bloom"

    def __init__(self, n_buckets: int = 32, m_bits: int = 1 << 20, k: int = 5):
        self.n_buckets = n_buckets
        self.m_bits = m_bits  # bits per bucket filter (1 MiB/8 default)
        self.k = k

    def blob(self, blobs=()) -> "BloomBlob":
        return BloomBlob(self, blobs)


class BloomBlob:
    """One bucket's bloom bitmap: the probe/insert kernel every bloom
    path shares (build, merge, cogroup probe, disk gate). Several
    persisted blobs of one bucket fold by OR."""

    def __init__(self, cfg: BloomConfig, blobs=()):
        self.cfg = cfg
        self.bits = np.zeros(cfg.m_bits // 8, dtype=np.uint8)
        for b in blobs:
            self.bits |= np.frombuffer(bytes(b), dtype=np.uint8)

    def _pos(self, h1, h2) -> np.ndarray:
        return _positions_vec(np.asarray(h1), np.asarray(h2), self.cfg.m_bits, self.cfg.k)

    def probe(self, h1, h2) -> np.ndarray:
        """True where every one of the k bits is set (maybe seen)."""
        pos = self._pos(h1, h2)
        return (((self.bits[pos // 8] >> (pos % 8).astype(np.uint8)) & 1)
                .all(axis=1))

    def insert(self, h1, h2) -> None:
        pos = self._pos(h1, h2)
        # bitwise_or.AT, not fancy-index |=: when two positions land in
        # the SAME byte, buffered fancy indexing applies only one of
        # them — a silently missing bit, i.e. a bloom false negative
        # (observed on real data)
        np.bitwise_or.at(self.bits, (pos // 8).ravel(),
                         (1 << (pos % 8)).astype(np.uint8).ravel())

    def to_bytes(self) -> bytes:
        return self.bits.tobytes()


def build_filters(urls: DataFrame, cfg: BloomConfig,
                  existing: DataFrame | None = None) -> DataFrame:
    """urls(url) [+ existing (bucket, filter)] -> merged (bucket, filter).
    One applyInPandas task per bucket; merge = bitwise OR. The per-URL
    work is fully vectorized: hashes computed JVM-side, bit positions as
    one (n, k) numpy broadcast, bits set with a single bitwise_or.at
    (BloomBlob)."""
    tagged = _with_hash_cols(urls, cfg).select("_h1", "_h2", "_bk")

    def build(key, pdf: pd.DataFrame) -> pd.DataFrame:
        blob = cfg.blob()
        blob.insert(pdf["_h1"].to_numpy(), pdf["_h2"].to_numpy())
        return pd.DataFrame({"bucket": [int(key[0])], "filter": [blob.to_bytes()]})

    fresh = tagged.groupBy("_bk").applyInPandas(build, FILTER_SCHEMA)
    if existing is None:
        return fresh
    both = fresh.unionByName(existing)

    def merge(key, pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({"bucket": [int(key[0])],
                             "filter": [cfg.blob(pdf["filter"]).to_bytes()]})

    return both.groupBy("bucket").applyInPandas(merge, FILTER_SCHEMA)


def split_candidates(candidates: DataFrame, filters: DataFrame, cfg: BloomConfig,
                     url_col: str = "url") -> tuple[DataFrame, DataFrame]:
    """candidates -> (definitely_new, maybe_seen).

    FULLY DISTRIBUTED probe: candidates are cogrouped with the
    (bucket, filter) table on the bucket key and each bucket's task
    probes its own blob — the filter blobs NEVER visit the driver, so
    filter capacity is bounded by executor memory per bucket, not by
    what a collect+broadcast can carry (at the 10^10-URL design point
    the ~n*10-bit aggregate filter is ~12 GB — far past driver transit,
    but only m_bits/8 per TASK here). The cogroup shuffles candidates
    once on the 4-byte bucket key; on a cluster that shuffle replaces a
    per-round broadcast of the whole filter set to every executor.
    """
    cand = _with_hash_cols(candidates, cfg, url_col)
    schema = T.StructType(cand.schema.fields + [T.StructField("_maybe", T.BooleanType())])
    out_cols = [f.name for f in schema.fields]

    def probe(key, cpdf: pd.DataFrame, fpdf: pd.DataFrame) -> pd.DataFrame:
        out = cpdf.copy()
        if len(cpdf) == 0 or len(fpdf) == 0:
            # no candidates in this bucket, or no filter yet -> all new
            out["_maybe"] = np.zeros(len(cpdf), dtype=bool)
            return out[out_cols]
        # unmerged deltas fold by OR
        out["_maybe"] = cfg.blob(fpdf["filter"]).probe(
            cpdf["_h1"].to_numpy(), cpdf["_h2"].to_numpy())
        return out[out_cols]

    probed = cand.groupBy("_bk").cogroup(
        filters.groupBy("bucket")).applyInPandas(probe, schema)
    return (probed.filter(~F.col("_maybe")).drop("_maybe", *_HASH_COLS),
            probed.filter(F.col("_maybe")).drop("_maybe", *_HASH_COLS))


def seen_anti_join(candidates: DataFrame, seen: DataFrame,
                   filters: DataFrame | None, cfg: BloomConfig | None = None,
                   url_col: str = "url") -> DataFrame:
    """Exact NOT-IN(seen) with optional bloom prefilter: rows the bloom
    proves unseen bypass the join; the rest take the authoritative
    left_anti. Equality with the plain anti-join is pinned by tests."""
    if filters is None:
        return candidates.join(seen, url_col, "left_anti")
    cfg = cfg or BloomConfig()
    definitely_new, maybe = split_candidates(candidates, filters, cfg, url_col)
    return definitely_new.unionByName(maybe.join(seen, url_col, "left_anti"))
