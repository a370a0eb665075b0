"""Disk-backed seen anti-join: the exact NOT-IN(seen) whose shuffle
volume is O(candidates), independent of |seen|.

The shuffled exact anti-join (seen.py fallback) exchanges BOTH sides —
at the 10^10-URL design point the seen side is ~500 GB of URL strings
re-shuffled EVERY round, which dwarfs the per-round candidate volume.
This operator removes the seen side from the shuffle entirely:

    candidates --repartition on _ub = pmod(xxhash64(url), B)-->
        one applyInPandas call per bucket reads ONLY that bucket's
        seen parquet files (written partitioned by _ub) straight from
        storage with pyarrow and anti-joins in pandas.

The grouping exchange is a plain groupBy, so AQE may coalesce a small
round's buckets into fewer tasks (at bench scale all B buckets run in
one task, one call after another); a big round keeps its partitions.
An explicit-count ``repartition(B, "_ub")``, which AQE leaves alone,
was measured slower on the bench crawl (more Python workers, more CPU
and memory for sub-second bucket work), so the grouping stays plain.

Seen bytes move disk -> task memory, never through an exchange; the
only shuffle ships the candidates plus a 4-byte bucket key. This is
the shim-level analog of an Iceberg storage-partitioned join (Spark
SPJ over a bucket-transform-partitioned table): the join aligns with
the table's persisted bucketing instead of re-hashing it. The same
layout/contract as the streaming ingest's bucketed seen store.

This is the crawl's only prefilter layout (``CrawlConfig.bloom_seen``
requires ``disk_seen``): while seen fits in memory the broadcast or
shuffled-hash anti-join beats a probabilistic pre-pass, and a filter
pays off through bounded memory and deletion, which is this path and
maintenance.retire_urls. With a bloom/cuckoo prefilter the whole seen
gate is ONE grouped pass on the same bucket key (``filter_gate``).
Each bucket task

1. reads its own prefilter blob task-side from the last committed
   round's ``seen_filters/_ub=<b>/`` (the blobs are partitioned like
   seen, one deflated blob per disk bucket);
2. probes the bucket's candidates against it;
3. reads the bucket's seen files only when some candidate is "maybe
   seen", and probes exactly only those rows;
4. inserts the new URLs' fingerprints into the blob;
5. emits the new rows plus one updated blob row (a dummy row per
   bucket makes every bucket's task run, so untouched buckets carry
   their blob forward).

The caller commits the blob rows as the round's ``seen_filters``, so
the blobs never visit the driver, never ride a cogroup, and are never
folded by a separate build/merge pass. A bucket without a blob (first
gated round, a checkpoint with another blob layout, a round that took
the broadcast path) rebuilds its blob from the seen files it reads
anyway — exact by construction. Fingerprints are hashed inside the task
(seen.task_hashes), so they are independent of the xxhash64 bucket key
and the same for candidates and persisted seen rows.

Memory per task = |seen|/B rows of one column plus one blob: B is the
scale knob (10^10 URLs / 4096 buckets ~ 2.4M urls ~ 150 MB per task;
tests use small B). Many-rounds small-file accretion inside each bucket
dir is handled by the existing catalog compaction (which preserves the
_ub partitioning for seen_delta).

Exactness: the candidate->bucket key and the persisted row->bucket key
are the same JVM expression, so a candidate's matching seen row can
only live in the candidate's own bucket; within a bucket the match is
literal string equality (pandas hash join). A prefilter false positive
only costs the exact probe; a false negative cannot happen, because
every blob covers every seen row of its bucket (built from them, then
extended by each round's new URLs before they are committed). Equality
with the plain anti-join is pinned by tests including full-crawl
parity.
"""

from __future__ import annotations

import os
import zlib
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .seen import task_hashes

LAYOUT = "_ub"  # seen_filter_cfg tag of the one-blob-per-disk-bucket layout


def bucket_expr(url_col: str, n_buckets: int):
    """The shared row->bucket key (JVM-side; identical for persisted
    seen rows and probe candidates)."""
    return F.pmod(F.xxhash64(url_col), F.lit(n_buckets)).cast("int")


def with_bucket(df: DataFrame, n_buckets: int, url_col: str = "url") -> DataFrame:
    return df.withColumn("_ub", bucket_expr(url_col, n_buckets))


def filter_config(kind: str, n_buckets: int, total_bits: int):
    """Disk-layout prefilter config: ``total_bits`` split evenly over
    one blob per disk bucket (each rounded down to a multiple of 64)."""
    from .cuckoo import CuckooConfig
    from .seen import BloomConfig

    bits = max(64, total_bits // n_buckets // 64 * 64)
    if kind == "cuckoo":
        return CuckooConfig(n_buckets, bits)
    if kind == "bloom":
        return BloomConfig(n_buckets, bits)
    raise ValueError(f"unknown seen_filter: {kind!r}")


def layout_record(cfg) -> list:
    """What a round's metrics record as ``seen_filter_cfg`` for blobs in
    this layout; the 4th field tells it apart from the 3-field record
    of the retired in-memory (bucket, filter) layout, so a checkpoint
    with other blobs is rebuilt from seen, never misread."""
    return [cfg.kind, cfg.n_buckets, cfg.m_bits, LAYOUT]


def _pack(blob) -> bytes:
    """Blobs in this layout are stored deflated: a blob sized for the
    design point is mostly empty slots, and every round ships, holds and
    writes one per bucket."""
    return zlib.compress(blob.to_bytes(), 1)


def _unpack(stored) -> list[bytes]:
    return [zlib.decompress(bytes(b)) for b in stored]


def _bucket_urls(dirs: list[str], b: int, url_col: str) -> pd.Series:
    import pyarrow.parquet as pq

    slices = [pq.read_table(p, columns=[url_col]).column(url_col).to_pandas()
              for p in (os.path.join(d, f"_ub={b}") for d in dirs)
              if os.path.isdir(p)]
    return pd.concat(slices, ignore_index=True) if slices else pd.Series([], dtype=object)


def disk_anti_join(candidates: DataFrame, seen_table_dirs: list[str],
                   n_buckets: int, url_col: str = "url") -> DataFrame:
    """candidates NOT IN (url rows persisted under seen_table_dirs).

    seen_table_dirs: parquet table dirs, each written partitionBy("_ub")
    with the SAME n_buckets (e.g. the catalog's per-round seen_delta
    dirs plus its compaction snapshot). Dirs/buckets with no files are
    skipped — a bucket that receives no candidates is never read at all
    (the pruning is physical: the task list, not a filter).
    """
    dirs = list(seen_table_dirs)
    cand = with_bucket(candidates, n_buckets, url_col)
    out_cols = list(candidates.columns)

    def anti(key, pdf):
        seen_vals = _bucket_urls(dirs, int(key[0]), url_col)
        if len(seen_vals):
            pdf = pdf[~pdf[url_col].isin(seen_vals)]
        return pdf[out_cols]

    return cand.groupBy("_ub").applyInPandas(anti, candidates.schema)


def _placeholder(f: T.StructField):
    """A typed non-null filler for the dummy/blob rows' candidate
    columns: a null in an integer column would turn it into float64 on
    its way into pandas (and cost precision past 2**53)."""
    if isinstance(f.dataType, T.NumericType):
        return F.lit(0).cast(f.dataType)
    if isinstance(f.dataType, T.BooleanType):
        return F.lit(False)
    return F.lit(None).cast(f.dataType)


def filter_gate(candidates: DataFrame, seen_table_dirs: list[str],
                n_buckets: int, cfg, filter_dir: str | None,
                url_col: str = "url") -> DataFrame:
    """The one-pass prefiltered seen gate (module doc): candidates
    (non-null ``url_col``) -> rows of the candidates' columns plus
    ``_ub``, ``filter``, ``_maybe`` and ``_new``. Rows with a url are
    the new candidates; the n_buckets rows with a null url carry each
    bucket's updated blob in ``filter`` and the bucket's count of
    candidates the blob could not rule out (``_maybe``) or proved new
    (``_new``). filter_dir: the committed ``seen_filters`` dir in this
    layout, or None to rebuild every blob from the seen files."""
    dirs = list(seen_table_dirs)
    spark = candidates.sparkSession
    cols = list(candidates.columns)
    dummies = spark.range(n_buckets).select(
        *[(F.lit(None).cast(f.dataType) if f.name == url_col else _placeholder(f))
          .alias(f.name) for f in candidates.schema.fields],
        F.col("id").cast("int").alias("_ub"))
    grouped = with_bucket(candidates, n_buckets, url_col).unionByName(dummies)
    schema = T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in candidates.schema.fields]
        + [T.StructField("_ub", T.IntegerType()),
           T.StructField("filter", T.BinaryType()),
           T.StructField("_maybe", T.LongType()),
           T.StructField("_new", T.LongType())])

    def gate(key, pdf: pd.DataFrame) -> pd.DataFrame:
        import pyarrow.parquet as pq

        b = int(key[0])
        is_cand = pdf[url_col].notna().to_numpy()
        cand = pdf[is_cand]
        urls = cand[url_col].to_numpy(dtype=object)
        bdir = os.path.join(filter_dir, f"_ub={b}") if filter_dir else None
        prev = (pq.read_table(bdir, columns=["filter"]).column("filter").to_pylist()
                if bdir and os.path.isdir(bdir) else [])
        blob = cfg.blob(_unpack(prev))
        h1, h2 = task_hashes(urls)
        maybe = blob.probe(h1, h2) if prev else np.ones(len(urls), dtype=bool)
        hit = np.zeros(len(urls), dtype=bool)
        if maybe.any() or not prev:
            seen = _bucket_urls(dirs, b, url_col)
            if not prev and len(seen):
                blob.insert(*task_hashes(seen.to_numpy(dtype=object)))
            if len(seen):
                hit[maybe] = pd.Series(urls[maybe]).isin(seen).to_numpy()
        blob.insert(h1[~hit], h2[~hit])
        out = cand[~hit][cols].assign(_ub=b, filter=None, _maybe=0, _new=0)
        row = pdf[~is_cand].iloc[:1][cols].assign(
            _ub=b, filter=[_pack(blob)], _maybe=int(maybe.sum()),
            _new=int(len(urls) - maybe.sum()))
        return pd.concat([out, row], ignore_index=True)

    return grouped.groupBy("_ub").applyInPandas(gate, schema)


@dataclass
class SeenGate:
    """The disk seen gate's result: the candidates not in seen, plus —
    with a prefilter — the updated (_ub, filter) blob rows to commit as
    the round's ``seen_filters``, and the Observation that reports the
    gate's ``filter_maybe`` / ``filter_new`` counts once those rows are
    written."""
    new: DataFrame
    filters: DataFrame | None = None
    observation: Observation | None = None


def disk_seen_anti_join(candidates: DataFrame, seen_table_dirs: list[str],
                        n_buckets: int,
                        filter_cfg=None,
                        filter_dir: str | None = None,
                        extra_seen: DataFrame | None = None,
                        url_col: str = "url") -> SeenGate:
    """The full seen gate in disk mode. First a broadcast anti-join
    against `extra_seen` — the handful of seen URLs never committed to
    disk (the seed list); always small, so broadcasting is free, and
    since it runs before the gate those URLs are never inserted into a
    blob. Then, without a prefilter, the disk-backed exact anti-join;
    with one (filter_cfg, a disk-layout config from filter_config), the
    one-pass filter_gate behind a lazy checkpoint: the first job that
    reads the new rows runs the gate once, and the blob rows are read
    back from that stored result. Their Observation rides the job that
    writes them — no job of its own."""
    out = candidates
    if extra_seen is not None:
        out = out.join(F.broadcast(extra_seen.select(F.col(url_col))),
                       url_col, "left_anti")
    if filter_cfg is None:
        return SeenGate(disk_anti_join(out, seen_table_dirs, n_buckets, url_col))
    obs = Observation()
    gated = filter_gate(out, seen_table_dirs, n_buckets, filter_cfg, filter_dir,
                        url_col).localCheckpoint(eager=False)
    is_blob = F.col(url_col).isNull()
    return SeenGate(
        new=gated.filter(~is_blob).select(*candidates.columns),
        filters=gated.filter(is_blob).observe(
            obs, F.sum("_maybe").alias("filter_maybe"),
            F.sum("_new").alias("filter_new")).select("_ub", "filter"),
        observation=obs)


def remove_urls(filters: DataFrame, urls: DataFrame, cfg,
                url_col: str = "url") -> DataFrame:
    """Delete retired URLs' fingerprints from disk-layout cuckoo blobs
    (_ub, filter): the retired URLs are bucketed by the same key and
    hashed by the same task-side hashes as the gate's inserts. Only
    URLs that were inserted may be deleted (cuckoo.remove_urls)."""
    tagged = with_bucket(urls.select(url_col), cfg.n_buckets, url_col)
    schema = T.StructType([T.StructField("_ub", T.IntegerType()),
                           T.StructField("filter", T.BinaryType())])

    def drop(key, fpdf: pd.DataFrame, updf: pd.DataFrame) -> pd.DataFrame:
        if len(fpdf) == 0:  # removals for a bucket with no blob: no-op
            return pd.DataFrame({"_ub": [], "filter": []})
        blob = cfg.blob(_unpack(fpdf["filter"]))
        blob.delete(*task_hashes(updf[url_col].to_numpy(dtype=object)))
        return pd.DataFrame({"_ub": [int(key[0])], "filter": [_pack(blob)]})

    return filters.groupBy("_ub").cogroup(tagged.groupBy("_ub")).applyInPandas(
        drop, schema)
