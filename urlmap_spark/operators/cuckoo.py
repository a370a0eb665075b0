"""Partitioned cuckoo-filter URL-seen prefilter — the second structure
named by the north_rule ("partitioned bloom/cuckoo URL-seen").

Same contract and plumbing as the bloom in seen.py. The crawl runs it
in the disk seen gate's layout only (operators/diskseen.py): one blob
per disk-seen bucket that the gate's own bucket task reads, probes,
extends with the round's new URLs and emits — no separate build, merge
or cogroup pass — and maintenance.retire_urls deletes from those blobs.
The (bucket, filter) frame API (``build_filters``, ``split_candidates``,
``seen_anti_join`` — seen.py's generic set, re-exported here — and
``remove_urls``: one applyInPandas task per bucket, probed by a
bucket-cogroup) is kept for the declared queries
``seen-cuckoo-anti-join`` / ``seen-cuckoo-delete`` and the plan dump;
the crawl never builds it. Either way the blobs never visit the
driver, and the filter is ALWAYS backed by the exact
anti-join — a false positive costs an extra exact check, a false
negative cannot happen by construction:

- an inserted fingerprint lives in one of its two buckets or in the
  overflow stash (insertion never silently drops — eviction chains
  that exhaust max_kicks push the displaced fingerprint to the stash,
  and the probe checks the stash too);
- fingerprints are non-zero by construction (0 marks an empty slot).

vs the bloom: ~same space at far lower false-positive rates under
partial occupancy (16-bit fingerprints, 4-way buckets), and native
DELETION support (drop one copy of the fingerprint) — the bloom can
only grow, so retiring URLs (e.g. recrawl-after-TTL) needs a rebuild
there but is an O(1) slot clear here.

The frame API hashes JVM-side (the same _with_hash_cols columns the
bloom uses); the disk layout hashes inside its task (seen.task_hashes).
Probe, insert and delete are one kernel (CuckooBlob) for every path;
fingerprint/index math is vectorized numpy. Insertion places every
fingerprint whose first or second row has a free slot in two
vectorized passes; only the rest (a few % at design occupancy) walk
the per-fingerprint eviction chain, which is inherently sequential. The PROBE (the per-candidate hot path) is fully
vectorized.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from .seen import (  # noqa: F401 — the frame API, generic over cfg.blob()
    FILTER_SCHEMA,
    _with_hash_cols,
    build_filters,
    seen_anti_join,
    split_candidates,
)

_FP_MULT = np.uint64(0x5BD1E995)  # odd mixer for the partner-index hash


class CuckooConfig:
    """Drop-in for BloomConfig: (n_buckets, m_bits) sizes the table to
    the same per-bucket byte budget as a bloom of m_bits bits."""

    kind = "cuckoo"

    def __init__(self, n_buckets: int = 32, m_bits: int = 1 << 22,
                 bucket_slots: int = 4, fp_bits: int = 16,
                 max_kicks: int = 250):
        self.n_buckets = n_buckets
        self.m_bits = m_bits
        self.bucket_slots = bucket_slots
        self.fp_bits = fp_bits
        self.max_kicks = max_kicks
        # bytes budget m_bits/8; entries are uint16 -> m_bits/16 slots
        total_slots = max(bucket_slots, m_bits // 16)
        rows = max(1, total_slots // bucket_slots)
        self.n_rows = 1 << (int(rows).bit_length() - 1)  # pow2 floor

    def blob(self, blobs=()) -> "CuckooBlob":
        return CuckooBlob(self, blobs)


def _fp_rows(h1: np.ndarray, h2: np.ndarray, cfg: CuckooConfig):
    """(n,) int64 hash arrays -> (fp uint16 nonzero, row1, row2).
    Partner relation row2 = row1 XOR g(fp) is an involution, so either
    row recovers the other — which is what makes merge and deletion
    possible without the original key."""
    mask = np.uint64(cfg.n_rows - 1)
    fp = (h1.astype(np.uint64) % np.uint64((1 << cfg.fp_bits) - 1)) + np.uint64(1)
    r1 = h2.astype(np.uint64) & mask
    r2 = r1 ^ ((fp * _FP_MULT) & mask)
    return fp.astype(np.uint16), r1.astype(np.int64), r2.astype(np.int64)


def _partner(row: int, fp: int, cfg: CuckooConfig) -> int:
    mask = np.uint64(cfg.n_rows - 1)
    return int(np.int64(np.uint64(row) ^ ((np.uint64(fp) * _FP_MULT) & mask)))


def _insert_one(table: np.ndarray, stash: list, row: int, fp: int,
                cfg: CuckooConfig, kick_seed: int) -> None:
    """Place fp at row (or its partner), kicking residents on conflict;
    overflow goes to the stash — never dropped."""
    for r in (row, _partner(row, fp, cfg)):
        free = np.nonzero(table[r] == 0)[0]
        if len(free):
            table[r, free[0]] = fp
            return
    r = row
    for kick in range(cfg.max_kicks):
        victim = (kick_seed + kick) % cfg.bucket_slots
        fp, table[r, victim] = int(table[r, victim]), fp
        r = _partner(r, fp, cfg)
        free = np.nonzero(table[r] == 0)[0]
        if len(free):
            table[r, free[0]] = fp
            return
    stash.append(fp)


def _serialize(table: np.ndarray, stash: list) -> bytes:
    head = np.array([table.shape[0], table.shape[1], len(stash)],
                    dtype=np.int64)
    return head.tobytes() + table.tobytes() + \
        np.array(stash, dtype=np.uint16).tobytes()


def _deserialize(blob: bytes):
    head = np.frombuffer(blob[:24], dtype=np.int64)
    rows, slots, n_stash = int(head[0]), int(head[1]), int(head[2])
    t_end = 24 + rows * slots * 2
    table = np.frombuffer(blob[24:t_end], dtype=np.uint16) \
        .reshape(rows, slots).copy()
    stash = np.frombuffer(blob[t_end:t_end + n_stash * 2], dtype=np.uint16)
    return table, stash


def _place(table: np.ndarray, rows: np.ndarray, fps: np.ndarray) -> np.ndarray:
    """Vectorized placement without eviction: entries that share a row
    claim that row's free slots in turn (rank within the row against
    the running count of free slots). Returns the mask of entries
    placed; the rest need their partner row or the eviction loop."""
    placed = np.zeros(len(rows), dtype=bool)
    if not len(rows):
        return placed
    order = np.argsort(rows, kind="stable")
    rs, fs = rows[order], fps[order]
    run_start = np.flatnonzero(np.r_[True, rs[1:] != rs[:-1]])
    rank = np.arange(len(rs)) - np.repeat(run_start,
                                          np.diff(np.r_[run_start, len(rs)]))
    free = np.cumsum(table[rs] == 0, axis=1)  # free slots up to each column
    ok = rank < free[:, -1]
    slot = np.argmax(free[ok] > rank[ok, None], axis=1)
    table[rs[ok], slot] = fs[ok]
    placed[order[ok]] = True
    return placed


class CuckooBlob:
    """One bucket's cuckoo table plus its overflow stash: the
    probe/insert/delete kernel every cuckoo path shares (build, merge,
    cogroup probe, removal, disk gate). Several persisted blobs of one
    bucket fold into the first — possible (unlike a generic hash set)
    because an entry's current row IS one of its two legal rows and the
    partner relation is an involution."""

    def __init__(self, cfg: CuckooConfig, blobs=()):
        self.cfg = cfg
        blobs = list(blobs)
        if blobs:
            self.table, st0 = _deserialize(bytes(blobs[0]))
            self.stash = [int(x) for x in st0]
        else:
            self.table = np.zeros((cfg.n_rows, cfg.bucket_slots), dtype=np.uint16)
            self.stash = []
        for b in blobs[1:]:
            t2, s2 = _deserialize(bytes(b))
            rows, cols = np.nonzero(t2)
            fp = t2[rows, cols]
            mask = np.uint64(cfg.n_rows - 1)
            partner = (rows.astype(np.uint64)
                       ^ ((fp.astype(np.uint64) * _FP_MULT) & mask)).astype(np.int64)
            self._insert(fp, rows.astype(np.int64), partner)
            self.stash.extend(int(x) for x in s2)

    def _insert(self, fp, r1, r2) -> None:
        # vectorized first and second choice; only what finds both rows
        # full (a few % at design occupancy) takes the sequential
        # eviction loop. Placement differs from pure-sequential
        # insertion but membership — the only observable through the
        # probe — is identical: every fingerprint lands in one of its
        # two legal rows or the stash.
        left = np.flatnonzero(~_place(self.table, r1, fp))
        left = left[~_place(self.table, r2[left], fp[left])]
        for i, j in enumerate(left):
            _insert_one(self.table, self.stash, int(r1[j]), int(fp[j]),
                        self.cfg, i)

    def insert(self, h1, h2) -> None:
        self._insert(*_fp_rows(np.asarray(h1), np.asarray(h2), self.cfg))

    def probe(self, h1, h2) -> np.ndarray:
        """True where the fingerprint sits in either legal row or the
        stash (maybe seen)."""
        fp, r1, r2 = _fp_rows(np.asarray(h1), np.asarray(h2), self.cfg)
        t = self.table
        maybe = (t[r1] == fp[:, None]).any(axis=1) | (t[r2] == fp[:, None]).any(axis=1)
        if self.stash:
            maybe |= np.isin(fp, np.array(self.stash, dtype=np.uint16))
        return maybe

    def delete(self, h1, h2) -> None:
        """Drop one stored copy of each fingerprint (callers delete only
        URLs that were inserted — see remove_urls)."""
        fp, r1, r2 = _fp_rows(np.asarray(h1), np.asarray(h2), self.cfg)
        for i in range(len(fp)):
            f = int(fp[i])
            for r in (int(r1[i]), int(r2[i])):
                hit = np.nonzero(self.table[r] == f)[0]
                if len(hit):
                    self.table[r, hit[0]] = 0
                    break
            else:
                if f in self.stash:
                    self.stash.remove(f)

    def to_bytes(self) -> bytes:
        return _serialize(self.table, self.stash)


def remove_urls(filters: DataFrame, urls: DataFrame,
                cfg: CuckooConfig) -> DataFrame:
    """Delete one stored copy of each URL's fingerprint — the operation
    a bloom cannot do (recrawl-after-TTL / seen-set retirement without
    a rebuild).

    Textbook cuckoo-filter constraint: ONLY delete URLs that were
    actually inserted. Deleting a never-inserted URL whose fingerprint
    collides with a resident entry removes someone else's copy and can
    create a false negative — callers must pair removals with the
    authoritative seen-table delete (the filter is a cache of that
    table, never the source of truth)."""
    # cogroup, NOT a union: unioning the int64 hash columns with the
    # filter rows' nulls coerces them to float64 in Arrow/pandas, which
    # silently loses low bits of the hashes (observed: removals that
    # never match). Each cogroup side keeps its own schema.
    tagged = _with_hash_cols(urls, cfg).select("_h1", "_h2", "_bk")

    def drop(key, fpdf: pd.DataFrame, updf: pd.DataFrame) -> pd.DataFrame:
        if len(fpdf) == 0:  # removals for a bucket with no filter: no-op
            return pd.DataFrame({"bucket": [], "filter": []})
        # unmerged deltas fold first — deleting from only one blob would
        # leave the copy in another blob findable
        blob = cfg.blob(fpdf["filter"])
        blob.delete(updf["_h1"].to_numpy(), updf["_h2"].to_numpy())
        return pd.DataFrame({"bucket": [int(key[0])], "filter": [blob.to_bytes()]})

    return filters.groupBy("bucket").cogroup(
        tagged.groupBy("_bk")).applyInPandas(drop, FILTER_SCHEMA)
