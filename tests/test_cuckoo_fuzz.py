"""Property fuzz of the cuckoo-filter core (numpy level, no Spark):
the invariants the Spark tests pin at fixed seeds, here under
hypothesis-generated adversarial hash pairs — including the degenerate
ones (duplicate keys, all-equal hashes, hashes differing only in high
bits) that seeded corpora never produce.

Invariants:
  1. no false negatives: every inserted key probes 'maybe';
  2. partner relation is an involution (what makes merge/delete work);
  3. serialize/deserialize round-trips exactly;
  4. merge preserves membership of both sides;
  5. deleting inserted keys never creates a false negative for any
     OTHER inserted key (each insert placed its own copy).
"""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from urlmap_spark.operators.cuckoo import (
    CuckooConfig,
    _deserialize,
    _fp_rows,
    _insert_one,
    _partner,
    _serialize,
)

CFG = CuckooConfig(n_buckets=1, m_bits=1 << 10, max_kicks=16)

i64 = st.integers(min_value=-(2**63), max_value=2**63 - 1)
pairs = st.lists(st.tuples(i64, i64), max_size=200)


def _build(hash_pairs, cfg=CFG):
    table = np.zeros((cfg.n_rows, cfg.bucket_slots), dtype=np.uint16)
    stash: list = []
    if hash_pairs:
        h1 = np.array([p[0] for p in hash_pairs], dtype=np.int64)
        h2 = np.array([p[1] for p in hash_pairs], dtype=np.int64)
        fp, r1, _ = _fp_rows(h1, h2, cfg)
        for i in range(len(fp)):
            _insert_one(table, stash, int(r1[i]), int(fp[i]), cfg, i)
    return table, stash


def _probe(table, stash, hash_pairs, cfg=CFG):
    if not hash_pairs:
        return np.zeros(0, dtype=bool)
    h1 = np.array([p[0] for p in hash_pairs], dtype=np.int64)
    h2 = np.array([p[1] for p in hash_pairs], dtype=np.int64)
    fp, r1, r2 = _fp_rows(h1, h2, cfg)
    hit = (table[r1] == fp[:, None]).any(axis=1) | \
          (table[r2] == fp[:, None]).any(axis=1)
    if stash:
        hit |= np.isin(fp, np.asarray(stash, dtype=np.uint16))
    return hit


@settings(max_examples=200, deadline=None)
@given(pairs)
def test_no_false_negatives(hash_pairs):
    table, stash = _build(hash_pairs)
    assert _probe(table, stash, hash_pairs).all()


@settings(max_examples=200, deadline=None)
@given(i64, st.integers(min_value=1, max_value=(1 << 16) - 1))
def test_partner_is_involution(h2, fp):
    row = int(np.int64(h2).view(np.uint64) & np.uint64(CFG.n_rows - 1))
    assert _partner(_partner(row, fp, CFG), fp, CFG) == row


@settings(max_examples=100, deadline=None)
@given(pairs)
def test_serialize_round_trip(hash_pairs):
    table, stash = _build(hash_pairs)
    t2, s2 = _deserialize(_serialize(table, stash))
    assert (t2 == table).all()
    assert list(s2) == [int(x) for x in stash]


@settings(max_examples=100, deadline=None)
@given(pairs, pairs)
def test_merge_preserves_membership(a, b):
    # replicate build_filters' merge: reinsert every occupied entry of
    # the second table into the first at its CURRENT row (legal because
    # the partner relation recovers the other row from (row, fp))
    ta, sa = _build(a)
    tb, sb = _build(b)
    stash = list(sa)
    rows, cols = np.nonzero(tb)
    for r, c in zip(rows, cols):
        _insert_one(ta, stash, int(r), int(tb[r, c]), CFG, int(r))
    stash.extend(int(x) for x in sb)
    assert _probe(ta, stash, a + b).all()


@settings(max_examples=100, deadline=None)
@given(pairs, st.data())
def test_delete_inserted_keeps_others(hash_pairs, data):
    table, stash = _build(hash_pairs)
    n = len(hash_pairs)
    k = data.draw(st.integers(min_value=0, max_value=n))
    gone, kept = hash_pairs[:k], hash_pairs[k:]
    if gone:
        h1 = np.array([p[0] for p in gone], dtype=np.int64)
        h2 = np.array([p[1] for p in gone], dtype=np.int64)
        fp, r1, r2 = _fp_rows(h1, h2, CFG)
        for i in range(len(fp)):  # remove_urls' inner loop
            f = int(fp[i])
            for r in (int(r1[i]), int(r2[i])):
                hit = np.nonzero(table[r] == f)[0]
                if len(hit):
                    table[r, hit[0]] = 0
                    break
            else:
                if f in stash:
                    stash.remove(f)
    assert _probe(table, stash, kept).all()
