"""Scalable global ordering — dense rank without a single-task sort.

The crawl needs a total crawl-order over each round's newly discovered
URLs (reference: FIFO enqueue order, internal/crawler/crawler.go:252).
A plain ``row_number().over(Window.orderBy(...))`` funnels the whole
round through ONE task; at 10^10-frontier scale that is the bottleneck.

``with_global_order`` is the classic count-offset pattern over ONE
materialized range partitioning:
  1. range-repartition + sort-within-partitions on the order keys and
     MATERIALIZE that layout (eager localCheckpoint);
  2. collect per-partition row counts (one int per task) and emit
     ``order`` = broadcast cumulative offset of the row's partition +
     its position within the partition (monotonically_increasing_id
     decomposes into exactly those two fields) — a ZERO-shuffle
     projection over the checkpointed layout.

Determinism: the RangePartitioner SAMPLES its boundaries, and two
executions of the "same" range shuffle can place a boundary a few rows
apart once partitions hold more rows than the sampler reads (observed
at the 10^7-URL operating point in the pre-r6 two-pass variant).
Materializing the layout once removes the cross-execution dependency
entirely: counts and row positions are read from the SAME stored
partitions, and because range partitions are contiguous key intervals
sorted within, offset+position is the exact global sort rank — the
same value regardless of where the sampled boundaries fell, the input
layout, or the parallelism (pinned by
tests/test_order.py::test_with_global_order_exact_rank_at_sampling_scale).

Total cost: one range shuffle + one in-partition sort + the checkpoint
write, then a free projection — the r6 optimization round removed the
old second (hash) shuffle, the window sort and the separate stats
re-shuffle (guide §2.4: two operations keyed the same way share one
exchange; here the ordering pass IS the round's materialization).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_MID_MASK = (1 << 33) - 1  # monotonically_increasing_id: pid<<33 | row-in-partition


def with_global_order(
    df: DataFrame,
    sort_cols: list[str],
    order_col: str = "order",
    start: int = 0,
    num_partitions: int | None = None,
) -> DataFrame:
    """Adds ``order_col`` = start, start+1, ... following sort_cols order.

    EAGER: materializes the range-partitioned layout (localCheckpoint)
    so counts and row positions are read from one stored partitioning —
    the returned frame is checkpoint-backed (its consumers re-read
    stored partitions instead of re-running the input plan, which is
    exactly what the crawl's round loop needs from its per-round dedup
    materialization).

    Sort keys must be distinct per row (equal keys spanning a range
    boundary would otherwise make the rank layout-dependent) and
    NON-NULL: a NULL key would silently sort first — instead, a runtime
    guard raises on the first null-keyed row when the order column
    materializes (ADVICE r4). The crawl guarantees both because
    (parent_order, pos) identifies one href slot.
    """
    if num_partitions is None:
        num_partitions = df.sparkSession.sparkContext.defaultParallelism
    keys = [F.col(c) for c in sort_cols]
    # LAZY checkpoint of the input: the range exchange's boundary
    # sampling job executes the child plan once BEFORE the shuffle pass
    # runs it again — for the crawl that child is the whole
    # canonicalize + anti-join + dedup chain, i.e. the round's most
    # expensive subtree evaluated twice (guide §7.2 duplicated work).
    # Marking it for lazy checkpoint makes the sampling pass double as
    # the materialization: the shuffle (and any later consumer) reads
    # stored partitions instead of re-running the chain.
    df = df.localCheckpoint(eager=False)
    ranged = (
        df.repartitionByRange(num_partitions, *keys)
        .sortWithinPartitions(*keys)
        .localCheckpoint(eager=True)
    )
    # one int per stored partition; absent pids (empty partitions) count 0
    cnt_rows = (
        ranged.groupBy(F.spark_partition_id().alias("_pid"))
        .agg(F.count("*").alias("cnt")).collect()
    )
    if not cnt_rows:  # empty round — nothing to order
        return ranged.withColumn(order_col, F.lit(None).cast("long")), start
    counts = {int(r["_pid"]): int(r["cnt"]) for r in cnt_rows}
    offsets, acc = {}, start
    for pid in range(max(counts) + 1):
        offsets[pid] = acc
        acc += counts.get(pid, 0)
    # order = offset(partition) + row-position-in-partition, both taken
    # from the SAME materialized layout. monotonically_increasing_id on a
    # checkpointed RDD is (partition_index << 33) + iteration position —
    # and iteration position over sorted stored partitions IS the local
    # sort rank, so this projection is the exact global rank with zero
    # additional shuffles.
    mid = F.monotonically_increasing_id()
    ordv = (
        F.element_at(
            F.array(*[F.lit(offsets[p]) for p in range(max(counts) + 1)]),
            F.shiftrightunsigned(mid, 33).cast("int") + 1)
        + mid.bitwiseAND(F.lit(_MID_MASK))
    ).cast("long")
    # contract guard: a NULL sort key violates the operator contract —
    # raise loudly instead of emitting a layout-dependent rank
    allnn = F.lit(True)
    for k in keys:
        allnn = allnn & k.isNotNull()
    ordv = F.when(allnn, ordv).otherwise(F.raise_error(F.lit(
        "with_global_order: NULL sort key "
        f"(sort_cols={sort_cols!r} must be non-null)")))
    return ranged.withColumn(order_col, ordv), acc


def first_wins(df: DataFrame, key: str, tie_cols: list[str]) -> DataFrame:
    """Keep, per key, the row with the lexicographically smallest tie_cols
    (first-discoverer-wins dedup, reference: internal/crawler/crawler.go:253
    sequential / :754 LoadOrStore concurrent). A hash-aggregate, not a
    window: Spark does partial (map-side) min before the shuffle."""
    others = [c for c in df.columns if c != key]
    packed = df.select(key, F.struct(*[F.col(c) for c in tie_cols],
                                     *[F.col(c) for c in others if c not in tie_cols]).alias("_s"))
    return (
        packed.groupBy(key).agg(F.min("_s").alias("_s")).select(key, "_s.*")
    )


# bit layout of the packed crawl tie key: parent_order | pos | depth.
# parent_order gets 38 bits (2.7e11 — past the 10^10-frontier design
# point), pos 14, depth 11; 63 bits total keeps the long positive so
# numeric min == lexicographic (parent_order, pos, depth) min.
_PK_PO_BITS, _PK_POS_BITS, _PK_D_BITS = 38, 14, 11
_PK_COLUMNS = ["url", "parent_order", "pos", "depth"]


def first_wins_packed_bounds(max_parent_order: int, max_pos: int,
                             max_depth: int) -> bool:
    """True when this round's driver-known maxima fit the packed layout
    (they essentially always do; the caller falls back to the generic
    struct form otherwise — results identical either way)."""
    return (0 <= max_parent_order < (1 << _PK_PO_BITS)
            and 0 <= max_pos < (1 << _PK_POS_BITS)
            and 0 <= max_depth < (1 << _PK_D_BITS))


def first_wins_packed(df: DataFrame) -> DataFrame:
    """first_wins specialized for the crawl candidate schema
    (url, parent_order, pos, depth), all non-null and bounds-checked by
    the caller via first_wins_packed_bounds: the three tie columns pack
    into ONE long, so the map-side partial min compares 8-byte longs
    instead of 3-field structs and the dedup exchange ships 8 bytes of
    tie key per row instead of ~24 (guide §2.3 — narrower types).
    Measured on the bench round shape (8M candidate rows, 2.5M distinct
    urls): 1.88 -> 1.27 s min, bit-equal output (r6 session-3 A/B).
    (parent_order, pos) identifies one href slot, so depth rides the
    low bits without affecting which row wins. Any other column set
    raises: the packed form would silently drop extra columns, so it
    could return a different schema than the struct form."""
    if sorted(df.columns) != sorted(_PK_COLUMNS):
        raise ValueError(f"first_wins_packed needs exactly the columns "
                         f"{_PK_COLUMNS}, got {df.columns}")
    p = df.select("url", (
        (F.col("parent_order") * F.lit(1 << (_PK_POS_BITS + _PK_D_BITS)))
        + (F.col("pos").cast("long") * F.lit(1 << _PK_D_BITS))
        + F.col("depth").cast("long")).alias("_p"))
    return (
        p.groupBy("url").agg(F.min("_p").alias("_p"))
        .select(
            "url",
            F.shiftrightunsigned("_p", _PK_POS_BITS + _PK_D_BITS)
            .alias("parent_order"),
            F.shiftrightunsigned("_p", _PK_D_BITS)
            .bitwiseAND(F.lit((1 << _PK_POS_BITS) - 1)).cast("int").alias("pos"),
            F.col("_p").bitwiseAND(F.lit((1 << _PK_D_BITS) - 1))
            .cast("int").alias("depth"),
        )
    )
