"""Politeness as a plan property: per-host quotas and a global cap.

The reference enforces politeness with wall-clock sleeps (crawl-delay,
reference: internal/crawler/crawler.go:603-606) and a token-bucket rate
limiter (reference: internal/progress/progress.go:108-159). In a batch
engine those become DETERMINISTIC per-round budgets: a host with
crawl-delay d gets floor(round_budget / d) fetches per round; the global
rate limit R becomes a cap of R * round_budget rows per round. Overflow
rows are never dropped — they stay in the frontier for the next round
(delays, never drops: the final URL-seen set is unchanged).

Skew note (north_rule): BOTH top-k stages are two-phase windows — the
per-host quota ranks within (host, salt) first, then re-ranks the
per-salt survivors per host (the losers stay in their (host, salt)
groups, so the two windows form one chain that flags every row); the
global cap ranks within a hash salt first, then exactly over
<= cap_salts * cap survivors. No window ever sorts the whole frontier
in one task, so hot Zipf hosts and large frontiers never concentrate.
The crawl takes the schedule as ONE flagged frame (``flag_col``) and
stores it with one job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _cap_phase1(sched: DataFrame, global_cap: int, sort_cols,
                cap_salts: int) -> tuple[DataFrame, DataFrame]:
    """Global-cap phase 1: rank within a hash salt; any row in the true
    global top-cap is also in its own salt's top-cap, so the per-salt
    survivors are a superset of the answer. Split out so the salted
    WindowGroupLimit plan shape stays independently assertable
    (tools/dump_plans.py) now that phase 2's ordering pass materializes
    its input — the final schedule plan shows the stored layout, not
    this window chain. Returns (survivors with _gs/_g1, losers)."""
    g = sched.withColumn("_gs", F.pmod(F.xxhash64("url"), F.lit(cap_salts)))
    w1 = Window.partitionBy("_gs").orderBy(*sort_cols)
    g = g.withColumn("_g1", F.row_number().over(w1))
    surv = g.filter(F.col("_g1") <= global_cap)
    losers = g.filter(F.col("_g1") > global_cap).drop("_g1", "_gs")
    return surv, losers


def schedule_frontier(
    frontier: DataFrame,
    host_quota: DataFrame | None = None,
    default_quota: int | None = None,
    global_cap: int | None = None,
    order_col: str = "order",
    n_salts: int = 16,
    cap_salts: int = 64,
    priority_col: str | None = None,
    flag_col: str | None = None,
) -> tuple[DataFrame, DataFrame] | DataFrame:
    """Returns (scheduled, deferred) — or, with ``flag_col``, ONE frame of
    every input row with a boolean ``flag_col`` (True = scheduled), the
    form the crawl materializes once per round. Without a global cap the
    flags come out of one window chain (two exchanges, no union).

    host_quota: optional DataFrame(host, quota int) — e.g. derived from
    robots crawl-delay as floor(budget_s / crawl_delay_s).
    default_quota: quota for hosts absent from host_quota (None = no limit).
    global_cap: max scheduled rows per round (None = no limit); lowest
    ``order`` (earliest-discovered) rows win, matching FIFO semantics.
    priority_col: optional numeric column — when set, the frontier is a
    PRIORITY queue (north_rule): budget winners are picked by highest
    priority first, FIFO ``order`` breaking ties, in every stage (per-host
    quota and global cap). The composite key stays distinct per row
    (``order`` is globally unique), so both two-phase top-k stages keep
    their exactness and skew bounds unchanged.
    """
    # few DataFrame calls on purpose: each one re-analyzes the plan so far
    # on the JVM, and the crawl builds this plan every round
    flag = flag_col or "_sched"
    cols = {"_host": F.expr("try_parse_url(url, 'HOST')")}
    if priority_col is not None:
        # ascending surrogate: rank by (-priority, order) == priority desc.
        # Null priorities coalesce to -inf (null = LOWEST priority, never
        # highest): Spark's default asc ordering puts nulls FIRST, so a
        # partial priority_expr like `CASE WHEN depth = 0 THEN 10 END`
        # would otherwise hand its unmatched (null) rows top priority —
        # and the normalization keeps null placement identical between
        # the phase-1 windows and with_global_order's range shuffle.
        # Uniform double cast; priorities needing > 2^53 integer
        # distinctions are out of scope (document, don't support).
        cols["_pk"] = -F.coalesce(F.col(priority_col).cast("double"),
                                  F.lit(float("-inf")))
        sort_names = ["_pk", order_col]
    else:
        sort_names = [order_col]
    sort_cols = [F.col(c) for c in sort_names]
    # the global cap still sorts on _pk
    keep = frontier.columns + (["_pk"] if priority_col is not None
                               and global_cap is not None else [])
    if host_quota is not None or default_quota is not None:
        # phase 1: rank within (host, salt) — bounds any single task even
        # when one host dominates the round
        cols["_salt"] = F.pmod(F.xxhash64("url"), F.lit(n_salts))
        w1 = Window.partitionBy("_host", "_salt").orderBy(*sort_cols)
        if host_quota is not None:
            f = frontier.withColumns(cols).join(
                F.broadcast(host_quota.select(F.col("host").alias("_host"), "quota")),
                "_host", "left")
            quota = F.coalesce(F.col("quota"), F.lit(default_quota))
        else:
            f = frontier.withColumns(cols)
            quota = F.lit(default_quota)
        f = f.withColumns({"quota": quota, "_r1": F.row_number().over(w1)})
        # survivors: at most `quota` per salt can ever make the final cut
        keep1 = F.col("quota").isNull() | (F.col("_r1") <= F.col("quota"))
        # phase 2: exact per-host rank over the (<= n_salts * quota)
        # survivors, grouped per host, while the losers stay in their
        # phase-1 (host, salt) groups — one window chain, and no window
        # group outgrows phase 1's bound
        w2 = Window.partitionBy(
            "_host", F.when(keep1, F.lit(-1)).otherwise(F.col("_salt"))
        ).orderBy(*sort_cols)
        f = f.select(*keep, (keep1 & (F.col("quota").isNull()
                                      | (F.row_number().over(w2) <= F.col("quota"))))
                     .alias(flag))
    else:
        f = frontier.withColumns(cols).select(*keep, F.lit(True).alias(flag))
    if global_cap is None:
        if flag_col is not None:
            return f
        return f.filter(F.col(flag)).drop(flag), f.filter(~F.col(flag)).drop(flag)
    # Deterministic top-k by discovery order, TWO-PHASE so no stage
    # ever sees the whole frontier — or even the whole survivor set —
    # in one task:
    #   phase 1: rank within a hash salt — any row in the true global
    #     top-cap is also within the top-cap of its own salt, so the
    #     per-salt top-cap survivors are a superset of the answer;
    #   phase 2: exact global rank over <= cap_salts * global_cap
    #     survivors via the count-offset pattern (range shuffle +
    #     per-partition rank + broadcast offsets, order.py) — a
    #     global-cap of 10^7 would put cap_salts*cap rows in ONE task
    #     under a partitionless window; here no task ever holds more
    #     than survivors/parallelism rows.
    # Overflow rows re-queue (delays, never drops).
    from .order import with_global_order

    surv, losers = _cap_phase1(f.filter(F.col(flag)).drop(flag), global_cap,
                               sort_cols, cap_salts)
    # order values are globally unique (with_global_order assigns
    # them), satisfying the distinct-sort-key requirement
    surv, _ = with_global_order(surv, sort_names, order_col="_g2", start=1)
    deferred = f.filter(~F.col(flag)).drop(flag).unionByName(
        surv.filter(F.col("_g2") > global_cap).drop("_g1", "_g2", "_gs")
    ).unionByName(losers)
    sched = surv.filter(F.col("_g2") <= global_cap).drop("_g1", "_g2", "_gs")
    if priority_col is not None:
        sched, deferred = sched.drop("_pk"), deferred.drop("_pk")
    if flag_col is not None:
        return sched.withColumn(flag_col, F.lit(True)).unionByName(
            deferred.withColumn(flag_col, F.lit(False)))
    return sched, deferred


def quota_from_delays(delays: DataFrame, round_budget_s: float) -> DataFrame:
    """robots crawl-delay -> per-round fetch quota (>=1 so progress is
    always possible; a delay longer than the budget degrades to 1/round)."""
    return delays.select(
        "host",
        F.greatest(F.floor(F.lit(round_budget_s) / F.col("crawl_delay_s")), F.lit(1))
        .cast("int").alias("quota"),
    )
