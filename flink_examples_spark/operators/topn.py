"""Windowed / grouped top-N (SURVEY.md §2.7).

Reference: topn/HotItems.java:79-147 — after a sliding-window count, key
by windowEnd, buffer all (item, count) rows in ListState, fire an
event-time timer at windowEnd+1, sort desc, take top 3.

In Spark the buffering + timer machinery disappears: a rank window
function over ``partitionBy(windowEnd)`` is the same computation, planned
as one shuffle + in-partition sort. The ordering is made TOTAL (count
desc, then key asc) so top-N membership is deterministic under ties —
the reference relies on arrival order, which is not reproducible.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def top_n_per_group(
    df: DataFrame,
    partition_cols: Sequence[str],
    order_cols: Sequence[Column],
    n: int,
    rank_col: str = "rank",
) -> DataFrame:
    """Keep the top ``n`` rows per partition under a total order.

    ``order_cols`` must define a total order (pass a unique tiebreak
    column last) — otherwise top-N membership is nondeterministic.
    """
    w = Window.partitionBy(*partition_cols).orderBy(*order_cols)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= n)
    )


def hot_items(
    events: DataFrame,
    duration: str = "1 hour",
) -> DataFrame:
    """The reference's flagship HotItems query (HotItems.java:55-81),
    re-expressed: filter views → ``duration`` windows sliding by 5
    minutes, counted per ``user_id`` → top-3 per window end.

    Plan shape: parquet scan (filter + column pruning pushed down) →
    window expansion → partial/final hash agg (one shuffle) → rank window
    (second shuffle on window_end) — the same two network boundaries the
    Flink job has (keyBy(itemId), keyBy(windowEnd)), but with map-side
    combine and AQE-coalesced partitions for free.
    """
    counts = (
        events.filter("event_type = 'view'")
        .groupBy(
            F.window(F.col("ts"), duration, "5 minutes").alias("w"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("view_count"))
        .select(
            F.col("w.end").alias("window_end"),
            F.col("user_id"),
            F.col("view_count"),
        )
    )
    return top_n_per_group(
        counts,
        ["window_end"],
        [F.desc("view_count"), F.asc("user_id")],
        3,
    ).select("window_end", "user_id", "view_count", "rank")


def skyline_2d(
    df: DataFrame,
    min_col: str,
    max_col: str,
    broadcast_threshold: int | None = None,
) -> DataFrame:
    """Pareto frontier (skyline) over two criteria: keep every row no
    OTHER row dominates, where a dominator is <= on ``min_col``, >= on
    ``max_col``, and strictly better on at least one. All duplicates
    of a frontier point are kept (neither dominates the other) — the
    standard skyline-operator semantics (Börzsönyi et al., ICDE 2001).

    The naive spec is a NOT EXISTS self-join — quadratic. The 2-D
    skyline collapses to a running max: over DISTINCT value pairs
    sorted by (min_col asc, max_col desc), a pair survives iff its
    ``max_col`` strictly exceeds the exclusive running max — every
    potential dominator sorts strictly earlier under that order, and a
    prior pair with running-max >= y always dominates (either its
    min_col is smaller, or it ties and its max_col is strictly
    larger). Survivors then semi-join the full input, so the heavy
    table is touched by exactly one shuffle (the pair dedup) plus a
    frontier-sized join.

    The running max itself uses [[range_partitioned_running_max]], so
    no single-reducer global-order Window appears anywhere: sorts are
    bounded by range partitions even when the distinct-pair set is
    large (e.g. continuous criteria where dedup barely shrinks).

    Broadcast guard: frontier size is DATA-DEPENDENT. For typical
    (correlated or discrete-valued) criteria it is tiny, but on
    ANTI-CORRELATED continuous criteria the Pareto frontier approaches
    the full distinct-pair set — FORCE-broadcasting it (an
    unconditional ``F.broadcast`` hint, the pre-r7 behavior) would OOM
    the driver at scale. Default (``broadcast_threshold=None``): no
    hint — AQE size-gates the semi-join at runtime from the frontier's
    actual shuffle bytes, broadcasting the usual tiny frontier and
    falling back to a shuffle join for a pathological one, at ZERO
    extra cost (a counted guard was measured 2x the whole query at
    sf0.1 — the count re-runs the frontier build). Pass an integer
    ``broadcast_threshold`` to opt into the deterministic counted
    guard instead: the frontier is counted first (one extra pass over
    the deduped pairs, never over ``df``) and the broadcast hint is
    applied only at or below the threshold — for callers that need a
    plan decided before execution (e.g. AQE disabled).
    """
    from flink_examples_spark.operators.skew import (
        range_partitioned_running_max,
    )

    pairs = df.select(min_col, max_col).distinct()
    ranked = range_partitioned_running_max(
        pairs,
        [F.col(min_col).asc(), F.col(max_col).desc()],
        max_col,
        out_col="__rm",
    )
    frontier = ranked.filter(
        F.col("__rm").isNull() | (F.col(max_col) > F.col("__rm"))
    ).drop("__rm")
    if broadcast_threshold is not None \
            and frontier.count() <= broadcast_threshold:
        frontier = F.broadcast(frontier)
    return df.join(frontier, on=[min_col, max_col], how="left_semi")
