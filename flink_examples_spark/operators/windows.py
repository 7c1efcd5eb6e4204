"""Time and count windows as declarative DataFrame transforms.

Reference coverage (SURVEY.md §2.5):
  W2 tumbling event-time window  — WindowWordCount.java:47-51, WindowJoin.java:43
  W3 sliding event-time window   — HotItems.java:75 (1 h size, 5 min slide);
                                   built in place by operators/topn.hot_items
  W4 session window (gap)        — SessionWindow.java:52-56
  W1 count window (size, slide)  — WindowWordCount.java:57 countWindow(10,5)
  A4 window metadata in output   — HotItems.java:149-159 (window.getEnd())

All of these are expressed with built-in Spark window primitives so
Catalyst plans partial+final aggregation (the reference hand-optimizes
this: HotItems.java:76-78) and the parquet scan only reads the columns
referenced. The same expressions work unchanged on a streaming DataFrame
with ``withWatermark`` applied upstream.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _unpack_window(out: DataFrame, start_name: str, end_name: str) -> DataFrame:
    """Flatten the ``w`` window struct into first-class start/end
    columns — the one place the unpack select lives (it used to be
    copy-pasted per window flavor)."""
    return out.select(
        F.col("w.start").alias(start_name),
        F.col("w.end").alias(end_name),
        *[c for c in out.columns if c != "w"],
    )


def tumbling_window_agg(
    df: DataFrame,
    ts_col: str,
    duration: str,
    keys: Sequence[str],
    aggs: Sequence[Column],
) -> DataFrame:
    """Tumbling event-time window aggregation (W2).

    Windows are epoch-aligned, ``[start, start + duration)``. Output
    carries ``window_start`` / ``window_end`` as first-class columns
    (the reference must thread window metadata through a WindowFunction,
    HotItems.java:149-159; in Spark it's just a struct column).
    """
    out = df.groupBy(F.window(F.col(ts_col), duration).alias("w"), *keys).agg(*aggs)
    return _unpack_window(out, "window_start", "window_end")


def session_window_agg(
    df: DataFrame,
    ts_col: str,
    gap: str,
    keys: Sequence[str],
    aggs: Sequence[Column],
) -> DataFrame:
    """Session window with inactivity gap (W4, SessionWindow.java:52-56).

    ``session_window`` merges per-key sessions: start = first event ts,
    end = last event ts + gap. Works in batch and streaming.
    """
    out = df.groupBy(
        F.session_window(F.col(ts_col), gap).alias("w"), *keys
    ).agg(*aggs)
    return _unpack_window(out, "session_start", "session_end")


def count_window_agg(
    df: DataFrame,
    ts_col: str,
    keys: Sequence[str],
    size: int,
    slide: int,
    value_col: str,
    order_tiebreak: str,
) -> DataFrame:
    """Count window (W1): per key, fire every ``slide`` records over the
    last ``size`` records (WindowWordCount.java:57 ``countWindow(10, 5)``).

    Spark has no data-driven windows; in batch the exact semantics are a
    row-frame window function — per-key row_number ordered by event time,
    a ``ROWS BETWEEN size-1 PRECEDING AND CURRENT ROW`` frame, and a
    fire predicate ``rn % slide == 0``. This is a single shuffle on the
    key and stays entirely JVM-side. The streaming variant lives in
    ``streaming/stateful.py`` (ring buffer in GroupState).

    ``order_tiebreak`` makes the per-key order total (deterministic fire
    points when timestamps tie).
    """
    w = Window.partitionBy(*keys).orderBy(F.col(ts_col), F.col(order_tiebreak))
    frame = w.rowsBetween(-(size - 1), 0)
    return (
        df.withColumn("rn", F.row_number().over(w))
        .withColumn("window_sum", F.sum(F.col(value_col).cast("decimal(18,2)")).over(frame))
        .withColumn("window_count", F.count(F.lit(1)).over(frame))
        .filter(F.col("rn") % slide == 0)
        .select(
            *keys,
            F.col("rn").alias("fire_at_row"),
            F.col("window_count"),
            F.col("window_sum").cast("double").alias("window_sum"),
        )
    )


def trailing_time_window_agg(
    df: DataFrame,
    key: str,
    ts_col: str,
    aggs: dict[str, Column],
    trailing_seconds: int,
) -> DataFrame:
    """Time-evictor window (W5, CustomizeEvictorAndTrigger.java:43-61):
    at every row, aggregate only the key's rows from the trailing
    ``trailing_seconds`` — the reference's ``TimeEvictor.of(10s)``
    keeping a sliding evidence buffer per car.

    Batch formulation: a RANGE frame over epoch microseconds — one
    shuffle on the key, no Python, and the frame bound is evaluated
    inside codegen.
    ``aggs`` maps output name -> aggregate over the frame (e.g.
    ``F.max("speed")``).
    """
    # Order by MICROSECOND epoch: cast-to-long truncates to seconds,
    # which both collapses sub-second-distinct rows into one range
    # position and widens the frame boundary by up to a second —
    # divergent from any microsecond-precise engine at real data scale.
    w = (
        Window.partitionBy(key)
        .orderBy(F.unix_micros(F.col(ts_col)))
        .rangeBetween(-trailing_seconds * 1_000_000, 0)
    )
    out = df
    for name, expr in aggs.items():
        out = out.withColumn(name, expr.over(w))
    return out


def series_pattern_scan(
    df,
    key_col: str,
    order_cols,
    value_col: str,
    pattern,
    max_dist: float,
):
    """Time-series subsequence similarity scan (the UCR-suite shape,
    plain squared-euclidean variant): slide a window of
    ``len(pattern)`` consecutive values over each key's ordered series
    and emit every window whose squared distance to the query pattern
    is within ``max_dist``. The streaming-analytics "find this shape
    in every sensor/user series" primitive (cf. EDBT'19 time-series
    similarity search for streaming data — PAPERS.md).

    Output: the window-START row's key + order columns plus
    ``dist`` (rounded 6 dp). Windows that run off the series end (or
    contain a NULL value) emit nothing.

    Plan: one exchange on the key for the ordered window; the m-1
    ``lead`` columns and the unrolled left-to-right distance sum are
    whole-stage codegen — no Python, no self-join, no per-key collect.
    The explicit left-assoc addition chain is reproduced verbatim in
    the SQL oracle so float fold order can't diverge.
    """
    from pyspark.sql import Window

    m = len(pattern)
    if m < 1:
        raise ValueError("series_pattern_scan: empty pattern")
    w = Window.partitionBy(key_col).orderBy(*order_cols)
    out = df.select(
        key_col, *order_cols,
        F.col(value_col).alias("_x0"),
        *[
            F.lead(value_col, j).over(w).alias(f"_x{j}")
            for j in range(1, m)
        ],
    )
    dist = None
    for j, q in enumerate(pattern):
        # d * d, NOT ** 2: POWER() is java.lang.Math.pow (1-ulp
        # tolerance) while the oracle multiplies exactly — the product
        # is IEEE-exact-identical on both engines
        d = F.col(f"_x{j}") - F.lit(float(q))
        term = d * d
        dist = term if dist is None else dist + term
    return (
        out.filter(F.col(f"_x{m-1}").isNotNull())
        .withColumn("dist", F.round(dist, 6))
        .filter(F.col("dist") <= max_dist)
        .select(key_col, *order_cols, "dist")
    )
