"""Join operators (SURVEY.md §2.6).

Reference coverage:
  J1 window equi-join      — join/WindowJoin.java:39-58 (tumbling 2000 ms)
  J2 interval join         — join/IntervalJoin.java:40-54 ([-2s,+1s] per key)
  J3 broadcast dim join    — connect/BroadcastDimension.java:92-126
  J4 keyed co-process match with timeout (as-of + unmatched side output)
                           — connect/DoubleStreamMatch.java:131-231
  J6 map-side cached join  — cache/DistributedCacheExample.java:29-56

All are expressed as declarative DataFrame joins so Catalyst picks the
physical strategy: small sides become BroadcastHashJoin (J3/J6 are
*exactly* Spark's broadcast join), equi+range conditions become a
shuffled join with a range residual, and AQE re-plans skew at runtime.
The exact-timer streaming variant of J4 lives in streaming/stateful.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def broadcast_dim_join(
    facts: DataFrame,
    dim: DataFrame,
    on: str | list[str],
    how: str = "left",
) -> DataFrame:
    """Stream/fact ⋈ broadcast dimension (J3, BroadcastDimension.java:92-126).

    The reference replicates the dim table into per-task MapState; Spark's
    BroadcastExchange ships it to every executor once per plan — same
    data movement, no keyed shuffle of the fact side.
    """
    return facts.join(F.broadcast(dim), on=on, how=how)


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    lower: str,
    upper: str,
) -> DataFrame:
    """Keyed interval join (J2, IntervalJoin.java:40-54).

    Emits pairs where ``left.ts + lower <= right.ts <= left.ts + upper``
    and keys are equal. ``lower``/``upper`` are INTERVAL strings (signed,
    e.g. ``"-2 hours"``). Planned as an equi-join on the key with the
    range as a residual filter — one shuffle on the key; in streaming the
    same expression + watermarks both sides is Spark's canonical
    stream-stream interval join.
    """
    lo = F.expr(f"INTERVAL {lower}")
    hi = F.expr(f"INTERVAL {upper}")
    cond = (
        (left[key] == right[key])
        & (right[right_ts] >= left[left_ts] + lo)
        & (right[right_ts] <= left[left_ts] + hi)
    )
    return left.join(right, cond)


def window_equi_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    duration: str,
) -> tuple[DataFrame, DataFrame, Column]:
    """Tumbling-window equi-join (J1, WindowJoin.java:39-58).

    Rows join when keys are equal AND both fall in the same tumbling
    window. Returns the two window-stamped inputs and the join condition
    so callers control projection. Joining on the epoch-aligned
    ``window_start`` column (not a range) keeps this a pure equi-join —
    single hash shuffle, no theta-join blowup.
    """
    lw = left.withColumn("window_start", F.window(F.col(left_ts), duration)["start"])
    rw = right.withColumn("window_start", F.window(F.col(right_ts), duration)["start"])
    cond = (lw[key] == rw[key]) & (lw["window_start"] == rw["window_start"])
    return lw, rw, cond


def as_of_match(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_id: str,
    right_id: str,
    left_ts: str,
    right_ts: str,
    max_age: str,
) -> DataFrame:
    """Dual-stream match with timeout (J4, DoubleStreamMatch.java:131-231).

    For each left row, pick the EARLIEST right row with the same key in
    ``[left.ts - max_age, left.ts]``; left rows with no partner emit with
    ``match_status='unmatched'`` — the reference's timer-fired side
    output becomes a null-padded outer-join row, same observable result.

    Batch formulation: interval join → rank partner candidates per left
    row (earliest ts, then id — total order) → keep rank 1 → right-pad
    the unmatched via left join.
    """
    age = F.expr(f"INTERVAL {max_age}")
    l = left.select(
        F.col(key).alias("k"),
        F.col(left_id).alias("left_id"),
        F.col(left_ts).alias("lts"),
    )
    r = right.select(
        F.col(key).alias("k"),
        F.col(right_id).alias("right_id"),
        F.col(right_ts).alias("rts"),
    )
    cand = l.join(
        r,
        (l["k"] == r["k"]) & (r["rts"] >= l["lts"] - age) & (r["rts"] <= l["lts"]),
    ).select(l["k"], "left_id", "lts", "right_id", "rts")
    w = Window.partitionBy("left_id").orderBy(F.asc("rts"), F.asc("right_id"))
    best = (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("left_id", "right_id")
    )
    return (
        l.join(best, "left_id", "left")
        .withColumn(
            "match_status",
            F.when(F.col("right_id").isNull(), F.lit("unmatched")).otherwise(
                F.lit("matched")
            ),
        )
        .select(
            F.col("left_id"),
            F.col("k").alias(key),
            F.col("right_id"),
            F.col("match_status"),
        )
    )


def broadcast_pattern_match(
    events: DataFrame,
    pattern: DataFrame,
    key: str,
    order_cols: list[str],
    action_col: str,
) -> DataFrame:
    """Broadcast control-pattern join (J5, BroadcastStreamConnect.java:
    82-159): a tiny pattern table (pairs of consecutive actions) is
    broadcast to every task; per-key state holding the previous action
    becomes a ``lag`` window; a row matches when
    (previous action, current action) equals a pattern pair.

    Output: one row per detected (key, pattern) occurrence. The pattern
    side rides a BroadcastExchange — the fact side shuffles once on the
    key for the window, never for the join.
    """
    w = Window.partitionBy(key).orderBy(*[F.col(c) for c in order_cols])
    seq = events.select(
        F.col(key),
        F.col(action_col).alias("_cur"),
        F.lag(action_col).over(w).alias("_prev"),
    )
    return (
        seq.join(
            F.broadcast(pattern),
            (seq["_prev"] == pattern["first_action"])
            & (seq["_cur"] == pattern["second_action"]),
        )
        .select(F.col(key), F.col("first_action"), F.col("second_action"))
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    payload_cols: list[str],
    right_order: str | None = None,
) -> DataFrame:
    """Backward-inclusive as-of join: each left row picks up the payload
    of the LATEST right row with the same key and ``right_ts <=
    left_ts`` (unbounded lookback). Left rows with no prior right row
    keep NULL payloads — nothing is dropped.

    This is the sorted-union formulation, not a range join: both sides
    are unioned, shuffled ONCE on the key, sorted per partition by
    ``(ts, side, order)``, and a running ``last(payload, ignorenulls)``
    window carries the most recent right payload forward into each left
    row. Cost is one exchange + one per-partition sort — linear in
    |left|+|right|, versus the interval-join formulation whose
    candidate set is |left| x |right rows in range| and which cannot
    express an unbounded lookback at all. At 100 TB this is THE as-of
    shape: no quadratic blowup on hot keys, no range residual, and the
    window state is a single payload struct per partition, regardless
    of how far back the previous right row is.

    Ties: a right row AT the left row's timestamp is visible (side
    orders right before left at equal ts — backward-inclusive). Among
    right rows at the same ts the max ``right_order`` wins
    (deterministic total order; defaults to ``right_ts``, pass a unique
    id column when right timestamps can collide).

    ``payload_cols`` are carried from the right side into the output
    under their own names (caller guarantees no collision with left's
    columns).
    """
    right_order = right_order or right_ts
    pay_t = right.select(
        F.struct(*[F.col(c) for c in payload_cols]).alias("_p")
    ).schema["_p"].dataType
    ord_t = right.schema[right_order].dataType
    r = right.select(
        F.col(key).alias("_k"),
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        F.col(right_order).alias("_ord"),
        F.struct(*[F.col(c) for c in payload_cols]).alias("_pay"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(f"_l_{c}")
          for c in left.columns],
    )
    l = left.select(
        F.col(key).alias("_k"),
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_side"),
        F.lit(None).cast(ord_t).alias("_ord"),
        F.lit(None).cast(pay_t).alias("_pay"),
        *[F.col(c).alias(f"_l_{c}") for c in left.columns],
    )
    w = (
        Window.partitionBy("_k")
        .orderBy(F.asc("_ts"), F.asc("_side"), F.asc_nulls_last("_ord"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = r.unionByName(l).withColumn(
        "_last", F.last("_pay", ignorenulls=True).over(w)
    )
    return merged.filter(F.col("_side") == 1).select(
        *[F.col(f"_l_{c}").alias(c) for c in left.columns],
        *[F.col("_last")[c].alias(c) for c in payload_cols],
    )


def _grid_cell(bucket_width: float):
    """The banded joins' shared value-grid quantizer. ONE definition on
    purpose: the explode range, the point mapping, and the responsible-
    cell dedup must all quantize identically or the 'both intervals
    provably cover that cell' invariant breaks."""
    return lambda c: F.floor(c.cast("double") / F.lit(bucket_width))


def _check_bucket_width(fn_name: str, bucket_width: float) -> None:
    if not bucket_width > 0:
        raise ValueError(
            f"{fn_name}: bucket_width must be > 0, got "
            f"{bucket_width!r} (a zero/negative width would floor-"
            "divide to Infinity/NaN cells and silently match nothing)"
        )


def banded_range_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    lo_col: str,
    hi_col: str,
    bucket_width: float,
) -> DataFrame:
    """Scale-safe point-in-interval range join: every ``points`` row
    paired with every ``intervals`` row where
    ``lo_col <= point_col <= hi_col`` (NULL bounds/points never match,
    standard SQL BETWEEN semantics).

    Why not ``points.join(intervals, point.between(lo, hi))``: a
    non-equi predicate gives Catalyst no join key, so the plan
    degenerates to BroadcastNestedLoopJoin (fine for a broadcastable
    side, O(|P|*|I|) work and a single-node build otherwise). The
    banded form manufactures an equi-key from a value grid: each
    interval explodes to the ``ceil((hi-lo)/w)+1`` grid cells it
    overlaps, each point maps to exactly ONE cell, and the join is a
    plain equi-join on the cell id followed by the residual BETWEEN
    filter. Because a point lives in one cell, no dedup pass is
    needed — an interval meets a given point in at most one cell.

    Scale shape: work is |P| + sum(interval_span/w) rows through one
    hash exchange on the cell id; pick ``bucket_width`` near the
    typical interval span so each interval lands in O(1) cells. Skew
    (a popular value cell) is an equi-join hot key — AQE-splittable,
    exactly the property the nested-loop plan lacks. Cells are
    floor-quantized from DOUBLE; the residual filter re-checks the
    exact bounds, so quantization can't change results.
    """
    _check_bucket_width("banded_range_join", bucket_width)
    cell = _grid_cell(bucket_width)
    ivals = intervals.filter(
        F.col(lo_col).isNotNull() & F.col(hi_col).isNotNull()
        & (F.col(lo_col) <= F.col(hi_col))
    ).withColumn(
        "_cell",
        F.explode(
            F.sequence(cell(F.col(lo_col)), cell(F.col(hi_col)))
        ),
    )
    pts = points.filter(F.col(point_col).isNotNull()).withColumn(
        "_cell", cell(F.col(point_col))
    )
    return (
        pts.join(ivals, "_cell")
        .filter(
            (F.col(point_col) >= F.col(lo_col))
            & (F.col(point_col) <= F.col(hi_col))
        )
        .drop("_cell")
    )


def banded_overlap_join(
    left: DataFrame,
    right: DataFrame,
    left_lo: str,
    left_hi: str,
    right_lo: str,
    right_hi: str,
    bucket_width: float,
) -> DataFrame:
    """Scale-safe interval-OVERLAP join: every (left, right) pair whose
    ranges intersect — ``l_lo <= r_hi AND r_lo <= l_hi`` (closed
    bounds; NULL or inverted ranges never match). The interval×interval
    big sibling of :func:`banded_range_join`.

    Both sides explode to their grid cells, pairs meet by cell
    equi-join — but two overlapping intervals can share MANY cells, so
    a dedup is owed. Instead of a distinct over the (potentially huge)
    pair set, each pair is emitted only by its RESPONSIBLE cell — the
    cell containing ``max(l_lo, r_lo)``, the overlap's left edge,
    which both intervals provably cover — a filter in the join
    projection, zero extra exchanges (the standard interval-join
    dedup trick, e.g. GeoSpark/Sedona's reference-point rule for
    spatial pairs).

    Scale shape: one hash exchange per side keyed by cell; work is
    sum(span/w) rows per side. Pick ``bucket_width`` near the typical
    span so each interval hits O(1) cells; hot value regions are
    equi-join hot keys — AQE-splittable, which the
    BroadcastNestedLoopJoin a naive overlap predicate plans as is not.
    """
    _check_bucket_width("banded_overlap_join", bucket_width)
    cell = _grid_cell(bucket_width)

    def explode_cells(df, lo, hi, tag):
        return df.filter(
            F.col(lo).isNotNull() & F.col(hi).isNotNull()
            & (F.col(lo) <= F.col(hi))
        ).withColumn(
            f"_cell_{tag}",
            F.explode(F.sequence(cell(F.col(lo)), cell(F.col(hi)))),
        )

    l = explode_cells(left, left_lo, left_hi, "l")
    r = explode_cells(right, right_lo, right_hi, "r")
    return (
        l.join(r, F.col("_cell_l") == F.col("_cell_r"))
        .filter(
            (F.col(left_lo) <= F.col(right_hi))
            & (F.col(right_lo) <= F.col(left_hi))
            # responsible cell: the one holding the overlap's left edge
            & (
                F.col("_cell_l")
                == cell(F.greatest(F.col(left_lo), F.col(right_lo)))
            )
        )
        .drop("_cell_l", "_cell_r")
    )
