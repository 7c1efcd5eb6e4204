"""Watermark ergonomics: idle sources (E5) and lateness classification
(E7) — SURVEY.md §2.9.

The reference's two watermark escape hatches:

  withIdleness (Flink Window.md §2.4)
      A source partition that stops producing marks itself idle so it
      stops holding back the global watermark. Spark's analogue is the
      multiple-watermark policy: a union of watermarked streams tracks
      one watermark per input and combines them with ``min`` by default
      — exactly the stall Flink's idleness solves. ``idle_aware_union``
      switches the combination to ``max`` so the freshest input drives
      event-time progress and an idle leg can't stall windows/CEP.

  allowed lateness + late side output (Flink Window.md §2.5)
      Flink keeps a fired window open for ``allowedLateness`` and routes
      later-still rows to a side output. Spark's watermark is a hard
      drop threshold with no classification. ``lateness_classifier``
      reproduces the contract in foreachBatch: rows are labeled
      ``on_time`` / ``late`` (inside the allowed-lateness grace) /
      ``expired`` (Flink would side-output these) against a running
      watermark = max event time seen in prior batches minus the
      bounded-out-of-orderness delay. Like Spark's own watermark filter
      the threshold lags one batch (memory: the filter for batch N uses
      the watermark after batch N-1).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence
from contextlib import contextmanager

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_POLICY_KEY = "spark.sql.streaming.multipleWatermarkPolicy"


@contextmanager
def multiple_watermark_policy(
    spark: SparkSession, policy: str = "max"
) -> Iterator[None]:
    """Scope ``spark.sql.streaming.multipleWatermarkPolicy`` to a
    ``with`` block and restore the prior value (or unset) on exit.

    The conf is session-wide and read at *query start*, so wrap the
    ``.start()`` call — not the DataFrame build — in this context.
    Without scoping, one ``max``-policy query would silently change the
    lateness semantics of every multi-watermark query started later in
    the session (rows from slow-but-alive legs dropped as late).
    """
    prev = spark.conf.get(_POLICY_KEY, None)
    spark.conf.set(_POLICY_KEY, policy)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(_POLICY_KEY)
        else:
            spark.conf.set(_POLICY_KEY, prev)


def idle_aware_union(
    streams: Sequence[DataFrame],
    ts_col: str,
    delay: str,
) -> DataFrame:
    """Union watermarked streams so an idle leg need not stall the
    global watermark (E5, Flink's ``withIdleness``).

    Each input gets ``withWatermark(ts_col, delay)``. The watermark
    *combination* policy is a session conf read at query start, not a
    plan property, so this builder does NOT touch it — wrap the
    ``start()`` call in ``multiple_watermark_policy(spark, "max")``
    (``max`` = advance with the freshest input, Flink-idleness-like;
    ``min`` = Spark's safe default, stalls on idleness but never drops
    a row that a slow-but-alive input still considers on time).

    Trade-off to state in the job docs: under ``max``, rows from a
    *slow* (not idle) input older than the fast input's watermark are
    dropped as late — Flink's withIdleness has the same hazard when a
    source is misclassified idle.
    """
    if not streams:
        raise ValueError("streams must be non-empty")
    out = None
    for s in streams:
        s = s.withWatermark(ts_col, delay)
        out = s if out is None else out.unionByName(s)
    return out


def lateness_classifier(
    ts_col: str,
    delay_ms: int,
    allowed_lateness_ms: int,
    inner: Callable[[DataFrame, int], None],
) -> Callable[[DataFrame, int], None]:
    """foreachBatch wrapper adding Flink's three-way lateness verdict
    (E7/D2): ``on_time`` (ts >= watermark), ``late`` (within the
    allowed-lateness grace — Flink re-fires the window), ``expired``
    (later than watermark + allowed lateness — Flink's late side
    output). Filter on the label to split the side outputs (P7).

    The watermark is the running max event time across previous batches
    minus ``delay_ms`` — one-batch lag, same as Spark's internal filter.
    Use on a stream WITHOUT ``withWatermark`` (or with a delay widened
    by ``allowed_lateness_ms``) so graced rows still reach the sink
    instead of being dropped upstream. Cost per batch: one max()
    aggregate — scale-independent.
    """
    holder: dict[str, int | None] = {"max_ts_ms": None}

    def write(batch_df: DataFrame, batch_id: int) -> None:
        max_ms = holder["max_ts_ms"]
        if max_ms is None:
            labeled = batch_df.withColumn("lateness", F.lit("on_time"))
        else:
            wm = F.timestamp_millis(F.lit(max_ms - delay_ms))
            grace = F.timestamp_millis(
                F.lit(max_ms - delay_ms - allowed_lateness_ms)
            )
            labeled = batch_df.withColumn(
                "lateness",
                F.when(F.col(ts_col) >= wm, "on_time")
                .when(F.col(ts_col) >= grace, "late")
                .otherwise("expired"),
            )
        inner(labeled, batch_id)
        batch_max = batch_df.agg(F.max(ts_col)).first()[0]
        if batch_max is not None:
            batch_ms = int(pd.Timestamp(batch_max).value // 1_000_000)
            if max_ms is None or batch_ms > max_ms:
                holder["max_ts_ms"] = batch_ms

    return write


def run_with_restarts(
    build_and_start: Callable[[], "object"],
    max_restarts: int = 3,
    delay_s: float = 1.0,
) -> tuple["object", int]:
    """Fixed-delay restart supervision for a streaming query (ST10,
    Checkpointing.java:72-90 ``fixedDelayRestart(3, 10s)``).

    Flink restarts the JOB from the last checkpoint; Spark's unit of
    restart is the QUERY — re-``start()`` against the same checkpoint
    location resumes from the last committed batch, which is the same
    observable contract. ``build_and_start`` must return a freshly
    started ``StreamingQuery`` each call (same checkpointLocation!).

    Returns ``(query, n_restarts)`` once a run terminates cleanly;
    re-raises the last failure when the budget is exhausted — Flink's
    NoRestart fallback after the attempt count. A query still running
    after 180 s is NOT clean termination: it is
    stopped and ``TimeoutError`` raised (not retried — a live query
    that outruns the supervision window is a sizing problem, not a
    failure; use this helper for bounded availableNow runs and leave
    always-on queries to cluster-level supervision).
    """
    import time as _time

    attempts = 0
    while True:
        q = build_and_start()
        try:
            finished = q.awaitTermination(180.0)
            if q.exception() is not None:
                raise q.exception()
        except Exception:
            if attempts >= max_restarts:
                raise
            attempts += 1
            _time.sleep(delay_s)
            continue
        if not finished:
            q.stop()
            raise TimeoutError(
                "streaming query still running after 180.0s; "
                "stopped without restart"
            )
        return q, attempts
