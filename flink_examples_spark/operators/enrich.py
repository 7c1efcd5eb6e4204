"""Async / external-lookup enrichment (SURVEY.md §2.11 M1, §2.3 P4).

The reference's AsyncIOExample.java:119-151,220-275 hides per-record
lookup latency with AsyncDataStream.orderedWait/unorderedWait (timeout
10 s, capacity 20, thread-pool client). Spark-first mapping: the lookup
runs inside ``mapInPandas``, where each Arrow batch amortizes client
setup (the RichMapFunction ``open()`` analog, DistributedCacheExample.
java:35-56) and a thread pool overlaps per-row latency within the batch.
No shuffle — enrichment is a narrow transform; throughput scales with
input partitions, and ``capacity`` bounds in-flight calls per partition
exactly like the reference's orderedWait capacity.

Two surfaces:
- ``async_enrich`` — per-row callable on a thread pool, ordered or
  unordered result emission, per-call timeout with a None fill
  (AsyncIOExample's timeout semantics).
- ``broadcast_lookup_enrich`` — the preferred scale path when the
  dimension fits in memory: ship the dict once per executor via a
  broadcast variable and do a vectorized pandas ``map`` (no threads,
  no network; BroadcastDimension.java:92-126 / J6 map-side join).
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterator
from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_examples_spark.operators.util import schema_col_names


def async_enrich(
    df: DataFrame,
    enrich_fn: Callable[[dict], dict],
    output_schema: str,
    *,
    capacity: int = 20,
    timeout_s: float = 10.0,
    ordered: bool = True,
) -> DataFrame:
    """Enrich each row via ``enrich_fn(row_dict) -> extra_cols_dict`` on
    a per-partition thread pool.

    - ``capacity``: max in-flight calls per partition (orderedWait's
      capacity; backpressure by bounded submission window).
    - ``timeout_s``: per-call budget, measured from the call's own
      submission (the reference's per-record orderedWait timeout — a
      call queued behind a slow predecessor still gets its full budget
      from when it was triggered); on timeout the extra columns are
      None (the reference completes exceptionally — we emit a null row
      instead so the pipeline keeps flowing; filter on null to split a
      "failed" side output).
    - ``ordered``: True emits rows in input order (orderedWait); False
      emits in completion order within the batch (unorderedWait —
      row *set* is identical, useful when downstream is order-free).

    Output columns: input columns + keys of the dict ``enrich_fn``
    returns, in ``output_schema`` order.
    """
    out_cols = schema_col_names(output_schema)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        with ThreadPoolExecutor(max_workers=capacity) as pool:
            for pdf in batches:
                records = pdf.to_dict("records")
                results: list[tuple[int, dict | None]] = []
                # Submission windows of ``capacity`` keep at most
                # ``capacity`` calls in flight (orderedWait's bounded
                # buffer) while amortizing synchronization to one wait()
                # per window instead of per row.
                for base in range(0, len(records), capacity):
                    window = records[base:base + capacity]
                    pending = {
                        pool.submit(enrich_fn, rec): base + j
                        for j, rec in enumerate(window)
                    }
                    # Per-future deadline from its own submission time:
                    # a call that sat queued (pool threads still busy
                    # with a cancelled-but-running predecessor) is only
                    # timed out once ITS budget lapses, not the window's.
                    deadline = {f: time.monotonic() + timeout_s for f in pending}
                    while pending:
                        now = time.monotonic()
                        for fut in [f for f in pending if now >= deadline[f]
                                    and not f.done()]:
                            fut.cancel()
                            results.append((pending.pop(fut), None))
                        if not pending:
                            break
                        slack = min(deadline[f] for f in pending) - now
                        done, _ = wait(
                            set(pending),
                            timeout=max(slack, 0.0),
                            return_when=FIRST_COMPLETED,
                        )
                        for fut in done:
                            i = pending.pop(fut)
                            try:
                                results.append((i, fut.result(timeout=0)))
                            except Exception:
                                results.append((i, None))

                if ordered:
                    results.sort(key=lambda t: t[0])
                rows = []
                for i, extra in results:
                    row = dict(records[i])
                    row.update(extra or {})
                    rows.append(row)
                out = pd.DataFrame(rows)
                for c in out_cols:
                    if c not in out.columns:
                        out[c] = None
                yield out[out_cols]

    return df.mapInPandas(run, output_schema)


def broadcast_lookup_enrich(
    df: DataFrame,
    key_expr: str,
    lookup: dict,
    out_col: str,
) -> DataFrame:
    """Map-side dimension enrichment: broadcast ``lookup`` (a plain
    dict) to every executor once and map it per batch into string ``out_col``.

    ``key_expr`` is a SQL expression computing the lookup key from the
    row. This is the 100 TB path for small dims — zero shuffle, zero
    per-row Python, one Arrow-batched ``Series.map`` per batch. For dims
    too big to broadcast, use a real broadcast *join*
    (operators/joins.py broadcast_dim_join).
    """
    bc = df.sparkSession.sparkContext.broadcast(lookup)
    src = df.withColumn("__key", F.expr(key_expr))
    in_cols = df.columns
    schema = ", ".join(f"{c} {t}" for c, t in
                       [(f.name, f.dataType.simpleString()) for f in df.schema.fields])
    out_schema = f"{schema}, {out_col} string"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        table = bc.value
        for pdf in batches:
            pdf = pdf.copy()
            pdf[out_col] = pdf["__key"].map(table)
            yield pdf[in_cols + [out_col]]

    return src.mapInPandas(run, out_schema)
