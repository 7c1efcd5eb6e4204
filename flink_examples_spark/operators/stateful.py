"""Stateful per-key operators — batch formulations (SURVEY.md §2.8).

Each mirrors a keyed ProcessFunction from the reference; the streaming
variants with real GroupState/timeouts live in ``streaming/stateful.py``.
On an ordered batch each one is a window scan over the key's rows
(``lag`` or a running frame) — one shuffle on the key, no Python.

  fraud_pairs    — TimerService.java:68-139: flag small amount, alert if
                   the NEXT event is large and within the timeout.
  dfa_alerts     — StateMachineExample.java:133-166 + state/dfa/State.java:
                   run a transition table per key, flag invalid moves.
  delta_trigger  — CustomizeEvictorAndTrigger.java:43-61: fire whenever a
                   monotone accumulation crosses another ``threshold``.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def fraud_pairs(
    df: DataFrame,
    key: str,
    ts_col: str,
    amount_col: str,
    id_col: str,
    small: float,
    large: float,
    within: str,
) -> DataFrame:
    """Small-then-large fraud rule on consecutive events per key.

    The reference keeps a per-key flag + processing-time timer
    (TimerService.java:72-139: flag on amount < small; alert if the next
    event is > large before the timer fires; any next event clears the
    flag). On an ordered batch that is exactly a lag-window predicate —
    one shuffle, no Python.
    """
    w = Window.partitionBy(key).orderBy(F.col(ts_col), F.col(id_col))
    iv = F.expr(f"INTERVAL {within}")
    return (
        df.select(
            F.col(key),
            F.col(id_col),
            F.col(ts_col),
            F.col(amount_col).alias("amount"),
            F.lag(id_col).over(w).alias("small_id"),
            F.lag(amount_col).over(w).alias("prev_amount"),
            F.lag(ts_col).over(w).alias("prev_ts"),
        )
        .filter(
            (F.col("prev_amount") < small)
            & (F.col("amount") > large)
            & (F.col(ts_col) <= F.col("prev_ts") + iv)
        )
        .select(
            F.col(key),
            F.col("small_id"),
            F.col(id_col).alias("large_id"),
        )
    )


def dfa_alerts(
    df: DataFrame,
    key: str,
    order_cols: Sequence[str],
    symbol_col: str,
    transitions: Mapping[str, set[str] | frozenset[str]],
    initial_ok: set[str] | None = None,
) -> DataFrame:
    """Run a DFA per key over an ordered symbol stream; count alerts.

    ``transitions[state]`` is the set of symbols legal from ``state``;
    consuming a symbol moves the DFA to the state named by that symbol
    (Markov-style encoding of state/dfa/State.java's transition table —
    general enough for the reference's a..g machine, and SQL-checkable).
    An illegal symbol raises an alert and the DFA resets to the new
    symbol's state (the reference emits Alert and keeps going,
    StateMachineExample.java:143-165).

    Output: ``key, n_events, n_alerts``. The previous symbol is a
    ``lag`` over the key's rows ordered by ``order_cols`` (nulls last);
    the first row, like any row after a NULL symbol, checks only
    ``initial_ok``, and a NULL symbol after a non-NULL one is an alert.
    One shuffle on the key feeds both the window and the ``groupBy``.
    """
    w = Window.partitionBy(key).orderBy(
        *[F.col(c).asc_nulls_last() for c in order_cols])
    legal = F.create_map(*[
        x for state, syms in transitions.items()
        for x in (F.lit(state), F.array(*[F.lit(s) for s in sorted(syms)]))
    ]).cast("map<string, array<string>>")
    prev, sym = F.lag(symbol_col).over(w), F.col(symbol_col)
    ok_initial = (F.lit(True) if initial_ok is None
                  else sym.isin(*sorted(initial_ok)))
    ok = F.when(prev.isNull(), ok_initial).otherwise(
        F.array_contains(legal[prev], sym))
    flags = df.select(key, F.coalesce(ok, F.lit(False)).alias("ok"))
    return flags.groupBy(key).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_if(~F.col("ok")).alias("n_alerts"),
    )


def delta_trigger(
    df: DataFrame,
    key: str,
    order_cols: Sequence[str],
    delta_col: str,
    id_col: str,
    threshold: float,
) -> DataFrame:
    """Delta-trigger firing: emit a row each time the per-key running sum
    of ``delta_col`` crosses a multiple of ``threshold``.

    The reference's DeltaTrigger fires a GlobalWindow when the distance
    since the last fire exceeds 50 m (CustomizeEvictorAndTrigger.java:
    43-55). On a monotone accumulation that is equivalent to "the integer
    bucket floor(cumsum/threshold) increased" — a running ``sum`` over
    the key's rows ordered by ``order_cols`` (nulls last), emitting
    ``(key, id_col, bucket)`` where ``bucket > lag(bucket, 1, 0)``. A
    NULL delta advances nothing. ``threshold`` must be > 0.
    """
    if not threshold > 0:
        raise ValueError(f"threshold must be > 0, got {threshold}")
    w = Window.partitionBy(key).orderBy(
        *[F.col(c).asc_nulls_last() for c in order_cols])
    # a running SUM over only NULLs is NULL, hence the coalesce
    cum = F.sum(F.coalesce(delta_col, F.lit(0))).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    bucket = F.col("bucket")
    return (
        df.withColumn("bucket", F.floor(cum / F.lit(threshold)))
        .select(key, id_col, bucket,
                (bucket > F.lag(bucket, 1, 0).over(w)).alias("fired"))
        .filter("fired").drop("fired")
    )
