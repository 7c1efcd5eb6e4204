"""Stateful per-key operators — batch formulations (SURVEY.md §2.8).

Each mirrors a keyed ProcessFunction from the reference; the streaming
variants with real GroupState/timeouts live in ``streaming/stateful.py``.
Batch semantics are expressed either as window functions (pure JVM,
preferred) or as per-key pandas scans (``util.grouped_map_in_pandas``)
where the logic is genuinely iterative (DFA, custom triggers).

  fraud_pairs    — TimerService.java:68-139: flag small amount, alert if
                   the NEXT event is large and within the timeout.
  dfa_alerts     — StateMachineExample.java:133-166 + state/dfa/State.java:
                   run a transition table per key, flag invalid moves.
  delta_trigger  — CustomizeEvictorAndTrigger.java:43-61: fire whenever a
                   monotone accumulation crosses another ``threshold``.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from flink_examples_spark.operators.util import grouped_map_in_pandas


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

    Output: ``key, n_events, n_alerts``. Executed as a per-key
    ``grouped_map_in_pandas`` scan — one shuffle on the key; state stays
    in the executor.
    """
    trans = {k: frozenset(v) for k, v in transitions.items()}
    ocols = list(order_cols)

    def run(pkey, pdf: pd.DataFrame) -> pd.DataFrame:
        state: str | None = None
        alerts = 0
        for sym in pdf[symbol_col]:
            if state is None:
                if initial_ok is not None and sym not in initial_ok:
                    alerts += 1
            elif sym not in trans.get(state, frozenset()):
                alerts += 1
            state = sym
        return pd.DataFrame(
            {"key": [pkey[0]], "n_events": [len(pdf)], "n_alerts": [alerts]}
        )

    key_t = {f.name: f.dataType.simpleString() for f in df.schema.fields}[key]
    # one mapInPandas pass over key-sorted partitions (the r13
    # grouped_map_in_pandas migration): ~|keys| tiny groups paid a
    # per-group Arrow batch each way under applyInPandas; each group
    # reaches run() sorted by order_cols (nulls last), so run() scans
    # it as it comes
    return grouped_map_in_pandas(
        df, [key], ocols, run, f"key {key_t}, n_events long, n_alerts long"
    ).withColumnRenamed("key", key)


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
    bucket floor(cumsum/threshold) increased" — which keeps the batch
    formulation a per-key ordered scan emitting
    ``(key, fire_id, bucket)``.
    """
    ocols = list(order_cols)

    def run(pkey, pdf: pd.DataFrame) -> pd.DataFrame:
        # NULL deltas advance nothing (SQL SUM-skips-NULL semantics);
        # without fillna a single NULL poisons the cumsum into NaN and
        # astype('int64') raises on non-finite values
        cum = pdf[delta_col].fillna(0).cumsum()
        bucket = (cum // threshold).astype("int64")
        fired = bucket > bucket.shift(1, fill_value=0)
        out = pdf.loc[fired, [id_col]].copy()
        out["bucket"] = bucket[fired]
        out["key"] = pkey[0]
        return out[["key", id_col, "bucket"]]

    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    # same grouped_map_in_pandas migration as dfa_alerts above
    return grouped_map_in_pandas(
        df, [key], ocols, run,
        f"key {types[key]}, {id_col} {types[id_col]}, bucket long"
    ).withColumnRenamed("key", key)
