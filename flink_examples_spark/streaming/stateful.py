"""Stateful streaming operators on ``applyInPandasWithState``
(SURVEY.md §2.8, §7.4.2-7.4.3).

These are the reference's keyed ProcessFunctions with real cross-batch
state and timeouts:

  streaming_fraud_detector      — TimerService.java:68-139 (ValueState +
                                  timer; ST1/ST4)
  streaming_count_window        — WindowWordCount.java:57 countWindow(10,5)
                                  (W1; per-key ring buffer)
  streaming_double_stream_match — DoubleStreamMatch.java:131-231 (J4;
                                  first-arrival state + event-time timeout
                                  → matched pairs / unmatched side output)
  streaming_asof_enrich         — latest-right-row ValueState per key: the
                                  unbounded-lookback as-of join as a stream
                                  (twin of operators.joins.asof_join)
  streaming_funnel_first_times  — ordered-funnel state machine: one
                                  epoch-us slot per step per user, emits a
                                  row the moment a step first completes
                                  (twin of journey.funnel_first_times)
  streaming_dedup_ttl           — keyed first-occurrence dedup: Spark's
                                  native streaming dedup without a TTL,
                                  GroupState with one (ST6, D8)
  streaming_dfa_alerts          — StateMachineExample.java:133-166 (ST7)
  streaming_cep                 — the batch NFA (operators/cep.py) with its
                                  pending buffer in GroupState (C1-C5)
  streaming_sequence_pack       — token-prefix packing (packing twin)
  streaming_series_pattern_scan — subsequence scan over an (m-1)-row
                                  tail (windows.series_pattern_scan twin)
  streaming_capped_sessions     — gap sessions split by a max-duration
                                  cap (W4+; state = ONE open sub-window
                                  per key; twin of the registered
                                  capped_session_windows query)
  streaming_budget_admission    — token-prefix admission (sampling twin)
  streaming_hot_items_counts    — HotItems.java:55-81 window counts, no
                                  GroupState (declarative)

Every GroupState face runs through one core, ``_keyed_state``: a face is
its order columns, its per-trigger step and its schemas. Key and id
columns carry their INPUT types into the output schema (``_ddl``).

Ordering rule, the same for every face: all Arrow chunks of one key's
trigger are concatenated and sorted ONCE, stably, by the face's order
columns before the step sees a row — so output never depends on
``arrow.maxRecordsPerBatch`` or on the (arbitrary) chunk delivery
order. Across triggers the order is the source's replay order: feed
sorted files (or Kafka partitions with per-key ordering) for exact
parity with the batch formulations, which tests assert.

State values are kept as flat tuples (SURVEY.md §7.4.9): GroupState is
Arrow-serialized every trigger, so compact state is what survives a
100 TB key space.

State addressing (ST11, uid/AssignUid.java:18-49): Flink names stateful
operators with ``.uid()`` so savepoints survive DAG edits; Spark keys
state by the operator's position in the query plan — do NOT reorder or
insert stateful operators over an existing checkpoint directory (start a
fresh checkpoint instead), the positional equivalent of changing a uid.
"""

from __future__ import annotations

import json
import time
from collections.abc import Callable, Iterator, Mapping, Sequence
from decimal import ROUND_HALF_UP, Decimal

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import IntegralType

from flink_examples_spark.operators.cep import (
    _find_matches,
    _live_partials,
    _match_could_extend,
    _match_vars,
)
from flink_examples_spark.operators.util import schema_col_names
from flink_examples_spark.streaming.finalize import FINALIZE_TS_MS, drop_finalize


def _half_up(x: float, quantum: str) -> Decimal:
    """``x`` rounded HALF_UP to ``quantum`` over the double's SHORTEST
    decimal representation — Java's ``BigDecimal.valueOf`` parses
    ``Double.toString`` (== Python ``repr``), which is how Spark both
    rounds a double and casts it to decimal."""
    return Decimal(repr(float(x))).quantize(
        Decimal(quantum), rounding=ROUND_HALF_UP
    )


def _spark_round6(x: float) -> float:
    """Replicate Spark's ``round(double, 6)`` bit-for-bit. Python's
    built-in ``round`` instead rounds the raw binary value
    half-to-even, which differs on exact 6-dp halfway reprs — the
    boundary cases the ``max_dist`` threshold compares against."""
    return float(_half_up(x, "0.000001"))


def _ddl(df: DataFrame, cols: Sequence[str]) -> str:
    """``"c1 t1, c2 t2"`` with each column's type from ``df``'s schema —
    the one input-type lookup, so emitted key and id columns round-trip
    whatever type the caller streams (a hard-coded type kills the query
    at the first emitted row's Arrow conversion)."""
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    return ", ".join(f"{c} {types[c]}" for c in cols)


def _check_json_state(
    df: DataFrame, who: str, cols: Sequence[str], ts_col: str
) -> None:
    """Fail at build time if a column of ``cols`` other than ``ts_col``
    (which the operator converts to epoch ms) cannot round-trip a JSON
    state buffer — a second timestamp, binary, decimal or date would
    otherwise die mid-stream, once a buffered row first spans a
    trigger boundary."""
    for f in df.schema.fields:
        t = f.dataType.simpleString()
        if f.name in cols and f.name != ts_col and any(
            b in t for b in ("timestamp", "binary", "decimal", "date")
        ):
            raise TypeError(
                f"{who}: column {f.name!r} ({t}) cannot round-trip the "
                "JSON state buffer — cast it (e.g. to epoch ms / hex) "
                "before the operator, or drop it from the input"
            )


def _concat_trigger_chunks(pdfs: Iterator[pd.DataFrame]) -> pd.DataFrame:
    """ALL Arrow chunks of one key's trigger as one frame: a key whose
    micro-batch exceeds arrow.maxRecordsPerBatch arrives as several
    chunks in arbitrary order, and per-chunk processing would advance
    running state for a late row in an early chunk before earlier rows
    in a later one. A timeout trigger gives an empty frame."""
    chunks = [pdf for pdf in pdfs if not pdf.empty]
    if len(chunks) > 1:
        return pd.concat(chunks, ignore_index=True)
    return chunks[0] if chunks else pd.DataFrame()


def _keyed_state(
    df: DataFrame,
    keys: Sequence[str],
    order: Sequence[str],
    step: Callable[[tuple, pd.DataFrame, GroupState], list[tuple]],
    out_schema: str,
    state_schema: str,
    timeout: str = GroupStateTimeout.NoTimeout,
) -> DataFrame:
    """The one ``applyInPandasWithState`` runner. Per key and trigger it
    assembles the rows once (``_concat_trigger_chunks``, then one stable
    sort by ``order``; none when ``order`` is empty), calls
    ``step(key_t, rows, state)`` — which reads and writes the state and
    returns output tuples — and emits them with ``out_schema``'s
    columns."""
    cols = schema_col_names(out_schema)

    def fn(key_t, pdfs: Iterator[pd.DataFrame], state: GroupState):
        rows = _concat_trigger_chunks(pdfs)
        if order and len(rows):
            rows = rows.sort_values(order, kind="mergesort")
        out = step(key_t, rows, state)
        if out:
            yield pd.DataFrame(out, columns=cols)

    return df.groupBy(*keys).applyInPandasWithState(
        fn, out_schema, state_schema, "append", timeout
    )


def streaming_fraud_detector(events: DataFrame) -> DataFrame:
    """Small-then-large rule with per-``user_id`` state across triggers:
    a ``value`` above 400 right after one below 10, within an hour.

    State = the last event (id, amount, epoch-ms): the reference's
    ValueState flag + 60 s timer collapses to "was the previous event
    small and recent" — checked per arriving row, so the alert fires in
    the same trigger the large amount arrives (no timer latency).
    Output matches operators.stateful.fraud_pairs on the same data.
    """

    def step(key_t, rows, state):
        prev_id, prev_amount, prev_ts = (
            state.get if state.exists else (None, None, None)
        )
        out = []
        for row in rows.itertuples(index=False):
            ts_ms = int(getattr(row, "ts").value // 1_000_000)
            amount = float(getattr(row, "value"))
            rid = int(getattr(row, "event_id"))
            if (
                prev_amount is not None
                and prev_amount < 10.0
                and amount > 400.0
                and ts_ms - prev_ts <= 3_600_000
            ):
                out.append((key_t[0], prev_id, rid))
            prev_id, prev_amount, prev_ts = rid, amount, ts_ms
        state.update((prev_id, prev_amount, prev_ts))
        return out

    return _keyed_state(
        events, ["user_id"], ["ts", "event_id"], step,
        f"{_ddl(events, ['user_id'])}, small_id long, large_id long",
        "prev_id long, prev_amount double, prev_ts long",
    )


def streaming_count_window(
    events: DataFrame,
    size: int = 10,
    slide: int = 5,
) -> DataFrame:
    """Count window (size, slide) of ``value`` per ``user_id`` across
    triggers (W1).

    State = (rows seen, ring buffer of the last ``size-1`` values).
    Fires every ``slide`` rows with the count/sum over the last ``size``
    rows — the data-driven window Spark lacks natively. Matches
    operators.windows.count_window_agg row-for-row on ordered replay.
    """

    def step(key_t, rows, state):
        rn, buf = state.get if state.exists else (0, [])
        buf = list(buf)
        out = []
        for row in rows.itertuples(index=False):
            buf.append(float(getattr(row, "value")))
            if len(buf) > size:
                buf.pop(0)
            rn += 1
            if rn % slide == 0:
                out.append((key_t[0], rn, len(buf), round(sum(buf), 2)))
        state.update((rn, buf))
        return out

    return _keyed_state(
        events, ["user_id"], ["ts", "event_id"], step,
        f"{_ddl(events, ['user_id'])}, fire_at_row long, window_count long, "
        "window_sum double",
        "rn long, buf array<double>",
    )


def streaming_double_stream_match(
    tagged: DataFrame,
    side_col: str = "side",
    timeout_ms: int = 60_000,
) -> DataFrame:
    """Dual-stream matcher with event-time timeout (J4).

    Input: the two streams union'd with a ``side`` tag column and a
    watermark on ``ts`` (the KeyedCoProcessFunction's two inputs,
    DoubleStreamMatch.java:129-134). Per ``order_id``: first arrival is stored in
    state with an event-time timeout at ``ts + timeout_ms``; when the
    other side arrives the pair is emitted with status ``matched``; if
    the watermark passes the timeout first, the stored side emits with
    status ``unmatched_<side>`` — the reference's side-output for
    exception orders (DoubleStreamMatch.java:214-231).
    """

    def step(key_t, rows, state):
        if state.hasTimedOut:
            side, _ = state.get
            state.remove()
            return [(key_t[0], f"unmatched_{side}")]
        pending = state.get if state.exists else None
        out = []
        for row in rows.itertuples(index=False):
            side = getattr(row, side_col)
            if pending is None:
                pending = (side, int(getattr(row, "ts").value // 1_000_000))
            elif pending[0] != side:
                out.append((key_t[0], "matched"))
                pending = None
            # same side twice: keep the first (reference stores one)
        if pending is not None:
            state.update(pending)
            # clamp past the current watermark: Spark REJECTS (query
            # dies) a timeout at-or-behind it, which a late arrival with
            # ts + timeout <= wm would set; clamped, the row times out
            # at the next trigger — its deadline already passed
            state.setTimeoutTimestamp(
                max(pending[1] + timeout_ms, state.getCurrentWatermarkMs() + 1)
            )
        elif state.exists:
            state.remove()
        return out

    return _keyed_state(
        tagged, ["order_id"], ["ts"], step,
        f"{_ddl(tagged, ['order_id'])}, status string",
        "side string, ts_ms long",
        GroupStateTimeout.EventTimeTimeout,
    )


def streaming_asof_enrich(
    tagged: DataFrame,
    key: str,
) -> DataFrame:
    """Streaming twin of ``operators.joins.asof_join`` (backward-
    inclusive, unbounded lookback): per-key ValueState holds the
    LATEST right-side row seen so far; each left row emits enriched
    with that payload (NULL until the first right row).

    Input: the two streams union'd with ``side`` (0 = right/reference,
    1 = left/probe), a shared ``ts``, the left's ``left_id``, the
    right's ``payload`` and a right tiebreak ``ord`` (max wins at equal ts, same
    as the batch operator); the order columns are (ts, side, ord).
    Across triggers the state carries the best-so-far (ts, ord,
    payload), so a right row arriving in a later batch than a left row
    it precedes in event time does NOT rewrite history — exactly the
    co-process semantics the reference's keyed two-stream jobs have.

    State is one flat (ts_us, ord, payload) tuple per key — constant
    bytes per key at any scale. Timestamps are kept at FULL epoch-
    microsecond precision (the streaming_funnel_first_times rule):
    millisecond truncation would bucket two sub-ms-apart right rows
    together and let the ord tiebreak override true event-time order,
    diverging from the batch join's full-timestamp ordering.

    State versioning: the unit change from an earlier epoch-millis
    state is checkpoint-INCOMPATIBLE — mixing would compare ms against
    us values and let any right row overwrite older state. The renamed
    field (``ts_us``) makes Spark's state-schema check reject a
    restart from a pre-change checkpoint loudly; start a fresh
    checkpoint on upgrade (the module's ST11 positional-state rule).
    """

    def step(key_t, rows, state):
        best = state.get if state.exists else None  # (ts_us, ord, payload)
        out = []
        for row in rows.itertuples(index=False):
            if getattr(row, "side") == 0:
                ts_us = int(getattr(row, "ts").value // 1_000)
                o = int(getattr(row, "ord"))
                if best is None or (ts_us, o) >= (best[0], best[1]):
                    best = (ts_us, o, int(getattr(row, "payload")))
            else:
                out.append((
                    int(getattr(row, "left_id")),
                    best[2] if best is not None else None,
                ))
        if best is not None:
            state.update(best)
        return out

    return _keyed_state(
        tagged, [key], ["ts", "side", "ord"], step,
        "left_id long, payload long",
        "ts_us long, ord long, payload long",
    )


def streaming_dedup_ttl(
    df: DataFrame,
    key_cols: Sequence[str],
    ttl_ms: int | None = None,
) -> DataFrame:
    """First-occurrence dedup per key with optional state TTL (ST6):
    emits the key columns, with their input types, on first sight.

    Without ``ttl_ms`` this is Spark's own streaming dedup
    (``dropDuplicates``, the native ``Deduplicate`` state operator: the
    state holds only the key, no Python runs). Checkpoints written
    before it replaced the GroupState path here hold a different state
    schema and cannot be resumed; start a fresh checkpoint.

    With ``ttl_ms`` the GroupState path keeps a drop counter and a
    last-write stamp per key, and the seen-marker expires two ways,
    reproducing StateTtl.java:15-22 OnCreateAndWrite +
    NeverReturnExpired (D8):

    - timer path: the processing-time timeout fires with no data → the
      state is removed outright — NOT re-created — so the key's next
      occurrence is brand new;
    - read path: data arrives for a key whose stored last-write stamp
      is already older than the TTL (the timeout may fire in the same
      trigger or not at all under availableNow) — the expired state is
      ignored, exactly NeverReturnExpired's read-time check, and the
      key re-emits.

    The armed processing-time timer keeps an ``availableNow`` run alive
    indefinitely (Spark waits to fire it); bounded TTL replays should
    stop the query once input is drained. This is the streaming twin
    of exact_dedup_groups.
    """
    keys = list(key_cols)
    if ttl_ms is None:
        return df.dropDuplicates(keys).select(*keys)

    def step(key_t, rows, state):
        if state.hasTimedOut:
            # TTL expired: drop the state and do NOT re-arm (re-creating
            # it here would leak state, churn the timer forever and
            # suppress the key's re-emission, D8)
            state.remove()
        n = len(rows)
        if n == 0:
            return []
        now_ms = int(time.time() * 1000)
        # read-time expiry: NeverReturnExpired — a stale marker counts
        # as absent even before its timer fires
        first = not state.exists or now_ms - state.get[1] > ttl_ms
        dropped = n - 1 if first else state.get[0] + n
        state.update((dropped, now_ms))
        state.setTimeoutDuration(ttl_ms)
        return [tuple(key_t)] if first else []

    return _keyed_state(
        df, keys, [], step, _ddl(df, keys), "dropped long, last_ms long",
        GroupStateTimeout.ProcessingTimeTimeout,
    )


def streaming_dfa_alerts(
    events: DataFrame,
    transitions: Mapping[str, set[str]],
) -> DataFrame:
    """DFA over ``event_type`` per ``user_id`` with cross-trigger state
    (ST7): emits one row per invalid transition as it happens (the
    reference's Alert stream)."""
    trans = {k: frozenset(v) for k, v in transitions.items()}

    def step(key_t, rows, state):
        cur = state.get[0] if state.exists else None
        out = []
        for row in rows.itertuples(index=False):
            sym = getattr(row, "event_type")
            if cur is not None and sym not in trans.get(cur, frozenset()):
                out.append((key_t[0], int(getattr(row, "event_id")), cur, sym))
            cur = sym
        state.update((cur,))
        return out

    return _keyed_state(
        events, ["user_id"], ["ts", "event_id"], step,
        f"{_ddl(events, ['user_id'])}, alert_event_id long, from_state string, "
        "to_state string",
        "cur string",
    )


def streaming_cep(
    events: DataFrame,
    key: str,
    ts_col: str,
    pattern,
    measures,
    output_schema: str,
    within_ms: int,
    order_cols: Sequence[str] | None = None,
    timeout_measures=None,
) -> DataFrame:
    """Streaming CEP: the batch NFA (operators/cep.py) with its pending
    buffer in GroupState (C1-C5 streaming; SURVEY.md §3.3).

    Per key the state is the suffix of rows that can still begin or
    extend a match, JSON-encoded. Each trigger appends the new rows,
    re-runs the NFA from the buffer head, emits completed matches
    (AFTER MATCH SKIP TO NEXT ROW), and evicts starts whose ``within``
    horizon has passed — with per-key ordered arrival (the module
    contract above) eviction is exact: a start older than
    ``max_seen_ts - within`` can never complete. ``measures(vars)``
    gets the batch contract: ``vars`` maps each variable to the list of
    row dicts it consumed, in match order, with ``ts_col`` as epoch ms.

    timeout_measures (C4 streaming, cep/CEPTimeout.java:59-103): when
    set, a start whose horizon passes does NOT evict silently — EVERY
    live partial match anchored there emits through this callable,
    one row per concurrent NFA computation, exactly as Flink calls
    processTimedOutMatch once per partial (same contract and the same
    branch enumeration as the batch
    ``match_recognize(timeout_measures=...)``, see
    ``operators.cep._live_partials``, whose ``cap`` bounds it).
    Include a discriminator column such as ``timed_out boolean`` in
    ``output_schema`` and filter to split the side output. A partial
    can only emit once the watermark-like horizon ``max_seen_ts -
    within`` passes its first row, which may be a later trigger than
    the one that buffered it — the timer latency the reference's
    TimedOutPartialMatchHandler has too.

    Match emission (D10, narrowed r6): a completed match emits in the
    trigger that completes it UNLESS its greedy tail sits at the
    buffer's edge and could still take rows (a ``B+`` below its max,
    or an optional trailing element) while the anchor's ``within``
    horizon is open — such a match is held and re-scanned so a
    boundary-spanning greedy tail ends up identical to the batch run
    (maximal), emitting when a row blocks extension or the horizon
    closes.

    End-of-input drain (D1 closure, r7): a row whose event time is at
    or past ``finalize.FINALIZE_TS`` is a finalize sentinel — it
    advances the key's ``max_ts`` horizon WITHOUT entering the match
    buffer, so every held greedy match emits maximal and every pending
    partial flows through ``timeout_measures``, exactly what Flink's
    end-of-stream ``Watermark(MAX_VALUE)`` does to its NFA state
    (cep/CEPTimeout.java:59-103). Bounded replays call
    ``finalize.write_finalize_sentinel(dir, template, key_col=key,
    keys=<distinct keys>)`` when input is complete; without it, held
    state stays pending until the key sees data — now only the
    genuinely-unbounded residual of D1.
    """
    _check_json_state(events, "streaming_cep", events.columns, ts_col)
    ocols = list(order_cols or [ts_col])
    out_cols = schema_col_names(output_schema)

    def step(key_t, rows, state):
        if state.exists:
            buf_json, max_ts = state.get
            records = [json.loads(s) for s in buf_json]
        else:
            records, max_ts = [], 0
        for row in rows.itertuples(index=False):
            d = dict(zip(rows.columns, row))
            d[ts_col] = int(d[ts_col].value // 1_000_000)  # epoch ms
            if d[ts_col] >= FINALIZE_TS_MS:
                # finalize sentinel: advance the horizon, never enter
                # the buffer (the final MAX watermark, D1)
                max_ts = max(max_ts, d[ts_col])
                continue
            records.append(d)
        records.sort(key=lambda d: tuple(d[c] for c in ocols))
        if records:
            max_ts = max(max_ts, max(d[ts_col] for d in records))

        def within_check(first_idx: int, idx: int) -> bool:
            return records[idx][ts_col] - records[first_idx][ts_col] <= within_ms

        results = []
        start = 0
        n = len(records)
        while start < n:
            found: list[list[tuple[str, int]]] = []
            _find_matches(records, pattern, start, within_check, False, found)
            if found:
                m = found[0]
                # D10 closure: a complete match whose greedy tail sits
                # at the buffer's edge AND could still take rows (B+
                # below max / optional trailing element) is HELD while
                # its anchor's horizon is open — the next trigger's
                # rows may extend it, and emitting now would split a
                # boundary-spanning B+ differently from the batch run.
                # Once max_seen_ts passes anchor + within, no future
                # in-order row can extend it; it emits maximal.
                anchor_ts = records[m[0][1]][ts_col]
                if (
                    max(idx for _, idx in m) == n - 1
                    and anchor_ts + within_ms >= max_ts
                    and _match_could_extend(pattern, m)
                ):
                    break  # keep buffered; re-scan next trigger
                results.append(measures(_match_vars(records, m)))
                start = m[0][1] + 1
            elif records[start][ts_col] + within_ms < max_ts:
                # Horizon passed for the row at ``start``: nothing can
                # complete FROM here. Emit the timed-out partial (C4
                # side output) instead of silently evicting, then skip
                # past its first row — the batch timeout path's advance
                # rule (operators/cep.py:253). Guard: with a relaxed
                # first element the greedy partial may ANCHOR at a later
                # row whose own horizon has NOT passed (the row at
                # ``start`` matched nothing) — that partial is still
                # completable by future rows, so only the dead head row
                # is dropped and the anchor stays buffered.
                if timeout_measures is not None:
                    partials = _live_partials(
                        records, pattern, start, within_check
                    )
                    # all partials share one anchor row (see
                    # _live_partials); one horizon check covers them
                    if partials and (
                        records[partials[0][0][1]][ts_col] + within_ms
                        < max_ts
                    ):
                        for partial in partials:
                            results.append(
                                timeout_measures(_match_vars(records, partial))
                            )
                        start = partials[0][0][1] + 1
                        continue
                start += 1
            else:
                break  # still completable with future rows — keep buffered
        state.update(([json.dumps(d) for d in records[start:]], max_ts))
        return [
            tuple(key_t[0] if c == key else r.get(c) for c in out_cols)
            for r in results
        ]

    return _keyed_state(
        events, [key], ocols, step, output_schema,
        "buf array<string>, max_ts long",
    )


def streaming_funnel_first_times(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    steps: Sequence[str],
) -> DataFrame:
    """Streaming twin of ``operators.journey.funnel_first_times``: the
    ordered funnel as a per-user state machine. GroupState holds one
    nullable epoch-micros slot per step (FULL timestamp precision —
    truncating to millis would erase sub-ms orderings the batch
    cascade's strict comparison sees); an event sets step k's slot only
    when the slot is empty AND step k-1's slot is set with a strictly
    earlier time — exactly the batch cascade's semantics.

    Emits one append-mode row ``(user, step_idx, step, first_ts_us)``
    the moment a step first completes, so downstream sees funnel
    progress live instead of at job end. The order columns are (ts,
    type); across triggers the slots make the machine insensitive to
    re-delivery of later events (a slot never regresses), the same
    monotone-state property the count/dedup twins rely on.

    State is ``len(steps)`` longs per user — constant bytes per key.
    """
    steps = list(steps)
    if not steps:
        raise ValueError("funnel needs at least one step")
    idx = {s: i for i, s in enumerate(steps)}

    def step(key_t, rows, state):
        slots = list(state.get) if state.exists else [None] * len(steps)
        out = []
        for row in rows.itertuples(index=False):
            i = idx.get(getattr(row, type_col))
            if i is None or slots[i] is not None:
                continue
            ts_us = int(getattr(row, ts_col).value // 1_000)
            if i > 0 and (slots[i - 1] is None or ts_us <= slots[i - 1]):
                continue
            slots[i] = ts_us
            out.append((key_t[0], i + 1, steps[i], ts_us))
        state.update(tuple(slots))
        return out

    typed = events.select(F.col(user_col).alias("user_key"), ts_col, type_col)
    return _keyed_state(
        typed, ["user_key"], [ts_col, type_col], step,
        f"{_ddl(typed, ['user_key'])}, step_idx int, step string, "
        "first_ts_us long",
        ", ".join(f"t{i} long" for i in range(len(steps))),
    )


def _token_len(txt) -> int | None:
    """Whitespace token count mirroring functions.text.tokens
    (lowercase, split on single spaces, empties dropped); None for
    NULL/NaN text — batch parity: token_count(NULL) is NULL and must
    not advance any running prefix (str(None) would count 'none' as
    1). ONE definition for every streamed token-prefix operator so the
    convention can't drift between twins."""
    if txt is None or (isinstance(txt, float) and pd.isna(txt)):
        return None
    return len([t for t in str(txt).lower().split(" ") if t])


def streaming_sequence_pack(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    target: int,
    partition_col: str | Sequence[str],
) -> DataFrame:
    """Streaming twin of ``operators.packing.sequence_pack``: greedy
    in-order token packing with the running per-key prefix carried in
    GroupState across micro-batches.

    Contract (same as the batch window's ORDER BY): rows must arrive in
    non-decreasing ``id_col`` order per key across batches — the shape
    of an append-only ingest replay. The order column is the id; across
    batches the state carries the exclusive token prefix, so
    ``pack_id = prefix // target`` is identical to the batch
    formulation row-for-row (asserted by
    tests/test_streaming.py::test_streaming_sequence_pack_matches_batch).

    ``partition_col`` may be a list — e.g. ``[source, shard]``, the
    sharded 100 TB shape (tests assert parity with
    ``sequence_pack_sharded``); key column types are taken from the
    input schema.

    Token semantics mirror functions.text.tokens (lowercase, split on
    single spaces, empties dropped) so streamed counts are bit-identical
    to the codegen path.
    """
    parts = [partition_col] if isinstance(partition_col, str) \
        else list(partition_col)

    def step(key_t, rows, state):
        (prefix,) = state.get if state.exists else (0,)
        out = []
        for row in rows.itertuples(index=False):
            n = _token_len(getattr(row, text_col))
            out.append((*key_t, getattr(row, id_col), n, prefix // target))
            prefix += n or 0
        state.update((prefix,))
        return out

    return _keyed_state(
        docs, parts, [id_col], step,
        f"{_ddl(docs, [*parts, id_col])}, n_tokens int, pack_id long",
        "prefix long",
    )


def streaming_hot_items_counts(
    events: DataFrame,
    duration: str = "1 hour",
) -> DataFrame:
    """Streaming half of the flagship HotItems (HotItems.java:55-81;
    batch twin ``operators.topn.hot_items``): append-mode view counts
    per ``user_id`` in ``duration`` windows sliding by 5 minutes,
    finalized when the (zero-delay) watermark passes each window end.

    Declarative on purpose — no GroupState: Spark's native windowed
    aggregation already IS the incremental per-window count Flink's
    aggregate()+WindowFunction pair implements by hand, with map-side
    partial merge per trigger. The per-window top-N rank is batch logic
    over FINALIZED windows: run ``top_n_per_group`` (the same function
    the batch query uses) in a foreachBatch sink or over any batch read
    of the appended output — ranking inside the stream would force
    update mode and re-emit every rank change, which is the Flink
    job's keyBy(windowEnd)+ProcessFunction cost this formulation
    avoids. Parity with the batch query is asserted in
    tests/test_streaming.py.

    Bounded runs drain completely (D1 closure, r7): sentinel rows
    written by ``finalize.write_finalize_sentinel`` pass the view filter
    (they copy a template data row), advance the watermark past every
    window end, and are dropped by ``drop_finalize`` BEFORE the window
    aggregation — the final no-data micro-batch then emits the tail
    windows, so availableNow output equals the batch query exactly."""
    return (
        drop_finalize(
            events.filter("event_type = 'view'")
            .withWatermark("ts", "0 seconds"),
            "ts",
        )
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


def streaming_series_pattern_scan(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    pattern: Sequence[float],
    max_dist: float,
    order_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Streaming twin of ``operators.windows.series_pattern_scan`` (the
    UCR-shape subsequence similarity scan; EDBT'19 streaming
    time-series similarity — PAPERS.md): slide a ``len(pattern)``
    window over each key's ordered value series AS IT ARRIVES and emit
    every window within squared-euclidean ``max_dist`` of the query
    shape, anchored at the window-start row.

    State per key is exactly the last ``m - 1`` rows (the minimal
    carry for boundary-spanning windows — the same tail discipline as
    the transition-edge ingest): each trigger scans tail + new rows,
    and since a complete window cannot fit inside the (m-1)-row tail,
    every complete window in the concatenation contains at least one
    new row — so nothing is ever emitted twice and nothing is missed,
    giving EXACT batch parity on ordered per-key arrival (the module
    contract). The distance sum replays the batch operator's
    left-associative addition order, and the final 6-dp rounding
    replicates Spark's ``F.round`` exactly (HALF_UP over the double's
    shortest decimal representation — ``BigDecimal.valueOf``; Python's
    built-in ``round`` is binary half-to-even and differs on exact
    halfway values), so emitted distances are IEEE-identical to the
    batch twin's including at the ``max_dist`` threshold boundary.

    Output: ``(key, *order_cols as epoch-ms/long, dist)`` — the
    timestamp order column is carried as epoch millis in state and
    output (the JSON state buffer round-trip; compare against the
    batch twin by casting its timestamp to epoch ms). The buffered
    order and value columns must be JSON-able (the ``streaming_cep``
    build-time check).
    """
    m = len(pattern)
    if m < 1:
        raise ValueError("streaming_series_pattern_scan: empty pattern")
    ocols = list(order_cols or [ts_col])
    _check_json_state(
        events, "streaming_series_pattern_scan", [*ocols, value_col], ts_col
    )
    pat = [float(q) for q in pattern]

    def step(key_t, rows, state):
        seq = [json.loads(s) for s in state.get[0]] if state.exists else []
        for row in rows.itertuples(index=False):
            d = dict(zip(rows.columns, row))
            d[ts_col] = int(d[ts_col].value // 1_000_000)
            seq.append({c: d[c] for c in ocols} | {"v": d[value_col]})
        out = []
        for s in range(len(seq) - m + 1):
            vals = [seq[s + j]["v"] for j in range(m)]
            if any(v is None or pd.isna(v) for v in vals):
                continue
            dist = None
            for v, q in zip(vals, pat):
                term = (v - q) * (v - q)
                dist = term if dist is None else dist + term
            dist = _spark_round6(dist)
            if dist <= max_dist:
                out.append((key_t[0], *[seq[s][c] for c in ocols], dist))
        state.update(([json.dumps(r) for r in seq[max(0, len(seq) - (m - 1)):]],))
        return out

    out_schema = ", ".join(
        [_ddl(events, [key_col])]
        # the ts order column rides as epoch ms; other order cols keep
        # their input type
        + [f"{c} long" if c == ts_col else _ddl(events, [c]) for c in ocols]
        + ["dist double"]
    )
    return _keyed_state(
        events, [key_col], ocols, step, out_schema, "tail array<string>"
    )


def streaming_capped_sessions(
    events: DataFrame,
    watermark: str | None = None,
    clear_state_on_timeout: bool = False,
) -> DataFrame:
    """Gap sessions split by a max-duration cap, as a stream (W4+).

    The streaming twin of the registered ``capped_session_windows``
    batch query: per-``user_id`` 30-min-gap sessions additionally break
    into fixed 20-min sub-windows anchored at the session start. Spark's
    native ``session_window`` cannot express the cap, so this is a
    per-key GroupState fold — and the cap is exactly what BOUNDS that
    state at 100 TB: state per key is ONE open sub-window (8 scalars),
    never a buffer, and a bot key streaming events forever still
    closes a window every 20 minutes.

    A sub-window emits when its session ends (gap exceeded), when the
    cap rolls it over, at end-of-input via a finalize sentinel row
    (ts at/past ``finalize.FINALIZE_TS``, written per key by
    ``write_finalize_sentinel(..., key_col="user_id", keys=...)``, which
    flushes the open sub-window without entering any session — the
    end-of-stream MAX watermark as data, D1, the streaming_cep
    convention) — or, with ``watermark`` set, WHEN THE WATERMARK
    PASSES THE GAP DEADLINE: the operator applies
    ``withWatermark("ts", watermark)`` and registers an event-time
    timeout at ``last_ts + gap`` (VERDICT r8 #2; the reference's
    session semantics fire on watermark, SessionWindow.java:52-56), so
    on a genuinely unbounded stream a key that goes quiet emits its
    final sub-window without any sentinel. No divergence from the
    sentinel path is possible: the timer fires only once wm >
    last_ts + gap, and any non-late later event has ts >= wm >
    last_ts + gap — it would have opened a NEW session anyway. After a
    timer flush the key's state stays by default (8 scalars, n=0) so
    session ordinals keep counting if the key returns — batch parity
    requires it (the batch query numbers a key's sessions over ALL its
    data). The price is one tiny tombstone per lifetime key: on an
    unbounded stream with unbounded KEY CHURN (every key seen once,
    then quiet) total state grows with distinct keys. Deployments with
    that shape and no need for cross-return ordinals pass
    ``clear_state_on_timeout=True``: the timer flush removes the
    key's state entirely (Flink's clear-on-fire, SessionWindow.java),
    and a returning key restarts at session_id 1 — a DOCUMENTED
    divergence from the batch ordinals, tested both ways. Money parity
    with the batch DECIMAL(18,2) sum: values fold as exact integer
    cents via the shortest-repr decimal of each double (Spark's own
    double->decimal cast semantics), emitted as cents/100 double.
    """
    fin_us = FINALIZE_TS_MS * 1000
    gap_us, cap_us = 30 * 60 * 1_000_000, 20 * 60 * 1_000_000
    use_timer = watermark is not None

    def step(key_t, rows, state):
        (sess_id, sess_start, last_ts, sub_idx,
         wmin, wmax, n, cents) = state.get if state.exists else (0,) * 8
        out = []

        def flush():  # emit the open sub-window, if any
            nonlocal n
            if n > 0:
                out.append((key_t[0], sess_id, sub_idx,
                            pd.Timestamp(wmin * 1000),
                            pd.Timestamp(wmax * 1000), n, cents / 100.0))
            n = 0

        for row in rows.itertuples(index=False):
            ts_us = int(getattr(row, "ts").value // 1000)
            if ts_us >= fin_us:
                flush()  # finalize sentinel: never opens a session
                continue
            c = int(_half_up(getattr(row, "value"), "0.01").scaleb(2))
            gap = n == 0 or ts_us - last_ts > gap_us
            new_sub = (ts_us - sess_start) // cap_us
            if gap or new_sub != sub_idx:
                flush()
                if gap:
                    sess_id += 1
                    sess_start = ts_us
                    new_sub = 0
                sub_idx = new_sub
                wmin = wmax = ts_us
                n, cents = 1, c
            else:
                wmax = max(wmax, ts_us)
                n += 1
                cents += c
            last_ts = ts_us
        if state.hasTimedOut:
            # watermark passed last_ts + gap: the session is
            # definitively closed — flush the open sub-window and keep
            # the (bounded) scalars so sess_id keeps counting, unless
            # the caller opted into clear-on-fire (key-churn bound)
            flush()
            if clear_state_on_timeout:
                state.remove()
                return out
        state.update((sess_id, sess_start, last_ts, sub_idx,
                      wmin, wmax, n, cents))
        if use_timer and n > 0:
            # flush when the watermark passes the gap deadline; +1 ms
            # so a row AT last_ts + gap (still in-session) can't race
            # the timer, clamped past the current watermark (Spark
            # rejects a timeout at-or-behind it — the
            # streaming_double_stream_match rule)
            deadline_ms = (last_ts + gap_us) // 1000 + 1
            state.setTimeoutTimestamp(
                max(deadline_ms, state.getCurrentWatermarkMs() + 1)
            )
        return out

    if use_timer:
        events = events.withWatermark("ts", watermark)
    return _keyed_state(
        events, ["user_id"], ["ts", "event_id"], step,
        f"{_ddl(events, ['user_id'])}, session_id long, sub_idx long, "
        "window_start timestamp, window_end timestamp, "
        "n_events long, sum_value double",
        "sess_id long, sess_start long, last_ts long, sub_idx long, "
        "wmin long, wmax long, n long, cents long",
        GroupStateTimeout.EventTimeTimeout if use_timer
        else GroupStateTimeout.NoTimeout,
    )


def streaming_budget_admission(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    cap: int,
    partition_col: str | Sequence[str],
) -> DataFrame:
    """Streaming twin of ``operators.sampling.budget_admission_flags``:
    the crawl ingest admission gate — one running token prefix per key
    in GroupState, a row admitted while the prefix (token mass of ALL
    earlier rows, admitted or not) is under the absolute ``cap``.

    State is a single ``(prefix, last_id)`` pair per key — bounded for
    immortal keys BY CONSTRUCTION (a counter, no buffered rows), which
    is the property that lets this run forever on a crawl firehose.

    Replay contract and its enforcement: rows must arrive in
    increasing ``id_col`` order per key ACROSS triggers (the shape of
    an append-only ingest; the order column is the id). The state
    carries the last id seen and a trigger whose minimum id does not
    exceed it raises ValueError, as does an id repeated within one
    trigger — a masked disorder would silently diverge from the batch
    window's ORDER BY.

    NULL text mirrors the batch side: NULL n_tokens, prefix unchanged,
    the admission predicate still evaluated. Cited against the
    reference's keyed running-aggregate state (HourlyTips.java:60-79).
    """
    parts = [partition_col] if isinstance(partition_col, str) \
        else list(partition_col)
    cap = int(cap)
    if cap < 0:
        # same fail-fast as the batch twin (sampling.budget_admission_
        # flags) — a negative cap must not be masked on the ingest side
        raise ValueError(
            f"streaming_budget_admission: cap must be >= 0, got {cap}"
        )
    if id_col not in docs.columns:
        # a typo'd id column must say so, not misdirect toward a cast
        raise TypeError(
            f"streaming_budget_admission: id column {id_col!r} not found "
            f"in the input schema (columns: {sorted(docs.columns)})"
        )
    if not isinstance(docs.schema[id_col].dataType, IntegralType):
        # last_id is LONG state: a string id would otherwise die
        # mid-stream with an unrelated ValueError. The batch twin takes
        # any orderable id — map or cast ids upstream to use this one.
        raise TypeError(
            f"streaming_budget_admission: id column {id_col!r} must be "
            f"an integral type (last_id replay state is a long); got "
            f"{_ddl(docs, [id_col])}"
        )

    def step(key_t, rows, state):
        prefix, last_id = state.get if state.exists else (0, None)
        out = []
        if len(rows):
            ids = rows[id_col]
            if last_id is not None and int(ids.iloc[0]) <= last_id:
                raise ValueError(
                    "streaming_budget_admission: id-ordered replay "
                    f"contract violated for key {key_t!r}: trigger "
                    f"starts at id {int(ids.iloc[0])}, not after the "
                    f"previous trigger's max id {last_id}"
                )
            if ids.duplicated().any():
                # a duplicate id WITHIN the trigger would inflate the
                # prefix and silently diverge from the batch window —
                # the same loud-failure rule as the cross-trigger check
                raise ValueError(
                    "streaming_budget_admission: id-ordered replay "
                    f"contract violated for key {key_t!r}: id "
                    f"{int(ids[ids.duplicated()].iloc[0])} appears more "
                    "than once in one trigger"
                )
            for row in rows.itertuples(index=False):
                n = _token_len(getattr(row, text_col))
                out.append((*key_t, getattr(row, id_col), n, prefix < cap))
                prefix += n or 0
            last_id = int(ids.iloc[-1])
        state.update((prefix, last_id))
        return out

    return _keyed_state(
        docs, parts, [id_col], step,
        f"{_ddl(docs, [*parts, id_col])}, n_tokens int, kept boolean",
        "prefix long, last_id long",
    )
