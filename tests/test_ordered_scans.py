"""Ordered per-key and per-row scans as native column expressions:
``stateful.dfa_alerts`` (a ``lag`` scan), ``stateful.delta_trigger``
(a running-sum frame) and ``iteration.fib_steps`` (one ``aggregate``
fold per row).

Each is pinned to a pure-Python reference — the per-key (per-row) loop
these operators ran before they moved into the JVM — on random streams
with NULL symbols and deltas, NULL order values (sorted last), order
ties broken by id, and int64 keys above 2^53 beside a NULL key.
"""

from __future__ import annotations

import math
from collections import defaultdict

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from flink_examples_spark.operators.iteration import fib_steps
from flink_examples_spark.operators.stateful import dfa_alerts, delta_trigger
from flink_examples_spark.queries import _DFA_TRANSITIONS

SCHEMA = "k long, ts long, id long, v {}"
# int64 keys that collide as float64 (2^53 + 1 and 2^53 + 2), the int64
# extremes, and a NULL key
KEYS = [None, 0, 2**53 + 1, 2**53 + 2, -(2**63), 2**63 - 1]

_hyp = settings(max_examples=20, deadline=None,
                suppress_health_check=[HealthCheck.function_scoped_fixture])


def _streams(values):
    """Rows ``(key, ts, id, value)``: few distinct ``ts`` (ties and
    NULLs), ``id`` unique per row so it breaks every tie."""
    row = st.tuples(st.sampled_from(KEYS),
                    st.one_of(st.none(), st.integers(0, 3)), values)
    return st.lists(row, max_size=40).map(
        lambda rs: [(k, ts, i, v) for i, (k, ts, v) in enumerate(rs)])


def _by_key(rows):
    """Each key's ``(id, value)`` in scan order: ``ts`` nulls last,
    then ``id``."""
    groups = defaultdict(list)
    for k, ts, i, v in sorted(
            rows, key=lambda r: (r[1] is None, r[1] or 0, r[2])):
        groups[k].append((i, v))
    return groups


def _dfa_reference(rows, transitions, initial_ok):
    out = set()
    for k, g in _by_key(rows).items():
        state, alerts = None, 0
        for _, sym in g:
            if state is None:
                if initial_ok is not None and sym not in initial_ok:
                    alerts += 1
            elif sym not in transitions.get(state, frozenset()):
                alerts += 1
            state = sym
        out.add((k, len(g), alerts))
    return out


def _delta_reference(rows, threshold):
    out = set()
    for k, g in _by_key(rows).items():
        cum, prev = 0.0, 0
        for i, d in g:
            cum += 0.0 if d is None else d
            # floor(cum / threshold): the delta_trigger_fires oracle's
            # formula (numpy's cum // threshold differs, e.g. 1.0 // 0.1
            # is 9.0)
            bucket = math.floor(cum / threshold)
            if bucket > prev:
                out.add((k, i, bucket))
            prev = bucket
    return out


def _fib_reference(x, y, limit, max_iter):
    n = 0
    for _ in range(max_iter):
        if y >= limit:
            break
        x, y, n = y, x + y, n + 1
    return n


@_hyp
@given(rows=_streams(st.sampled_from(sorted(_DFA_TRANSITIONS)
                                     + ["bogus", None])),
       initial_ok=st.one_of(st.none(), st.just({"signup", "error"})))
def test_dfa_alerts_matches_reference(spark, rows, initial_ok):
    df = spark.createDataFrame(rows, SCHEMA.format("string"))
    got = dfa_alerts(df, "k", ["ts", "id"], "v", _DFA_TRANSITIONS,
                     initial_ok=initial_ok).collect()
    assert {tuple(r) for r in got} == _dfa_reference(
        rows, _DFA_TRANSITIONS, initial_ok)
    assert len(got) == len({r[0] for r in rows})


@_hyp
@given(rows=_streams(st.one_of(st.none(), st.floats(-3, 12, width=32))),
       threshold=st.sampled_from([0.1, 0.7, 2.5, 10.0]))
def test_delta_trigger_matches_reference(spark, rows, threshold):
    df = spark.createDataFrame(rows, SCHEMA.format("double"))
    got = delta_trigger(df, "k", ["ts", "id"], "v", "id", threshold)
    assert {tuple(r) for r in got.collect()} == _delta_reference(
        rows, threshold)


@_hyp
@given(pairs=st.lists(st.tuples(st.integers(-50, 200), st.integers(-50, 200)),
                      max_size=20),
       limit=st.integers(-10, 10**6), max_iter=st.integers(1, 30))
def test_fib_steps_matches_reference(spark, pairs, limit, max_iter):
    df = spark.createDataFrame(pairs, "x long, y long")
    got = fib_steps(df, "x", "y", limit=limit, max_iter=max_iter).collect()
    assert sorted(tuple(r) for r in got) == sorted(
        (x, y, _fib_reference(x, y, limit, max_iter)) for x, y in pairs)


def test_delta_trigger_fires_on_each_bucket_rise(spark):
    """A leading NULL delta (a running SUM over only NULLs is NULL), a
    NULL in the middle, one row crossing several multiples, and a dip
    below a multiple that crosses it again."""
    rows = [(1, 1, None), (1, 2, 25.0), (1, 3, None), (1, 4, -8.0),
            (1, 5, 4.0), (1, 6, 9.0), (2, 1, 9.0), (2, 2, 1.0)]
    df = spark.createDataFrame(rows, "k long, id long, d double")
    got = delta_trigger(df, "k", ["id"], "d", "id", 10.0).collect()
    # key 1 cum: 0, 25, 25, 17, 21, 30 -> buckets 0, 2, 2, 1, 2, 3
    assert sorted(tuple(r) for r in got) == [
        (1, 2, 2), (1, 5, 2), (1, 6, 3), (2, 2, 1)]


def test_delta_trigger_bucket_is_floor_of_quotient(spark):
    """floor(1.0 / 0.1) is 10, where floor division 1.0 // 0.1 gives 9."""
    df = spark.createDataFrame([(1, 1, 1.0)], "k long, id long, d double")
    got = delta_trigger(df, "k", ["id"], "d", "id", 0.1).collect()
    assert [tuple(r) for r in got] == [(1, 1, 10)]


@pytest.mark.parametrize("threshold", [0.0, -1.0])
def test_delta_trigger_rejects_non_positive_threshold(spark, threshold):
    df = spark.createDataFrame([(1, 1, 1.0)], "k long, id long, d double")
    with pytest.raises(ValueError, match="threshold"):
        delta_trigger(df, "k", ["id"], "d", "id", threshold)


def test_fib_steps_retires_unfinished_rows_at_cap(spark):
    """A row still below the limit after max_iter steps keeps its row,
    with n_steps == max_iter."""
    pairs = spark.createDataFrame([(1, 1)], "x long, y long")
    rows = fib_steps(pairs, "x", "y", limit=10**15, max_iter=5).collect()
    assert [tuple(r) for r in rows] == [(1, 1, 5)]


@pytest.mark.parametrize("row", [(None, 1), (1, None)])
def test_fib_steps_fails_on_null_input(spark, row):
    pairs = spark.createDataFrame([row], "x long, y long")
    with pytest.raises(Exception, match="fib_steps: NULL x or y"):
        fib_steps(pairs, "x", "y").collect()


def test_fib_steps_fails_on_long_overflow(spark):
    """x + y past 2^63 - 1 fails the job instead of wrapping negative."""
    pairs = spark.createDataFrame([(2**63 - 8, 50)], "x long, y long")
    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
        fib_steps(pairs, "x", "y").collect()


def test_fib_steps_rejects_non_positive_max_iter(spark):
    pairs = spark.createDataFrame([(1, 1)], "x long, y long")
    with pytest.raises(ValueError, match="max_iter"):
        fib_steps(pairs, "x", "y", max_iter=0)
