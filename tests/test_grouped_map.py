"""grouped_map_in_pandas: the shared mapInPandas migration target for
per-key operators (CEP NFA, DFA alerts, delta triggers).

The r14 rewrite replaced the per-batch ``pd.concat([carry, pdf])`` —
O(k^2) bytes for a group spanning k Arrow batches — with a list of
batch slices concatenated once when the group closes (VERDICT r13 #2).
These tests force tiny Arrow batches so one hot key spans MANY batches
and pin exact equality against ``groupBy().applyInPandas``, the
contract the helper replaces. The helper hands each group over already
sorted by ``order`` with nulls last, so the per-group function here
does not sort, while the reference sorts each group with pandas'
``sort_values`` (which puts nulls last too); null ``o`` values check
that the two orders agree.

All per-group functions are defined INSIDE the tests so cloudpickle
ships them by value (the tests/ dir is not importable on workers).
"""

import pandas as pd
import pytest

from flink_examples_spark.operators.util import grouped_map_in_pandas

SCHEMA = "k string, n long, s long, sig long"


def _make_stats_fn():
    def stats_fn(key, pdf):
        # order-sensitive per-group reduction: catches dropped or
        # duplicated rows AND wrong intra-group order
        vals = pdf["v"].tolist()
        first = "" if pd.isna(key[0]) else str(key[0])
        return pd.DataFrame(
            {
                "k": [first],
                "n": [len(vals)],
                "s": [sum(vals)],
                "sig": [sum((i + 1) * v for i, v in enumerate(vals))],
            }
        )

    return stats_fn


def _with_small_batches(spark, n):
    class _Ctx:
        def __enter__(self):
            self.prev = spark.conf.get(
                "spark.sql.execution.arrow.maxRecordsPerBatch"
            )
            spark.conf.set(
                "spark.sql.execution.arrow.maxRecordsPerBatch", str(n)
            )

        def __exit__(self, *exc):
            spark.conf.set(
                "spark.sql.execution.arrow.maxRecordsPerBatch", self.prev
            )

    return _Ctx()


def _run(spark, rows):
    fn = _make_stats_fn()
    df = spark.createDataFrame(rows, "k string, o long, v long")
    out = grouped_map_in_pandas(df, ["k"], ["o"], fn, SCHEMA)
    return sorted(tuple(r) for r in out.collect())


def _expected(spark, rows):
    fn = _make_stats_fn()
    df = spark.createDataFrame(rows, "k string, o long, v long")
    ref = (
        df.groupBy("k")
        .applyInPandas(
            lambda pdf: fn((pdf["k"].iloc[0],), pdf.sort_values("o")),
            SCHEMA,
        )
        .collect()
    )
    return sorted(tuple(r) for r in ref)


def test_hot_key_spanning_many_batches(spark):
    # one key owns 97 of 120 rows; with 3-row Arrow batches it spans
    # >30 batches — the exact shape the quadratic carry degraded on
    rows = [("hot", i, i % 7) for i in range(97)] + [
        (f"k{i % 5}", i, i) for i in range(23)
    ]
    with _with_small_batches(spark, 3):
        got = _run(spark, rows)
    assert got == _expected(spark, rows)


def test_many_small_groups_tiny_batches(spark):
    # groups smaller than, equal to, and straddling the batch size
    rows = [(f"g{i % 17}", i, i * 3 + 1) for i in range(100)]
    with _with_small_batches(spark, 4):
        got = _run(spark, rows)
    assert got == _expected(spark, rows)


def test_null_order_values_arrive_last(spark):
    # null ``o`` rows (all with the same ``v``, so their order among
    # themselves does not change the signature) sit inside a hot key
    # spanning many batches and inside small keys
    rows = [
        ("hot", None if i % 4 == 0 else i, 5 if i % 4 == 0 else i)
        for i in range(60)
    ] + [(f"k{i % 3}", None if i % 5 == 0 else i, i % 5) for i in range(20)]
    with _with_small_batches(spark, 3):
        got = _run(spark, rows)
    assert got == _expected(spark, rows)


def test_null_keys_group_together(spark):
    rows = [(None, i, i) for i in range(9)] + [("a", i, i) for i in range(4)]
    with _with_small_batches(spark, 2):
        got = _run(spark, rows)
    assert got == _expected(spark, rows)


def test_float_upcast_key_above_2p53_raises(spark):
    # nullable int64 key upcasts to float64 in pandas; above 2^53 two
    # distinct keys can compare equal — the helper must refuse rather
    # than silently merge (ADVICE r13)
    big = 2**60
    df = spark.createDataFrame(
        [(big, 0, 1), (big + 1, 1, 2), (None, 2, 3)],
        "k long, o long, v long",
    )
    # one partition: the upcast only happens where a null shares a
    # partition with the big keys
    out = grouped_map_in_pandas(
        df,
        ["k"],
        ["o"],
        lambda key, pdf: pd.DataFrame({"n": [len(pdf)]}),
        "n long",
        num_partitions=1,
    )
    with pytest.raises(Exception, match="2\\^53|float64"):
        out.collect()


def test_double_key_above_2p53_groups_like_apply_in_pandas(spark):
    # a genuinely-float key compares as the same doubles the JVM groups
    # on, so the 2^53 guard (integral keys only) must let it through:
    # distinct doubles at 2^60 are 256 apart and must stay distinct
    big = 2.0**60
    df = spark.createDataFrame(
        [(big, 0, 1), (big + 256, 1, 2), (big, 2, 3), (big + 512, 3, 4),
         (None, 4, 5)],
        "k double, o long, v long",
    )
    schema = "k double, n long, s long"

    def fn(key, pdf):
        return pd.DataFrame(
            {"k": [key[0]], "n": [len(pdf)], "s": [int(pdf["v"].sum())]}
        )

    got = grouped_map_in_pandas(
        df, ["k"], ["o"], fn, schema, num_partitions=1
    ).collect()
    ref = (
        df.groupBy("k")
        .applyInPandas(lambda pdf: fn((pdf["k"].iloc[0],), pdf), schema)
        .collect()
    )
    assert len(got) == 4
    assert sorted(repr(tuple(r)) for r in got) == sorted(
        repr(tuple(r)) for r in ref
    )
