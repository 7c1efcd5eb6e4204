"""Async-enrichment operator tests (AsyncIOExample semantics)."""

from __future__ import annotations

import time

from flink_examples_spark.operators.enrich import (
    async_enrich,
    broadcast_lookup_enrich,
)


def test_async_enrich_ordered_results(spark):
    df = spark.createDataFrame([(i,) for i in range(20)], "id long")

    def slow_square(row: dict) -> dict:
        # vary latency so completion order differs from input order
        time.sleep(0.001 * (20 - row["id"] % 20))
        return {"sq": row["id"] * row["id"]}

    out = async_enrich(
        df.coalesce(1), slow_square, "id long, sq long",
        capacity=8, ordered=True,
    ).toPandas()
    assert list(out["id"]) == sorted(out["id"])  # input order preserved
    assert all(out["sq"] == out["id"] * out["id"])


def test_async_enrich_unordered_same_rowset(spark):
    df = spark.createDataFrame([(i,) for i in range(30)], "id long")
    out = async_enrich(
        df, lambda r: {"v": r["id"] + 1}, "id long, v long",
        capacity=4, ordered=False,
    ).toPandas()
    assert sorted(out["v"]) == list(range(1, 31))


def test_async_enrich_failure_yields_null(spark):
    df = spark.createDataFrame([(1,), (2,), (3,)], "id long")

    def flaky(row: dict) -> dict:
        if row["id"] == 2:
            raise RuntimeError("injected failure")  # AsyncIOExample's error mode
        return {"v": row["id"] * 10}

    out = async_enrich(df, flaky, "id long, v long").toPandas()
    by_id = dict(zip(out["id"], out["v"]))
    assert by_id[1] == 10 and by_id[3] == 30
    assert by_id[2] is None or by_id[2] != by_id[2]  # null/NaN


def test_broadcast_lookup_enrich(spark):
    df = spark.createDataFrame([(1, 100), (2, 205), (3, 310)], "id long, code long")
    out = broadcast_lookup_enrich(
        df, "code % 100", {0: "zero", 5: "five", 10: "ten"}, "label"
    ).toPandas()
    assert dict(zip(out["id"], out["label"])) == {1: "zero", 2: "five", 3: "ten"}


def test_async_enrich_per_call_timeout_nulls_only_slow_call(spark):
    """timeout_s is a PER-CALL budget measured from each call's own
    submission: one stuck lookup nulls out, its window-mates complete
    normally (AsyncIOExample's per-record orderedWait timeout)."""

    def maybe_slow(row: dict) -> dict:
        if row["id"] == 3:
            time.sleep(0.6)
        return {"v": row["id"] * 10}

    df = spark.createDataFrame([(i,) for i in range(6)], "id long")
    out = async_enrich(
        df.coalesce(1), maybe_slow, "id long, v long",
        capacity=3, timeout_s=0.25, ordered=True,
    ).toPandas()
    by_id = dict(zip(out["id"], out["v"]))
    assert by_id[3] is None or by_id[3] != by_id[3]  # null/NaN
    for i in (0, 1, 2, 4, 5):
        assert by_id[i] == i * 10


def test_async_enrich_parametrized_type_schema(spark):
    """Review regression: the output-schema parser must split on
    top-level commas only — decimal(10,2)/map types used to produce
    phantom columns and a schema-mismatch crash."""
    from flink_examples_spark.operators.enrich import async_enrich

    from decimal import Decimal

    df = spark.createDataFrame([(1,), (2,)], "id long")
    out = async_enrich(
        df,
        lambda rec: {"price": Decimal(f"{rec['id']}.50"),
                     "tags": {"k": rec["id"]}},
        "id long, price decimal(10,2), tags map<string,long>",
    )
    rows = {r["id"]: r for r in out.collect()}
    assert str(rows[1]["price"]) == "1.50"
    assert rows[2]["tags"] == {"k": 2}

