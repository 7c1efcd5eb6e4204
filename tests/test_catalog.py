"""catalog.load_table: the schema built from the parquet footer equals
Spark's inference, costs no Spark job, and follows a rewritten file."""

from __future__ import annotations

import glob
import os
import subprocess
import sys
import textwrap

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from flink_examples_spark.catalog import TABLES, _footer_schema, load_table

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _inferred(spark, path):
    """The table as read through Spark's schema inference, with the
    normalisation ``load_table`` applies (ns→µs truncation, NTZ cast)."""
    nanos = [
        f.name for f in pq.read_schema(path)
        if str(f.type).startswith("timestamp[ns")
    ]
    if nanos:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    for c in nanos:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    for f in df.schema.fields:
        if f.dataType.typeName() == "timestamp_ntz":
            df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
    return df


@pytest.mark.parametrize("name", TABLES)
def test_schema_equals_inference_at_every_scale(spark, sf_dir, name):
    sf_dirs = sorted(glob.glob(os.path.join(os.path.dirname(sf_dir), "sf*")))
    assert sf_dirs
    for d in sf_dirs:
        path = os.path.join(d, f"{name}.parquet")
        if os.path.exists(path):
            assert load_table(spark, name, d).schema == _inferred(spark, path).schema, d
    got = load_table(spark, name, sf_dir).collect()
    want = _inferred(spark, os.path.join(sf_dir, f"{name}.parquet")).collect()
    assert sorted(got, key=repr) == sorted(want, key=repr)


def test_load_table_runs_no_job(spark, sf_dir):
    """Counted under a job group of its own, with a cold footer cache;
    the inference read under a second group shows the count sees jobs."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    _footer_schema.cache_clear()
    try:
        sc.setJobGroup("test_catalog.load_table", "load_table")
        for name in TABLES:
            df = load_table(spark, name, sf_dir)
            assert df.columns and df.schema
        sc.setJobGroup("test_catalog.inference", "inference")
        spark.read.parquet(os.path.join(sf_dir, "region.parquet")).schema
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert tracker.getJobIdsForGroup("test_catalog.load_table") == []
    assert tracker.getJobIdsForGroup("test_catalog.inference")


def test_nanos_under_plain_session(tmp_path):
    """A timestamp[ns] column reads as its ns→µs truncation under a
    session built with plain ``SparkSession.builder``, which sets none of
    the package's confs (``__spark_entry__.py`` is handed such a
    session)."""
    ns = [1_600_000_000_123_456_789, 1_600_000_001_999_999_999, 86_400_000_000_001]
    pq.write_table(
        pa.table({
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array(ns, pa.timestamp("ns")),
        }),
        str(tmp_path / "events.parquet"),
    )
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        from pyspark.sql import SparkSession
        from flink_examples_spark.catalog import load_table
        spark = (SparkSession.builder.master("local[1]")
                 .config("spark.sql.session.timeZone", "UTC")
                 .config("spark.ui.enabled", "false").getOrCreate())
        df = load_table(spark, "events", {str(tmp_path)!r})
        print(df.schema.simpleString())
        for r in df.selectExpr("event_id", "unix_micros(ts)").orderBy("event_id").collect():
            print(r[0], r[1])
        spark.stop()
    """)
    out = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True,
        timeout=300, check=True,
    ).stdout.split("\n")
    assert out[0] == "struct<event_id:bigint,ts:timestamp>"
    assert out[1:4] == [f"{i} {v // 1000}" for i, v in enumerate(ns, 1)]


def test_rewritten_file_is_read_again(spark, tmp_path):
    path = str(tmp_path / "region.parquet")
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["a", "b"]}), path)
    assert load_table(spark, "region", str(tmp_path)).columns == [
        "r_regionkey", "r_name"
    ]
    pq.write_table(
        pa.table({
            "r_regionkey": [0, 1], "r_name": ["a", "b"],
            "r_comment": ["x", "y"],
        }),
        path,
    )
    df = load_table(spark, "region", str(tmp_path))
    assert df.columns == ["r_regionkey", "r_name", "r_comment"]
    assert [r.r_comment for r in df.orderBy("r_regionkey").collect()] == ["x", "y"]
