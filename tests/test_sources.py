"""Batch reader/writer round-trips (S1-S5, K3/K4) + schema registry."""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import functions as F

from flink_examples_spark.sources.readers import (
    from_elements,
    read_csv_records,
    read_json_records,
    read_text_lines,
    write_csv,
    write_orc_lz4,
    write_text,
)
from flink_examples_spark.sources.schemas import (
    STUDENT_DDL,
    USER_BEHAVIOR_DDL,
    with_event_time,
)


def test_csv_pojo_roundtrip(spark, tmp_path):
    """S5: schema-ful CSV with explicit field order (HotItems.java:47-55)."""
    p = str(tmp_path / "ub.csv")
    with open(p, "w") as f:
        f.write("543462,1715,1464116,pv,1511658000\n")
        f.write("662867,2244074,1575622,buy,1511658000\n")
    df = read_csv_records(spark, p, USER_BEHAVIOR_DDL)
    rows = df.orderBy("userId").collect()
    assert rows[0]["userId"] == 543462 and rows[0]["behavior"] == "pv"
    assert df.schema.fieldNames() == [
        "userId", "itemId", "categoryId", "behavior", "timestamp"
    ]
    # epoch-seconds -> event_time (HotItems.java:62)
    ts = with_event_time(df, "timestamp", "seconds").select("event_time").first()
    assert ts["event_time"].year == 2017


def test_text_multi_path_union(spark, tmp_path):
    """S2: multi-file union is just a multi-path scan."""
    p1, p2 = str(tmp_path / "a.txt"), str(tmp_path / "b.txt")
    for p, content in [(p1, "to be\n"), (p2, "or not to be\n")]:
        with open(p, "w") as f:
            f.write(content)
    assert read_text_lines(spark, [p1, p2]).count() == 2


def test_json_records_with_renamed_field(spark, tmp_path):
    """Log.java:12 @JsonProperty("user_id") — the JSON key is the column."""
    p = str(tmp_path / "logs.json")
    with open(p, "w") as f:
        f.write('{"plat":"ios","lt":"click","user_id":7,"timestamp":1600000000000}\n')
    df = read_json_records(
        spark, p, "plat string, lt string, user_id int, timestamp long"
    )
    r = df.first()
    assert r["user_id"] == 7 and r["plat"] == "ios"


def test_orc_lz4_roundtrip(spark, tmp_path):
    """K3: ORC + LZ4 (FsBulkFormatSink.java:46-50), vectorization native."""
    out = str(tmp_path / "orc")
    df = from_elements(
        spark, [(1, "alice", 90.5), (2, "bob", 82.0)], STUDENT_DDL
    )
    write_orc_lz4(df, out)
    back = spark.read.orc(out)
    assert back.count() == 2
    assert {r["name"] for r in back.collect()} == {"alice", "bob"}
    assert any(f.endswith(".orc") for f in os.listdir(out))


def test_write_text_and_csv(spark, tmp_path):
    tdir, cdir = str(tmp_path / "t"), str(tmp_path / "c")
    df = from_elements(spark, [("hello",), ("world",)], "value string")
    write_text(df, tdir)
    assert spark.read.text(tdir).count() == 2
    df2 = from_elements(spark, [(1, "a"), (2, "b")], "id int, s string")
    write_csv(df2, cdir)
    assert spark.read.schema("id int, s string").csv(cdir).count() == 2


def test_kafka_source_options_offset_strategies():
    """S8 contract (Kafka2Kafka.java:50-82): every reference offset
    start strategy maps to its exact Spark kafka-source option — pure
    translation, asserted without a broker (none in the sandbox)."""
    from flink_examples_spark.streaming.sources import kafka_source_options

    # setStartFromEarliest / setStartFromLatest
    assert kafka_source_options("b:9092", "t", "earliest") == {
        "kafka.bootstrap.servers": "b:9092",
        "subscribe": "t",
        "startingOffsets": "earliest",
    }
    assert kafka_source_options("b:9092", "t")["startingOffsets"] == "latest"
    # setStartFromSpecificOffsets -> JSON startingOffsets
    specific = '{"t":{"0":23,"1":-2}}'
    assert (
        kafka_source_options("b:9092", "t", specific)["startingOffsets"]
        == specific
    )
    # setStartFromTimestamp -> startingOffsetsByTimestamp, overriding
    # startingOffsets entirely
    by_ts = '{"t":{"0":1700000000000,"1":1700000000000}}'
    opts = kafka_source_options(
        "b:9092", "t", "earliest",
        starting_offsets_by_timestamp=by_ts,
        max_offsets_per_trigger=5000,
        group_id_prefix="flink-examples",
    )
    assert opts == {
        "kafka.bootstrap.servers": "b:9092",
        "subscribe": "t",
        "startingOffsetsByTimestamp": by_ts,
        "maxOffsetsPerTrigger": "5000",
        "groupIdPrefix": "flink-examples",
    }


def test_kafka_payload_projection(spark):
    """K5 producer record contract: key/value cast to string, optional
    event timestamp column (setWriteTimestampToKafka)."""
    from flink_examples_spark.streaming.sinks import kafka_payload

    df = spark.createDataFrame(
        [(1, 42, "2020-01-01 00:00:00")], "key int, value int, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    plain = kafka_payload(df)
    assert plain.columns == ["key", "value"]
    row = plain.first()
    assert (row.key, row.value) == ("1", "42")
    with_ts = kafka_payload(df, include_event_timestamp=True)
    assert with_ts.columns == ["key", "value", "timestamp"]
    assert with_ts.first().timestamp == dt.datetime(2020, 1, 1)


def test_decode_int_pair_binary_roundtrip(spark):
    """EventDeSerializer.java:21-39: two little-endian int32s decode via
    built-in expressions (no UDF) — round-trip against struct.pack."""
    import struct

    from flink_examples_spark.streaming.sources import decode_int_pair_binary

    cases = [(0, 0), (1, 3), (2**31 - 1, 4), (305419896, 2), (65536, 1)]
    payloads = [(struct.pack("<ii", a, o),) for a, o in cases]
    df = spark.createDataFrame(payloads, "value binary")
    got = [
        (r.source_address, r.event_type_ordinal)
        for r in decode_int_pair_binary(df).collect()
    ]
    assert got == cases


def test_file_stream_reads_list_footer_as_array(spark, sf_dir, tmp_path):
    """file_stream takes its schema from the catalog's footer reader: the
    embeddings footer's ``list<element: float>`` streams as
    ``array<float>`` (not ``string``), and the stream's rows equal the
    batch table's."""
    import shutil

    from pyspark.sql import types as T

    from flink_examples_spark.catalog import load_table
    from flink_examples_spark.streaming.sources import file_stream

    d = tmp_path / "tape"
    d.mkdir()
    shutil.copy(os.path.join(sf_dir, "embeddings.parquet"), d / "000.parquet")
    src = file_stream(spark, str(d), str(d / "000.parquet"))
    batch = load_table(spark, "embeddings", sf_dir)
    assert src.schema["embedding"].dataType == T.ArrayType(T.FloatType(), True)
    assert src.schema == batch.schema
    q = (
        src.writeStream.format("memory").queryName("embeddings_tape")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.awaitTermination(180)
    try:
        got = spark.table("embeddings_tape").collect()
    finally:
        spark.catalog.dropTempView("embeddings_tape")
    assert sorted(got, key=repr) == sorted(batch.collect(), key=repr)


def test_file_stream_schema_equals_batch_for_every_mapped_type(spark, tmp_path):
    """int16, date32, decimal and zoned, unzoned and nanosecond
    timestamps get the same Spark types from file_stream as from
    load_table."""
    from decimal import Decimal

    import pyarrow as pa
    import pyarrow.parquet as pq

    from flink_examples_spark.catalog import load_table
    from flink_examples_spark.streaming.sources import file_stream

    d = tmp_path / "tape"
    d.mkdir()
    pq.write_table(
        pa.table({
            "i16": pa.array([1], pa.int16()),
            "day": pa.array([dt.date(2020, 1, 2)], pa.date32()),
            "amount": pa.array([Decimal("1.50")], pa.decimal128(10, 2)),
            "zoned": pa.array([1], pa.timestamp("us", tz="UTC")),
            "naive": pa.array([1], pa.timestamp("us")),
            "nanos": pa.array([1], pa.timestamp("ns")),
        }),
        str(d / "events.parquet"),
    )
    src = file_stream(spark, str(d), str(d / "events.parquet"))
    assert src.schema.simpleString() == (
        "struct<i16:smallint,day:date,amount:decimal(10,2),"
        "zoned:timestamp,naive:timestamp,nanos:timestamp>"
    )
    assert src.schema == load_table(spark, "events", str(d)).schema


def test_file_stream_rejects_unmappable_footer_type(spark, tmp_path):
    """A footer type with no Spark equivalent raises when the stream is
    built, instead of streaming as ``string``."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from flink_examples_spark.streaming.sources import file_stream

    d = tmp_path / "tape"
    d.mkdir()
    pq.write_table(
        pa.table({
            "id": pa.array([1], pa.int64()),
            "half": pa.array(np.array([1.5], dtype=np.float16)),
        }),
        str(d / "000.parquet"),
    )
    with pytest.raises(TypeError, match="halffloat"):
        file_stream(spark, str(d), str(d / "000.parquet"))
