"""Streaming sources (SURVEY.md §2.1 S1-S11).

  file_stream    — S1/S5: directory-watching file source; the streaming
                   twin of the batch catalog readers: the same
                   footer-built schema and timestamp normalisation as
                   catalog.load_table.
  rate_events    — S6: programmatic generator sources. The reference
                   writes SourceFunction emit loops (SessionWindow.java:
                   31-50, EventsGeneratorSource.java:9-46); here the
                   built-in ``rate`` source provides the tick stream and
                   deterministic column expressions synthesize the fields
                   — backpressure and checkpointing come from the engine.
  kafka_source_options
                 — S8/S9: the Kafka consumer's option map, with the
                   reference's offset start strategies (Kafka2Kafka.java:
                   50-82), for ``spark.readStream.format("kafka")``. No
                   stream is built here: the environment has no broker
                   and no Kafka connector jar (DIVERGENCES.md D16).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_examples_spark.catalog import _normalise_ts, parquet_schema


def file_stream(
    spark: SparkSession,
    directory: str,
    schema_file: str,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Stream a directory of parquet files in deterministic per-file
    batches.

    ``schema_file`` is an existing parquet file used as the schema
    authority (streaming reads require an explicit schema). Its schema
    comes from ``catalog.parquet_schema`` and its timestamps go through
    ``catalog._normalise_ts`` — the helpers ``catalog.load_table`` uses —
    so streaming and batch agree on types and event time by
    construction. A footer type with no Spark equivalent raises here.
    """
    schema, nanos_cols = parquet_schema(schema_file)
    if nanos_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(directory)
    )
    return _normalise_ts(df, nanos_cols)


def rate_events(
    spark: SparkSession,
    rows_per_second: int = 100,
    n_users: int = 100,
) -> DataFrame:
    """Deterministic synthetic event stream off the built-in rate source.

    Replaces the reference's hand-rolled SourceFunction generators
    (ThrottledIterator.java:23-72 rate limiting is the ``rowsPerSecond``
    option). Columns are pure functions of the tick value, so replays
    after failure produce identical data — the property the reference's
    checkpointed sources exist for (AsyncIOExample.java:157-210).
    """
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
        .select(
            F.col("value").alias("event_id"),
            F.col("timestamp").alias("ts"),
            F.pmod(F.col("value"), F.lit(n_users)).alias("user_id"),
            F.element_at(
                F.array(F.lit("view"), F.lit("click"), F.lit("purchase"),
                        F.lit("signup"), F.lit("error")),
                (F.pmod(F.col("value") * 2654435761, F.lit(5)) + 1).cast("int"),
            ).alias("event_type"),
            (F.pmod(F.col("value") * 1103515245 + 12345, F.lit(50000)) / 100.0
             ).alias("value"),
        )
    )


def kafka_source_options(
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "latest",
    starting_offsets_by_timestamp: str | None = None,
    max_offsets_per_trigger: int | None = None,
    group_id_prefix: str | None = None,
) -> dict[str, str]:
    """Kafka consumer option map (S8, Kafka2Kafka.java:50-82) — pure
    translation, testable without a broker (the sandbox ships no Kafka
    connector jar; DIVERGENCES.md D16).

    Offset start strategies map 1:1: setStartFromEarliest/Latest →
    ``startingOffsets: earliest|latest``; setStartFromTimestamp(ms) →
    ``startingOffsetsByTimestamp`` (JSON topic→partition→ms, overrides
    startingOffsets); setStartFromSpecificOffsets → the JSON form of
    ``startingOffsets``. setStartFromGroupOffsets has no equivalent:
    Spark owns offsets in the checkpoint WAL, not the broker group —
    offset commit on checkpoint (Kafka2Kafka.java:74) is therefore
    automatic. Per-partition watermarking (S9, Kafka2Kafka.java:94-113)
    is ``withWatermark`` downstream: Spark's watermark is the global min
    across partitions, the same merged semantics.
    """
    opts = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
    }
    if starting_offsets_by_timestamp is not None:
        opts["startingOffsetsByTimestamp"] = starting_offsets_by_timestamp
    else:
        opts["startingOffsets"] = starting_offsets
    if max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    if group_id_prefix is not None:
        opts["groupIdPrefix"] = group_id_prefix
    return opts


def decode_int_pair_binary(df: DataFrame) -> DataFrame:
    """Decode the reference's custom binary Kafka ``value``: two
    little-endian int32s (address, event-type ordinal) —
    schema/EventDeSerializer.java:21-39 — using built-in expressions
    over BinaryType (no UDF)."""
    def le_int(offset: int):
        bytes_ = [
            F.conv(F.hex(F.substring("value", offset + i, 1)), 16, 10).cast("long")
            for i in range(4)
        ]
        return (
            bytes_[0]
            + bytes_[1] * 256
            + bytes_[2] * 65536
            + bytes_[3] * 16777216
        )

    return df.withColumn("source_address", le_int(1).cast("int")).withColumn(
        "event_type_ordinal", le_int(5).cast("int")
    )
