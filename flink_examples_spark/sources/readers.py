"""Batch readers (SURVEY.md §2.1) and writers (§2.2 K3/K4 batch side).

Streaming counterparts live in streaming/sources.py / streaming/sinks.py.
Every reader returns a lazy DataFrame scan so Catalyst pushes filters
and prunes columns into the file source (check ``PushedFilters`` /
``ReadSchema`` in ``.explain("formatted")``).
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator, Sequence
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession, functions as F


def read_text_lines(spark: SparkSession, paths: str | Sequence[str]) -> DataFrame:
    """S1/S2: text-file line source; multi-path replaces the reference's
    manual union loop (WordCount.java:35-41) — Spark unions file splits
    natively and keeps per-file parallelism."""
    if isinstance(paths, str):
        paths = [paths]
    return spark.read.text(list(paths))


def read_csv_records(
    spark: SparkSession,
    path: str,
    schema_ddl: str,
) -> DataFrame:
    """S5: schema-ful CSV scan (PojoCsvInputFormat with explicit field
    order, HotItems.java:47-55). The DDL string IS the field order."""
    return spark.read.schema(schema_ddl).option("header", False).csv(path)


def read_json_records(
    spark: SparkSession, path: str, schema_ddl: str | None = None
) -> DataFrame:
    """JSON-lines scan (the Jackson-per-record paths: Kafka2Kafka.java:
    84-93, TwitterJson.java:74-96). Explicit schema beats inference at
    scale — inference reads the data twice."""
    reader = spark.read
    if schema_ddl is not None:
        reader = reader.schema(schema_ddl)
    return reader.json(path)


def from_elements(
    spark: SparkSession, rows: Iterable[tuple], schema_ddl: str
) -> DataFrame:
    """S3/S4: bounded in-memory source (env.fromElements /
    fromCollection — WordCount.java:49, BroadcastStreamConnect.java:
    62-71). For rate-limited replay use streaming.sources.rate_events."""
    return spark.createDataFrame(list(rows), schema_ddl)


def write_text(df: DataFrame, path: str) -> None:
    """K4: writeAsText (IterateExample.java:102). Single string column
    required; callers concat beforehand (HotItems.java:129-140 style)."""
    df.write.mode("overwrite").text(path)


def write_orc_lz4(df: DataFrame, path: str) -> None:
    """K3 batch: columnar ORC with LZ4 (FsBulkFormatSink.java:44-58).
    The reference hand-vectorizes POJOs into VectorizedRowBatch
    (StudentVectorizer.java:26-38); Spark's ORC writer vectorizes
    natively."""
    df.write.mode("overwrite").option("compression", "lz4").orc(path)


def write_csv(df: DataFrame, path: str) -> None:
    """K2 batch row-format: CSV part files."""
    df.write.mode("overwrite").option("header", False).csv(path)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    path: str,
    bucket_cols: Sequence[str],
    n_buckets: int,
    sort_cols: Sequence[str] | None = None,
) -> None:
    """Persist a table bucketed (and optionally sorted) by the join key —
    the co-located-join strategy for repeated big-big joins at scale.

    Two tables bucketed on the same key with the same bucket count join
    WITHOUT a shuffle exchange: each task reads matching bucket files
    from both sides (tests/test_bucketing.py asserts the exchange-free
    plan). This is the persistent-layout analog of the reference's keyBy
    pre-partitioning reuse (DoubleStreamMatch.java:100,129 — SURVEY.md
    §4.1), amortizing one shuffle at write time across every later join.
    """
    writer = (
        df.write.mode("overwrite")
        .format("parquet")
        .option("path", path)
        .bucketBy(n_buckets, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def write_partitioned_table(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str],
    sort_cols: Sequence[str] | None = None,
    options: dict[str, str] | None = None,
) -> None:
    """Persist a table hive-partitioned by low-cardinality columns
    (date/source/shard) — the layout that turns time/source predicates
    into DIRECTORY pruning: a scan with ``WHERE dt = X`` lists and
    reads only the matching partition directories (PartitionFilters in
    the plan), so a one-day query over a 100 TB / 3-year corpus touches
    ~0.1% of files before a single row is decoded.

    ``sort_cols`` additionally orders rows inside each file so min/max
    row-group statistics prune within the partition (the poor man's
    z-order for one dimension). Complements ``write_bucketed_table``:
    bucket for join locality, partition for predicate locality.

    Partition columns must be low-cardinality: one directory (and at
    least one file) per distinct value — partitioning 100 TB by a
    high-cardinality key is the small-files failure mode; bucket on
    those instead.
    """
    if sort_cols:
        # the sort must LEAD with the partition columns: V1Writes
        # inserts its own partition-column sort for partitionBy() and
        # EliminateSorts would drop an inner sort on sort_cols alone
        # (verified on Spark 4.1 — files came out unsorted); a sort
        # already prefixed by the partition columns satisfies the
        # required ordering and survives into the files
        df = df.repartition(*[F.col(c) for c in partition_cols]) \
               .sortWithinPartitions(*partition_cols, *sort_cols)
    w = df.write.mode("overwrite")
    if options:
        # writer-level format options (e.g. parquet.block.size to size
        # row groups); conf-level Hadoop keys don't reach the writer
        w = w.options(**options)
    w.partitionBy(*partition_cols).parquet(path)


@contextmanager
def literal_partitions(spark) -> Iterator[None]:
    """Read hive partition values as the literal directory strings for
    the body of the ``with`` block, then restore the session's setting,
    also when the body raises.

    With partition column type inference on, a string partition like
    ``shard=01`` re-reads as int 1, and a rewrite renames its directory
    to ``shard=1``: leading zeros are lost and the schema re-types.
    Every read that rewrites or merges partitions in place runs inside
    this block, so it keeps :func:`compact_partitioned_table`'s
    identity contract."""
    key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def compact_partitioned_table(
    spark,
    in_path: str,
    out_path: str,
    partition_cols: Sequence[str],
    max_records_per_file: int,
) -> DataFrame:
    """Small-file compaction for a hive-partitioned table — the
    maintenance job every long-lived 100 TB table needs: streaming
    ingest and fine-grained upserts leave thousands of KB-sized files
    per partition, and scan cost becomes file-open overhead instead of
    IO. Rewrites the table so each partition holds the minimum number
    of files bounded by ``max_records_per_file``.

    Entirely declarative — no driver-side file listing: one task per
    partition value (``repartition(partition_cols)``) writes that
    partition's rows sequentially, and the writer's
    ``maxRecordsPerFile`` splits oversized partitions into row-bounded
    files. Data, schema, and partition layout are byte-identical to the
    input (a content-hash check belongs in the caller's validation);
    directory-pruning behavior is preserved because the partition
    scheme is unchanged, and partition values round-trip as the literal
    directory strings (:func:`literal_partitions`).

    Writes to ``out_path`` (never in place — an in-place rewrite that
    dies mid-job loses the table); production callers swap the
    directory or repoint the catalog after validating, keeping the old
    layout until then. Returns the compacted table's DataFrame.

    Skew note: one task per partition value is the right shape when
    partitions are human-scale (a day, a source). A partition whose
    rows exceed executor memory budget should be bucketed, not
    partition-compacted — same guidance as write_partitioned_table's
    cardinality note.
    """
    with literal_partitions(spark):
        (
            spark.read.parquet(in_path)
            .repartition(*[F.col(c) for c in partition_cols])
            .write.mode("overwrite")
            .option("maxRecordsPerFile", max_records_per_file)
            .partitionBy(*partition_cols)
            .parquet(out_path)
        )
    return spark.read.parquet(out_path)


def zorder_key(cols: Sequence[str], bits: int = 16):
    """Z-order (Morton) interleave of 2-3 non-negative integer columns,
    as ONE codegen expression — the multi-dimensional layout key
    single-column sorting can't provide: sorting a table by
    ``zorder_key(["x", "y"])`` makes each parquet row group cover a
    compact rectangle in (x, y) space, so min/max statistics prune
    scans filtered on EITHER dimension (tests/test_compaction.py
    proves both dimensions' row-group intervals shrink vs a
    single-column sort).

    Inputs must already be quantized to ``[0, 2**bits)`` — rank, hash
    bucket, epoch-day, or (value - min) >> shift; quantization is the
    caller's statement of which value ranges should cluster.
    ``bits * len(cols)`` must fit a signed 64-bit key (<= 62).

    Bit k of column j lands at position ``k * n_cols + j``; disjoint
    positions mean the terms combine with ``+`` inside whole-stage
    codegen — no UDF, no shuffle, just an expression column to sort by
    (compose with write_partitioned_table's ``sort_cols``).
    """
    ncols = len(cols)
    if not 2 <= ncols <= 3:
        raise ValueError(f"zorder_key interleaves 2-3 columns, got {ncols}")
    if bits * ncols > 62:
        raise ValueError(
            f"zorder_key: {bits} bits x {ncols} cols exceeds a signed "
            "64-bit key; lower bits"
        )
    terms = [
        f"shiftleft(shiftright(cast(`{c}` as bigint), {k}) & 1, "
        f"{k * ncols + j})"
        for k in range(bits)
        for j, c in enumerate(cols)
    ]
    return F.expr(" + ".join(terms))
