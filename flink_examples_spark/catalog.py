"""Loaders for the driver's synthetic TPC-H-ish parquet tables.

See TESTDATA.md. The reference derives schemas from Java POJOs via
reflection (e.g. topn/HotItems.java:49-53 TypeExtractor); here the schema
authority is the parquet footer, read on the driver by ``parquet_schema``
and handed to the scan with ``.schema(...)``, so a read fires no Spark job.
``load_table`` and ``streaming.sources.file_stream`` share it and
``_normalise_ts``. Catalyst prunes columns/pushes filters into the scan.
"""

from __future__ import annotations

import os
from functools import lru_cache

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_schema

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def parquet_schema(path: str) -> tuple[T.StructType, tuple[str, ...]]:
    """``(schema, nanos_cols)`` of one parquet file, built from its footer:
    equal to Spark's schema inference without its job (unzoned timestamps
    NTZ, every field nullable), with the timestamp[ns] columns as
    ``bigint`` (read under ``nanosAsLong``). An Arrow type with no Spark
    equivalent raises. Cached per file version, so a file rewritten at the
    same path is read again.
    """
    st = os.stat(path)
    return _footer_schema(path, st.st_mtime_ns, st.st_size)


@lru_cache(maxsize=256)
def _footer_schema(
    path: str, mtime_ns: int, size: int
) -> tuple[T.StructType, tuple[str, ...]]:
    arrow = pq.read_schema(path)
    nanos_cols = tuple(
        f.name for f in arrow if str(f.type).startswith("timestamp[ns")
    )
    fields = [
        T.StructField(f.name, T.LongType() if f.name in nanos_cols else f.dataType)
        for f in from_arrow_schema(arrow, prefer_timestamp_ntz=True)
    ]
    return T.StructType(fields), nanos_cols


def _normalise_ts(df: DataFrame, nanos_cols: tuple[str, ...]) -> DataFrame:
    """Bring a footer-schema read to the timestamp types every operator
    was built against:

    - nanosecond columns: read as raw longs and truncated to micros —
      the same ns→us truncation DuckDB applies;
    - microsecond columns without the UTC-adjustment flag: Spark 4 reads
      these as TIMESTAMP_NTZ, which breaks epoch arithmetic
      (``unix_micros`` et al.) and diverges from the LTZ type every
      operator was built against. Cast back to session-zoned TIMESTAMP
      (sessions here run UTC, so values are identical to DuckDB's naive
      reading either way).
    """
    cols = {
        c: F.timestamp_micros(F.expr(f"`{c}` div 1000")) for c in nanos_cols
    }
    for f in df.schema.fields:
        if isinstance(f.dataType, T.TimestampNTZType):
            cols[f.name] = F.col(f"`{f.name}`").cast("timestamp")
    return df.withColumns(cols) if cols else df


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """Read one synthetic table as a DataFrame (parquet scan, lazy, no
    Spark job): the footer-built schema, then ``_normalise_ts``."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema, nanos_cols = parquet_schema(path)
    if nanos_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return _normalise_ts(spark.read.schema(schema).parquet(path), nanos_cols)


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Register all tables as temp views so Spark SQL can address them."""
    for name in TABLES:
        load_table(spark, name, sf_dir).createOrReplaceTempView(name)
