"""Scalar function surface beyond text analysis (SURVEY.md §2.12).

The reference uses Java stdlib inline; the engine-level equivalents are
pure Catalyst expressions (JVM, codegen'd — no Python in the hot path):

  ipv4_str      — state/event/Event.java formatAddress: int -> dotted
                  quad via bit shifts.
  json_field    — TwitterJson.java:79-87 / Kafka2Kafka.java:84-93 JSON
                  navigation (get_json_object path access).
  bucket_mod    — AsyncIOExample.java:269 modulo bucketing.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def ipv4_str(col: Column | str) -> Column:
    """Format an int32/int64 IPv4 address as a dotted-quad string
    (Event.java formatAddress — ``(addr >>> 8*i) & 0xFF`` joined by '.').
    Pure bitwise expressions, whole-stage-codegen friendly."""
    c = _c(col).cast("long")
    octets = [
        ((c.bitwiseAND(F.lit(0xFFFFFFFF))) / F.lit(256 ** i)).cast("long") % 256
        for i in (3, 2, 1, 0)
    ]
    return F.concat_ws(".", *[o.cast("string") for o in octets])


def json_field(col: Column | str, path: str) -> Column:
    """Navigate a JSON string column (``$.user.lang`` style paths) —
    TwitterJson's ObjectMapper walk as a single JVM expression."""
    return F.get_json_object(_c(col), path)


def json_has(col: Column | str, path: str) -> Column:
    """``jsonNode.has("text")`` equivalent: path resolves non-null."""
    return F.get_json_object(_c(col), path).isNotNull()


def bucket_mod(col: Column | str, n: int) -> Column:
    """Non-negative modulo bucketing (AsyncIOExample.java:269)."""
    return F.pmod(_c(col), F.lit(n))


def zorder_key(c1: Column | str, c2: Column | str,
               bits: int = 16) -> Column:
    """Morton/Z-order interleave of two pre-quantized non-negative
    integer columns — the multi-dimensional clustering key for data
    layout (Databricks OPTIMIZE ZORDER, Iceberg/Hudi z-order sorts).

    Sorting or range-partitioning 100 TB by a z-key makes files tight
    in EVERY interleaved dimension at once: a reader filtering on
    either column prunes most files from min/max footer stats, where a
    lexicographic (c1, c2) layout only prunes on the leading column.
    Callers quantize each dimension into ``[0, 2**bits)`` first (rank,
    epoch-day, or min/max normalization — see the registered query).

    Pure integer bit math (``bits`` pairs of shift/mask terms, all
    inside whole-stage codegen), identical in any engine: bit i of c1
    lands at 2i, bit i of c2 at 2i+1.
    """
    a = _c(c1).cast("long")
    b = _c(c2).cast("long")
    terms = None
    for i in range(bits):
        t = F.shiftleft(
            F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i
        ) + F.shiftleft(
            F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i + 1
        )
        terms = t if terms is None else terms + t
    return terms.cast("long")
