"""Sparse presence bitmaps: exact set algebra on packed 64-bit words
(the Druid/ClickHouse ``groupBitmap`` technique, CRoaring-family).

A group's member set (e.g. the users active on a day) is stored as
``(group, word_idx, word)`` rows — ``word_idx = key div 64``, bit
``key mod 64`` set — with all-zero words absent (sparse). Set algebra
then NEVER touches raw data again:

  - |A ∩ B| = sum over shared word_idx of bit_count(wa & wb)
  - |A ∪ B| = sum of bit_count over the bit_or-merged words
  - |A|     = sum of bit_count(word)

Scale shape: building the bitmap is one map-side-combinable
``bit_or`` groupBy whose shuffle is at most (keyspace / 64) words per
group per task; day-over-day retention or trailing-window actives then
join bitmap tables (days × words rows — kilobytes per million keys at
realistic densities), not event logs. This is the EXACT counterpart of
the HLL pane merge (sketches.py): same never-rescan window assembly,
but set-exact, at the cost of keyspace-proportional (vs constant)
state. Everything is integer bit math — ``shiftleft``/``bit_or``/
``bit_count`` evaluate identically in Spark and DuckDB, so the bitmap
table itself is oracle-verifiable.

Reference parity: the reference has no bitmap operator; this extends
the §2.14 training/analytics mandate (engagement censuses over event
logs) with the standard OLAP-store technique.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def presence_bitmaps(
    df: DataFrame,
    group_cols: list[str],
    key_col: str,
) -> DataFrame:
    """``(*group_cols, word_idx, word)`` — the sparse packed bitmap of
    ``key_col`` presence per group. Keys must be non-negative integers
    (dense surrogate ids) — a negative key raises at execution time
    (a negative ``word_idx`` plus a negative shift amount would corrupt
    the packed words silently otherwise); NULL keys are excluded
    (COUNT(DISTINCT) semantics). One map-side-combinable ``bit_or``
    aggregate. The key column name is backtick-quoted with internal
    backticks doubled, and the error message carries only the VALUE
    (not the raw name), so names with special characters — including
    backticks and single quotes — are safe (ADVICE r7)."""
    k = "`" + key_col.replace("`", "``") + "`"
    return (
        df.filter(F.expr(f"{k} IS NOT NULL"))
        .select(
            *group_cols,
            F.expr(
                f"CASE WHEN {k} < 0 THEN raise_error(concat("
                f"'presence_bitmaps: negative key: ', "
                f"cast({k} as string))) ELSE {k} div 64 END"
            ).alias("word_idx"),
            F.expr(f"shiftleft(1L, int({k} % 64))").alias("_bit"),
        )
        .groupBy(*group_cols, "word_idx")
        .agg(F.bit_or("_bit").alias("word"))
    )
