"""Corpus snapshot diff — dataset versioning for training pipelines.

Before retraining on corpus v2, a pipeline audits what changed since
v1: which documents appeared, vanished, or were edited. The diff is a
single full-outer join on the document id comparing content
fingerprints (md5 of normalized text, the ``dedup.exact`` fingerprint),
so the cost is one co-partitioned shuffle of (id, 16-byte hash) — not
of document bodies — and the verdict is engine-portable.

At 100 TB both snapshots are parquet; bucketing them on the id column
(sources.write_bucketed_table) makes the diff exchange-free — proven at
the plan level by tests/test_bucketing.py::
test_snapshot_diff_on_bucketed_snapshots_is_exchange_free.
"""

from __future__ import annotations

import os
import shutil
from urllib.parse import unquote

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StringType

from flink_examples_spark.functions.text import fingerprint_md5
from flink_examples_spark.sources.readers import literal_partitions


def is_unable_to_infer_schema(e: Exception) -> bool:
    """True when ``e`` is Spark's UNABLE_TO_INFER_SCHEMA analysis error
    (the 'empty table directory' signal). Matched by errorClass, not
    message text — messages vary across Spark versions/formats/locales
    (ADVICE r3)."""
    if not isinstance(e, AnalysisException):
        return False
    for attr in ("getCondition", "getErrorClass"):
        getter = getattr(e, attr, None)
        if getter is not None:
            try:
                return getter() == "UNABLE_TO_INFER_SCHEMA"
            except Exception:
                continue
    return False

_UPSERT = ("added", "changed")
_RETIRE = ("removed", "changed")


def snapshot_diff(
    old: DataFrame, new: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Per-document diff verdict between two corpus snapshots.

    Output: ``<id_col>, verdict`` with verdict ∈ {'added', 'removed',
    'changed', 'unchanged'} — added = only in ``new``, removed = only
    in ``old``, changed = present in both with different content
    fingerprints.

    Presence is tracked with explicit markers, NOT fingerprint
    nullness: a NULL-text document has a NULL fingerprint but IS
    present in its snapshot, and must diff as changed/unchanged (via
    null-safe fingerprint equality), never as added/removed. NULL-text
    on both sides is 'unchanged'.
    """
    o = old.select(
        F.col(id_col).alias("doc_id"),
        fingerprint_md5(text_col).alias("_fp_old"),
        F.lit(True).alias("_in_old"),
    )
    n = new.select(
        F.col(id_col).alias("doc_id"),
        fingerprint_md5(text_col).alias("_fp_new"),
        F.lit(True).alias("_in_new"),
    )
    # Plain equi-join on the id: a null-safe (<=>) join would let
    # NULL-id rows match themselves but defeats bucket pruning — the
    # exchange-free bucketed-diff plan (test_bucketing.py) is the
    # 100 TB property and wins. Contract: ids must be non-NULL (a
    # NULL-id row diffs as an added+removed pair, SQL equi-join
    # semantics); corpora that can carry NULL ids assign a sentinel
    # upstream, the operators/sampling.py `_null_safe` pattern.
    return (
        o.join(n, "doc_id", "full_outer")
        .select(
            F.col("doc_id").alias(id_col),
            F.when(F.col("_in_old").isNull(), "added")
            .when(F.col("_in_new").isNull(), "removed")
            .when(
                F.col("_fp_old").eqNullSafe(F.col("_fp_new")), "unchanged"
            )
            .otherwise("changed")
            .alias("verdict"),
        )
    )


def merge_apply(
    old: DataFrame,
    new: DataFrame,
    diff: DataFrame,
    id_col: str,
) -> DataFrame:
    """Apply a :func:`snapshot_diff` verdict to corpus ``old``,
    producing the merged corpus (algebraically ``new`` restricted to
    the diff's coverage) — the daily MERGE of a versioned corpus.

    Rows kept from ``old``: everything not 'removed'/'changed'. Rows
    taken from ``new``: the 'added'/'changed' ids. ``old`` and ``new``
    must share a schema; the merge is by ``unionByName``.

    100 TB shape: the corpus side streams through a broadcast anti-join
    — the unchanged bodies (the overwhelming majority of a daily merge)
    are NEVER shuffled; only the delta-sized id sets move. Composed
    with a partitioned layout
    (sources.write_partitioned_table), only partitions containing a
    delta id need rewriting — the Delta-Lake/Iceberg MERGE shape,
    expressed as plain declarative joins.
    """
    # One shared delta subtree with the verdict predicate in the JOIN
    # CONDITION rather than pre-filtered into two different children.
    # Catalyst still pushes the per-leg verdict predicate into each
    # broadcast build, but the subtrees now agree up to the diff's
    # fingerprint shuffles, and exchange reuse kicks in there
    # (ReusedExchange on both hashpartitioning exchanges, verified on
    # the final AQE plan): each snapshot is scanned and shuffled ONCE
    # for both legs — the dominant cost at corpus scale — and only the
    # delta-sized merge-join + broadcast build runs per leg.
    delta = F.broadcast(
        diff.filter(F.col("verdict") != "unchanged").select(
            F.col(id_col).alias("_m_id"), F.col("verdict").alias("_m_verdict")
        )
    )
    kept = old.join(
        delta,
        (F.col(id_col) == F.col("_m_id"))
        & F.col("_m_verdict").isin(*_RETIRE),
        "left_anti",
    )
    fresh = new.join(
        delta,
        (F.col(id_col) == F.col("_m_id"))
        & F.col("_m_verdict").isin(*_UPSERT),
        "left_semi",
    )
    return kept.unionByName(fresh)


def merge_apply_partitioned(
    spark,
    table_path: str,
    new: DataFrame,
    delta: DataFrame,
    id_col: str,
    partition_col: str,
) -> list:
    """Partition-scoped MERGE into a hive-partitioned corpus table:
    apply ``delta`` (columns ``<id_col>, <partition_col>, verdict`` —
    a :func:`snapshot_diff` joined with each id's partition value) by
    rewriting ONLY the partitions that contain a non-'unchanged' id.
    Returns the affected partition values.

    The 100 TB contract this demonstrates: a daily merge touching 1% of
    partitions reads and rewrites 1% of the table — the scan of the
    stored corpus carries a partition ISIN filter (directory pruning,
    PartitionFilters in the plan), the merge itself is the broadcast
    anti/semi shape of :func:`merge_apply`, and the write uses DYNAMIC
    partition overwrite so untouched partition directories are never
    read or rewritten. (Partition DISCOVERY still lists every directory
    once on the driver before the isin filter prunes — O(total
    partitions) metadata, O(affected) data; a transactional format's
    manifest removes the listing too.)

    Two driver-side bounds, both partition-cardinality-sized (never
    row-sized): the affected-value collect, and an eager
    localCheckpoint of the merged rows to break lineage before
    overwriting a path being read (delta-partition-footprint, not
    corpus). Production tables with transactional formats (Delta/
    Iceberg) replace the checkpoint+overwrite tail with a commit; the
    read-prune + broadcast-merge head is identical.

    Contracts enforced loudly, never merged wrong: the partition column
    must be STRING-typed in ``new``/``delta`` (the hive read runs inside
    ``sources.readers.literal_partitions``, so stored values round-trip
    as the literal directory strings; shard=01 stays '01', never re-types to int 1 and
    silently forks a shard=1 directory), and partition values must be
    non-NULL (``isin`` would silently match nothing for NULL — reject
    it; assign a sentinel upstream, the operators/sampling.py
    ``_null_safe`` pattern). A table whose every partition was removed
    by a previous merge (then crashed before the checkpoint committed)
    reads back as empty rather than failing the replay.
    """
    for side, df in (("new", new), ("delta", delta)):
        dt = df.schema[partition_col].dataType
        if not isinstance(dt, StringType):
            raise TypeError(
                f"merge_apply_partitioned: {side}.{partition_col} is "
                f"{dt.simpleString()}, must be string — non-string "
                "partition values re-type through the hive directory "
                "round-trip (shard=01 forks a shard=1 directory); cast "
                "to string upstream"
            )
    affected = [
        r[0]
        for r in delta.filter(F.col("verdict") != "unchanged")
        .select(partition_col)
        .distinct()
        .collect()
    ]
    if any(v is None for v in affected):
        raise ValueError(
            f"merge_apply_partitioned: NULL {partition_col!r} value in "
            "delta — partition values must be non-NULL (assign a "
            "sentinel upstream)"
        )
    if not affected:
        return []
    with literal_partitions(spark):
        try:
            old = spark.read.parquet(table_path).filter(
                F.col(partition_col).isin(affected)
            )
        except AnalysisException as e:  # empty table: all partitions removed
            if not is_unable_to_infer_schema(e):
                raise
            old = spark.createDataFrame([], new.schema)
        merged = merge_apply(
            old,
            new.filter(F.col(partition_col).isin(affected)),
            delta.filter(F.col(partition_col).isin(affected)),
            id_col,
        ).localCheckpoint()
        (
            merged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(partition_col)
            .parquet(table_path)
        )
    # Dynamic overwrite replaces only partitions it writes rows into —
    # a partition whose documents were ALL removed writes nothing and
    # its stale directory would survive. Drop those explicitly (local
    # filesystem here; a transactional table format commits the delete).
    # Spark hive-escapes special characters in directory names
    # (source=a:b -> source=a%3Ab), so compare by UNESCAPING the listed
    # directory names instead of constructing escaped paths by hand.
    present = {
        r[0] for r in merged.select(partition_col).distinct().collect()
    }
    emptied = {str(v) for v in set(affected) - present}
    if emptied:
        prefix = f"{partition_col}="
        for name in os.listdir(table_path):
            d = os.path.join(table_path, name)
            if (
                name.startswith(prefix)
                and os.path.isdir(d)
                and unquote(name[len(prefix):]) in emptied
            ):
                shutil.rmtree(d)
    return affected


def events_log_as_of(
    events: DataFrame,
    id_col: str,
    seq_col: str,
    horizon,
    partition_col: str | None = None,
) -> DataFrame:
    """Time-travel read over a retained CDC event log: reconstruct the
    table state AS OF ``horizon`` — the rows whose latest event with
    ``seq <= horizon`` is an upsert (delete wins seq ties, the same
    conservative rule as :func:`streaming.sinks.cdc_merge_foreach_batch`
    applies going forward). The what-did-the-corpus-look-like-at-
    snapshot-K primitive a versioned training-data store owes its
    consumers; transactional formats ship it as snapshot reads, and a
    plain retained event log supports it with one aggregation.

    Keys are ``(id_col, partition_col)`` when ``partition_col`` is
    given (the CDC merge's per-partition identity — a doc moved across
    partitions via delete+upsert restores into its new partition only
    when both legs clear the horizon), else ``id_col`` alone.

    Plan: filter to the horizon (pushable to the scan), ONE map-side-
    combinable ``max_by`` aggregation per key — no window over the
    event history, no join; the log is scanned once. Output: the
    event-row payload of each surviving upsert (minus ``op``).
    """
    keys = [id_col] + ([partition_col] if partition_col else [])
    payload = [c for c in events.columns if c != "op"]
    # delete outranks an upsert at the SAME seq: order by (seq, is_del)
    rank = F.struct(
        F.col(seq_col),
        F.when(F.col("op") == "delete", 1).otherwise(0).alias("_d"),
        *[F.col(c) for c in payload if c not in keys + [seq_col]],
    )
    latest = (
        events.filter(F.col(seq_col) <= horizon)
        .groupBy(*keys)
        .agg(
            F.max_by(
                F.struct(F.col("op").alias("_op"),
                         *[F.col(c) for c in payload]),
                rank,
            ).alias("_last")
        )
    )
    return (
        latest.filter(F.col("_last._op") != "delete")
        .select(*[F.col(f"_last.{c}").alias(c) for c in payload])
    )


def incremental_agg_apply(
    base_agg: DataFrame,
    delta: DataFrame,
    key_cols: list[str],
    amount_col: str,
) -> DataFrame:
    """Incremental MAINTENANCE of an additive aggregate (sum + count)
    from a change feed — the materialized-view half of the versioning
    family: [[snapshot_diff]] tells you WHAT changed, this applies it
    to a standing report without recomputing the corpus.

    ``base_agg``: the maintained view ``(*key_cols, total, n_rows)``.
    ``delta``: change rows ``(*key_cols, amount, op)`` with op
    ``'add'`` (row inserted) or ``'del'`` (row removed, amount = the
    removed row's amount). An update is modelled as del+add, the
    standard change-feed decomposition. Groups whose maintained count
    reaches zero are DROPPED (the group no longer exists), and brand-new
    groups appear — so the result is always identical to re-aggregating
    the post-change corpus, which is exactly what the oracle asserts.

    Scale shape: the delta is aggregated FIRST (map-side combinable,
    delta-sized), then merged with the view by one co-partitioned
    union+groupBy on the view's own key — the base corpus is never
    read. Sum arithmetic stays in DECIMAL so maintenance is exact
    (order-free), never float drift.
    """
    signed = delta.select(
        *key_cols,
        F.when(F.col("op") == "del", -F.col(amount_col))
        .otherwise(F.col(amount_col))
        .alias("_amt"),
        F.when(F.col("op") == "del", F.lit(-1))
        .otherwise(F.lit(1))
        .cast("long")
        .alias("_n"),
    )
    delta_agg = signed.groupBy(*key_cols).agg(
        F.sum("_amt").alias("total"), F.sum("_n").alias("n_rows")
    )
    return (
        base_agg.select(*key_cols, "total", "n_rows")
        .unionByName(delta_agg)
        .groupBy(*key_cols)
        .agg(F.sum("total").alias("total"), F.sum("n_rows").alias("n_rows"))
        .filter(F.col("n_rows") != 0)
    )
