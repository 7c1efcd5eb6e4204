"""Streaming sinks (SURVEY.md §2.2 K1-K8).

The reference's sink matrix collapses onto three Spark mechanisms:

  writeStream.format(...)  — rolling file sinks (K2/K3: text/csv/orc/
                             parquet with partitionBy bucketing; part-file
                             lifecycle = micro-batch commit protocol),
                             console (K1), kafka (K5).
  foreachBatch             — transactional/idempotent batch writers: JDBC
                             upsert (K6, JDBCSink.java:57-76), Redis (K7),
                             Elasticsearch (K8), and the staged-partial
                             ingest faces (``batch=<id>`` subdirs folded
                             on read). The micro-batch IS the
                             reference's buffered batch (batchSize/
                             flush-interval knobs ≈ trigger interval).
  checkpointLocation       — ST8: offsets + state per micro-batch; the
                             at-least-once + idempotent-write combination
                             that reproduces the reference's exactly-once
                             observable behavior (SURVEY.md §7.4.5).
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter


def rolling_file_sink(
    df: DataFrame,
    path: str,
    checkpoint: str,
    fmt: str = "parquet",
    bucket_by_time: str | None = "yyyy-MM-dd--HH",
    ts_col: str = "ts",
    compression: str | None = None,
) -> DataStreamWriter:
    """Row/bulk-format rolling file sink (K2/K3).

    The reference buckets part files by wall-clock hour with
    DateTimeBucketAssigner (FsRowFormatSink.java:44-64) — here the bucket
    is a ``partitionBy`` column derived from event time, which also makes
    downstream scans partition-prunable. Part files finalize on
    micro-batch commit (the in-progress → finished lifecycle is the
    sink's commit protocol). ORC+LZ4 (FsBulkFormatSink.java:46-50) is
    ``fmt='orc', compression='lz4'`` — vectorization is built in.
    """
    out = df
    if bucket_by_time is not None:
        out = out.withColumn("bucket", F.date_format(F.col(ts_col), bucket_by_time))
    writer = out.writeStream.format(fmt).option("path", path).option(
        "checkpointLocation", checkpoint
    )
    if bucket_by_time is not None:
        writer = writer.partitionBy("bucket")
    if compression is not None:
        writer = writer.option("compression", compression)
    return writer


def kafka_payload(
    df: DataFrame,
    include_event_timestamp: bool = False,
    ts_col: str = "ts",
) -> DataFrame:
    """Shape a frame into the Kafka producer record contract (K5):
    string ``value``, optional string ``key`` (partitioner input),
    optional ``timestamp`` (setWriteTimestampToKafka,
    Kafka2Kafka.java:150). Pure projection — testable without a broker
    and reused by ``kafka_sink``."""
    cols = [F.col("value").cast("string").alias("value")]
    if "key" in df.columns:
        cols.insert(0, F.col("key").cast("string").alias("key"))
    if include_event_timestamp:
        cols.append(F.col(ts_col).alias("timestamp"))
    return df.select(*cols)


def kafka_sink(
    df: DataFrame,
    bootstrap_servers: str,
    topic: str,
    checkpoint: str,
    include_event_timestamp: bool = False,
    ts_col: str = "ts",
) -> DataStreamWriter:
    """Kafka producer sink (K5, Kafka2Kafka.java:118-164).

    Spark's Kafka sink is at-least-once per micro-batch; the reference's
    EXACTLY_ONCE two-phase transaction has no engine equivalent — match
    the observable guarantee with idempotent consumers or an upsert
    landing table (SURVEY.md §7.4.5). ``setWriteTimestampToKafka`` maps
    to an explicit ``timestamp`` column.
    """
    return (
        kafka_payload(df, include_event_timestamp, ts_col)
        .writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint)
    )


def parquet_upsert_foreach_batch(
    target_dir: str, key_cols: Sequence[str]
) -> Callable[[DataFrame, int], None]:
    """Idempotent upsert writer for ``foreachBatch`` (K6 pattern).

    Reproduces JDBCSink.java:57-76 (``INSERT ... ON DUPLICATE KEY
    UPDATE``) against a parquet target: merge the micro-batch into the
    keyed table, last-write-wins per key. Restarted batches re-merge the
    same rows → idempotent, which upgrades the sink to exactly-once
    observable semantics. In production the same callback shape wraps
    ``df.write.jdbc`` or a Delta ``MERGE``.

    TEST-HARNESS SINK: it rewrites the whole target per micro-batch
    (fine for fixtures, a scale-killer on a real table — use
    ``jdbc_upsert_foreach_batch`` or Delta MERGE in production). The
    final overwrite is non-atomic, so each merge is staged to
    ``<target>.tmp-<batch>`` first and crash recovery is REAL: if a
    crash between the target delete and rewrite leaves the target
    missing/partial, the replayed batch merges against the newest
    surviving tmp copy (which holds the complete pre-crash merge)
    instead of the broken target, writing its own stage to a distinct
    attempt path so the rescue copy is never clobbered before it is
    read. All tmp stages are deleted once the target write succeeds.
    """

    def write(batch_df: DataFrame, batch_id: int) -> None:
        import glob
        import shutil
        import uuid

        spark = batch_df.sparkSession
        batch = batch_df.dropDuplicates(list(key_cols)).cache()

        def has_parquet(d: str) -> bool:
            return os.path.isdir(d) and any(
                f.endswith(".parquet") for f in os.listdir(d)
            )

        def committed(d: str) -> bool:
            # Spark's committer writes _SUCCESS last; a directory with
            # part files but no marker is a crashed half-commit and must
            # NOT be treated as authoritative.
            return has_parquet(d) and os.path.isfile(
                os.path.join(d, "_SUCCESS")
            )

        rescues = sorted(
            (d for d in glob.glob(target_dir.rstrip("/") + ".tmp-*")
             if committed(d)),
            key=os.path.getmtime,
        )
        if committed(target_dir):
            base = target_dir
        elif rescues:
            # crashed mid-overwrite: the newest fully-committed tmp
            # stage is the only complete copy — recover from it, never
            # from a partially-moved target
            base = rescues[-1]
        else:
            base = target_dir if has_parquet(target_dir) else None
        if base is not None:
            existing = spark.read.parquet(base)
            keep = existing.join(batch.select(*key_cols), list(key_cols), "left_anti")
            merged = keep.unionByName(batch)
        else:
            merged = batch
        # unique attempt suffix: a replay must never overwrite the tmp
        # stage it may be recovering FROM
        tmp = target_dir.rstrip("/") + f".tmp-{batch_id}-{uuid.uuid4().hex[:8]}"
        merged.write.mode("overwrite").parquet(tmp)
        final = spark.read.parquet(tmp)
        final.write.mode("overwrite").parquet(target_dir)
        batch.unpersist()
        for d in glob.glob(target_dir.rstrip("/") + ".tmp-*"):
            shutil.rmtree(d, ignore_errors=True)

    return write


def jdbc_upsert_foreach_batch(
    url: str,
    table: str,
    upsert_sql: str,
    properties: dict[str, str] | None = None,
    batch_size: int = 5000,
) -> Callable[[DataFrame, int], None]:
    """JDBC upsert via foreachBatch (K6, JDBCSink.java:57-76).

    ``upsert_sql`` is the dialect's upsert statement; executed per
    partition with ``batch_size`` statements per round-trip (the
    reference's JdbcExecutionOptions.batchSize). Requires the JDBC
    driver jar on the cluster — config-builder only in this environment.
    """

    def write(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.write.mode("append")
            .format("jdbc")
            .option("url", url)
            .option("dbtable", table)
            .option("batchsize", str(batch_size))
            .options(**(properties or {}))
            .save()
        )

    return write


def kv_hset_foreach_batch(
    client_factory: Callable[[], object],
    hash_name: str,
    key_col: str,
    value_col: str,
    pipeline_size: int = 500,
) -> Callable[[DataFrame, int], None]:
    """Redis-style HSET sink (K7, RedisSinkExample.java:44-68).

    The reference maps each record to ``HSET hash_name key value`` via a
    jedis pool. Here the client is injected (``client_factory`` runs
    once per partition on the executor — the RichSinkFunction ``open()``
    slot) and must expose ``hset_many(hash_name, [(key, value), ...])``
    and optionally ``close()``. Writes are pipelined ``pipeline_size``
    entries per call; per-key set semantics make replayed micro-batches
    idempotent (exactly-once observable).
    """

    def write(batch_df: DataFrame, batch_id: int) -> None:
        def per_partition(rows) -> None:
            client = client_factory()
            try:
                buf: list[tuple] = []
                for row in rows:
                    buf.append((row[key_col], row[value_col]))
                    if len(buf) >= pipeline_size:
                        client.hset_many(hash_name, buf)
                        buf = []
                if buf:
                    client.hset_many(hash_name, buf)
            finally:
                close = getattr(client, "close", None)
                if close is not None:
                    close()

        batch_df.select(key_col, value_col).foreachPartition(per_partition)

    return write


def bulk_index_foreach_batch(
    client_factory: Callable[[], object],
    index: str,
    id_col: str,
    doc_cols: Sequence[str],
    bulk_actions: int = 1000,
) -> Callable[[DataFrame, int], None]:
    """Elasticsearch-style bulk index sink (K8, ESSink.java:44-63).

    The reference buffers IndexRequests and flushes every
    ``bulkFlushMaxActions``. The injected client (one per partition)
    must expose ``bulk_index(index, [(doc_id, doc_dict), ...])`` and
    optionally ``close()``. Document ids make retried bulks idempotent
    (the failure-handler discussion at ESSink.java:76-120 reduces to
    replay + idempotent put).
    """
    cols = list(doc_cols)

    def write(batch_df: DataFrame, batch_id: int) -> None:
        def per_partition(rows) -> None:
            client = client_factory()
            try:
                buf: list[tuple] = []
                for row in rows:
                    buf.append((row[id_col], {c: row[c] for c in cols}))
                    if len(buf) >= bulk_actions:
                        client.bulk_index(index, buf)
                        buf = []
                if buf:
                    client.bulk_index(index, buf)
            finally:
                close = getattr(client, "close", None)
                if close is not None:
                    close()

        batch_df.select(id_col, *cols).foreachPartition(per_partition)

    return write


def transactional_foreach_batch(
    write_fn: Callable[[DataFrame, int], None],
    commit_log_dir: str,
) -> Callable[[DataFrame, int], None]:
    """Exactly-once wrapper for non-idempotent foreachBatch writers
    (K5, SURVEY.md §7.4.5).

    Kafka2Kafka.java:121-149 gets exactly-once from a two-phase
    transactional producer; the Spark-native equivalent is epoch-id
    dedup: ``batch_id`` is stable across replays of the same epoch, so
    a batch whose commit marker exists is skipped entirely. Write the
    marker only after ``write_fn`` returns — a crash between the two
    replays the batch (at-least-once into an already-written target →
    pair with an idempotent/upsert writer, or accept the txn boundary
    at the marker write, which is the same boundary Flink's 2PC commit
    has). In production the marker directory lives on the checkpoint
    filesystem.
    """

    def write(batch_df: DataFrame, batch_id: int) -> None:
        marker = os.path.join(commit_log_dir, f"{batch_id}.committed")
        if os.path.exists(marker):
            return
        write_fn(batch_df, batch_id)
        os.makedirs(commit_log_dir, exist_ok=True)
        tmp = marker + ".tmp"
        with open(tmp, "w") as f:
            f.write("committed")
        os.replace(tmp, marker)

    return write


def cdc_merge_foreach_batch(
    table_path: str,
    id_col: str,
    partition_col: str,
    seq_col: str,
    op_col: str = "op",
    fmt: str = "parquet",
    guard_seq: bool = False,
    compact_every_n_batches: int | None = None,
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` CDC apply: merge a stream of change events
    (``op`` ∈ {'upsert', 'delete'}) into a hive-partitioned corpus
    table via :func:`operators.diff.merge_apply_partitioned` — each
    micro-batch rewrites ONLY the partitions its delta touches (the
    streaming face of the versioned-corpus MERGE; the batch face is
    ``corpus_merge_apply``).

    Within a batch, multiple events per id resolve last-write-wins by
    ``seq_col`` (ties broken toward delete, the conservative side).
    Replayed batches re-apply the same latest-op set onto the already-
    merged table — upserts overwrite themselves, deletes of absent ids
    are no-ops — so the sink is idempotent and checkpoint + replay
    yields exactly-once observable table state. The non-atomic window
    of dynamic partition overwrite is per-partition (a crash can leave
    an affected partition mid-rewrite until the replay repairs it);
    transactional formats close that window with a commit, same merge
    head.

    The target table must exist (bootstrap with an initial batch write)
    and the event schema must be the table schema plus ``seq_col`` and
    ``op_col``; the delete leg needs ``partition_col`` populated so the
    tombstone can find its partition.

    Contract: ``partition_col`` is immutable per id (corpus tables
    partition by source/ingest-date, which never changes for a doc id).
    An event stream that MOVES an id across partitions must encode the
    move as delete-in-old-partition + upsert-in-new-partition — a bare
    upsert carries only the new partition, so the merge would never
    visit the old one and the stale row would survive there. LWW
    resolution runs per (id, partition) so both legs of such a move
    survive within one batch. Ties on (id, partition, seq) between two
    upserts are resolved arbitrarily; real CDC feeds carry a unique seq
    per id.

    Ordering across batches: by default LWW holds only WITHIN a
    micro-batch — seq is dropped at write, so a later batch delivering
    a late lower-seq event would regress newer data. With
    ``guard_seq=True`` the table carries ``seq_col`` and each batch
    drops events whose seq is below the stored row's (the
    ``source.seq >= target.seq`` MERGE guard): out-of-order delivery
    across batches becomes a no-op, and replays (same seq) still pass.
    The guard reads only the batch's partitions and anchors the stored
    side with a broadcast semi-join on the event ids — delta-sized,
    never a corpus shuffle.

    Deletes are guarded by TOMBSTONES: removing a row also removes its
    stored seq, so without a tombstone a later batch's lower-seq upsert
    would find no stored row and resurrect the deleted doc with stale
    data. Applied deletes are therefore retained in a
    ``<table>/_tombstones`` sidecar log (underscore-prefixed, invisible
    to table reads; hive-partitioned by ``partition_col`` and batch id
    so replays overwrite their own subdir idempotently), and the guard
    additionally drops any event whose seq does not EXCEED the id's max
    tombstone seq — a tie goes to the delete, the same conservative
    rule as in-batch LWW. A later genuinely-newer upsert (seq above the
    tombstone) still passes and legitimately re-creates the doc.
    Tombstones are written AFTER the merge: a crash between the two
    replays the delete (idempotent), never skips it. Scale shape: the
    log is delete-history-sized, read partition-pruned and
    broadcast-anchored on the batch's ids; periodic compaction (keep
    max seq per id) bounds it, and a transactional format's MERGE
    guard subsumes it entirely. Pass ``compact_every_n_batches=N`` to
    run :func:`compact_tombstones` automatically at the top of every
    Nth batch — the single-writer between-batches slot. Replay-safe:
    compacting folds everything to one max-seq row per id, which never
    changes guard decisions, and a replayed batch just re-appends its
    own (idempotent) tombstone subdir.
    """

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window

        from flink_examples_spark.operators.diff import (
            merge_apply_partitioned,
        )

        spark = batch_df.sparkSession
        if guard_seq:
            # heal an interrupted compaction swap EVERY batch, before
            # any read or write can observe the missing log (and before
            # a new tombstone write could recreate the root and orphan
            # the retired copy holding the full history)
            _recover_swap(_tombstone_root(table_path))
        if guard_seq and _compact_due(compact_every_n_batches, batch_id):
            compact_tombstones(
                spark, table_path, id_col, partition_col, seq_col, fmt
            )
        w = Window.partitionBy(id_col, partition_col).orderBy(
            F.col(seq_col).desc(),
            F.when(F.col(op_col) == "delete", 0).otherwise(1),
        )
        latest = (
            batch_df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
            # consumed by the affected-partition collect, both merge
            # legs, and the guard join — materialize the window once
            .localCheckpoint()
        )
        if guard_seq:
            latest = _drop_stale_events(
                spark, latest, table_path, id_col, partition_col,
                seq_col, op_col, fmt,
            ).localCheckpoint()
        delta = latest.select(
            id_col,
            partition_col,
            F.when(F.col(op_col) == "delete", "removed")
            .otherwise("changed")
            .alias("verdict"),
        )
        dropped = (op_col,) if guard_seq else (op_col, seq_col)
        new = latest.filter(F.col(op_col) != "delete").drop(*dropped)
        merge_apply_partitioned(
            spark, table_path, new, delta, id_col, partition_col, fmt
        )
        if guard_seq:
            # retain applied deletes so later lower-seq upserts can't
            # resurrect them; written AFTER the merge so a crash between
            # replays the delete instead of skipping it
            tombs = latest.filter(F.col(op_col) == "delete").select(
                id_col, partition_col, seq_col,
                F.lit(str(batch_id)).alias("batch"),
            )
            if not tombs.isEmpty():
                (
                    tombs.write.mode("overwrite")
                    .format(fmt)
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy(partition_col, "batch")
                    .save(_tombstone_root(table_path))
                )

    return apply


def _tombstone_root(table_path: str) -> str:
    # underscore prefix: Spark's file listing treats the directory as
    # hidden, so plain table reads never see tombstone rows
    return os.path.join(table_path, "_tombstones")


def paragraph_dedup_ingest_foreach_batch(
    index_path: str,
    out_path: str,
    id_col: str,
    text_col: str,
    sep: str = "\n\n",
    min_chars: int = 1,
    fmt: str = "parquet",
    compact_every_n_batches: int | None = None,
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` ingest face of corpus paragraph dedup: each
    micro-batch of documents is stripped against the ACCUMULATED
    paragraph-fingerprint index (operators.dedup
    ``incremental_paragraph_dedup`` — corpus always wins, within-batch
    min (doc_id, pos) canonical), the deduped docs land under
    ``out_path/batch=<id>``, and the batch's surviving paragraph
    fingerprints are appended to the index under
    ``index_path/batch=<id>``. Batch-keyed subdirs make replays
    overwrite themselves, so checkpoint recovery is idempotent; the
    index write follows the output write, so a crash between the two
    replays the batch rather than poisoning the index with paragraphs
    whose documents never shipped.

    Cross-batch semantics: an earlier batch's paragraph beats a later
    batch's copy regardless of doc_id — arrival order IS the canonical
    order, the ingest contract (a single-batch run of the incremental
    operator would use (doc_id, pos) instead; equal when docs arrive in
    id order, which the parity test pins).

    Scale shape: the index read is a narrow scan of 16-byte rows; the
    probe broadcasts only the batch's fingerprints (delta-sized, see
    the batch operator's docstring). A long-running ingest accumulates
    one index subdir per batch — :func:`compact_paragraph_index` folds
    them into one distinct set (pass ``compact_every_n_batches=N`` to
    run it automatically at the top of every Nth batch), always
    sparing the newest batch subdir so a replayed batch still finds
    its own survivors excluded from the probe.
    """

    from flink_examples_spark.operators.dedup import (
        incremental_paragraph_dedup,
        paragraph_fp_index,
    )

    return _staged_fp_ingest_foreach_batch(
        index_path, out_path, fmt, compact_every_n_batches,
        fp_col="pfp",
        strip_fn=lambda idx, batch_df: incremental_paragraph_dedup(
            idx, batch_df, id_col, text_col, sep=sep, min_chars=min_chars
        ),
        index_fn=lambda surv: paragraph_fp_index(
            surv, id_col, "text", sep
        ),
    )


def span_dedup_ingest_foreach_batch(
    index_path: str,
    out_path: str,
    id_col: str,
    text_col: str,
    sep: str = ". ",
    width: int = 3,
    fmt: str = "parquet",
    compact_every_n_batches: int | None = None,
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` ingest face of C4-style SPAN dedup — the span
    family's twin of :func:`paragraph_dedup_ingest_foreach_batch`,
    sharing the staged-index ingest core (batch-keyed idempotent
    replays, crash ordering output-before-index, compaction hook).
    Each micro-batch is masked against the accumulated span-fingerprint
    index via ``operators.dedup.incremental_span_dedup``, and the
    SHIPPED text's spans (post-masking adjacencies, i.e. what the
    corpus actually now contains) extend the index."""
    from flink_examples_spark.operators.dedup import (
        incremental_span_dedup,
        span_fp_index,
    )

    return _staged_fp_ingest_foreach_batch(
        index_path, out_path, fmt, compact_every_n_batches,
        fp_col="sfp",
        strip_fn=lambda idx, batch_df: incremental_span_dedup(
            idx, batch_df, id_col, text_col, sep=sep, width=width
        ),
        index_fn=lambda surv: span_fp_index(
            surv, id_col, "text", sep=sep, width=width
        ),
    )


def _staged_fp_ingest_foreach_batch(
    index_path: str,
    out_path: str,
    fmt: str,
    compact_every_n_batches: int | None,
    fp_col: str,
    strip_fn: Callable[[DataFrame, DataFrame], DataFrame],
    index_fn: Callable[[DataFrame], DataFrame],
) -> Callable[[DataFrame, int], None]:
    """Shared staged-fingerprint-index ingest core: read the
    accumulated index (excluding the in-flight batch's own subdir —
    replay self-poisoning guard), strip the batch with ``strip_fn``,
    write output under ``out_path/batch=<id>``, then append the
    survivors' fingerprints (``index_fn`` over non-NULL texts) under
    ``index_path/batch=<id>``. Output-before-index ordering means a
    crash between the two replays the batch instead of poisoning the
    index with never-shipped content."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if _compact_due(compact_every_n_batches, batch_id):
            compact_paragraph_index(
                spark, index_path, fmt=fmt, fp_col=fp_col
            )
        sub = f"batch={batch_id}"
        idx = _read_staged(
            spark, index_path, fmt, lambda df: df.select(fp_col),
            f"{fp_col} string", exclude=sub,
        )
        out = strip_fn(idx, batch_df).localCheckpoint()
        out.write.mode("overwrite").format(fmt).save(
            os.path.join(out_path, sub)
        )
        fps = index_fn(out.filter(F.col("text").isNotNull()))
        fps.write.mode("overwrite").format(fmt).save(
            os.path.join(index_path, sub)
        )

    return apply


def compact_paragraph_index(spark, index_path: str,
                            fmt: str = "parquet",
                            fp_col: str = "pfp") -> int:
    """Fold a staged fingerprint index's ``batch=*`` subdirs into
    one distinct set under ``batch=compacted`` (VERDICT r4 'What's
    wrong #3': the docstring promised this; a long-running ingest
    otherwise accumulates a subdir per batch forever). Returns distinct
    fingerprints folded, 0 when there is nothing to fold. ``fp_col``
    names the fingerprint column — ``pfp`` for the paragraph index,
    ``sfp`` for the span index (the span ingest face passes it).

    Replay safety: the NEWEST numbered batch subdir is always spared —
    the ingest excludes the in-flight batch's own subdir from its probe
    so a replay doesn't strip the batch against itself, and that
    exclusion only works while the batch's fingerprints still live in
    their own subdir rather than inside ``batch=compacted``. Every
    older batch is committed (Structured Streaming delivers batch N
    only after N-1's commit), so folding it can never meet a replay.

    Crash safety: the rewrite stages to a sibling and swaps in via
    directory renames (:func:`_swap_in_rewrite`); a complete index is
    on disk at every instant and an interrupted swap is healed by
    :func:`_recover_swap`, which the ingest wrapper runs each batch."""
    return _compact_staged(
        spark, index_path, fmt, lambda df: df.select(fp_col).distinct(),
        spare_newest=True,
    )


def compact_tombstones(
    spark,
    table_path: str,
    id_col: str,
    partition_col: str,
    seq_col: str,
    fmt: str = "parquet",
) -> int:
    """Periodic maintenance for the CDC tombstone log: rewrite it to
    one max-seq row per (id, partition), batch-tagged ``compacted``.
    Returns rows kept. The guard only ever consults MAX(seq) per id, so
    dropping superseded tombstones never changes guard decisions — but
    it bounds the log at distinct-deleted-ids instead of total delete
    history.

    Run BETWEEN batches (same single-writer discipline as the merge
    itself): the rewrite goes to a STAGING sibling first and swaps in
    via directory renames, so the log is never absent on disk — ADVICE
    r4 flagged the old rmtree-then-write shape: a driver crash between
    the two left NO log, and a re-run found no root and silently
    disabled the delete-resurrection guard. Now every crash window
    is repaired by :func:`_recover_swap` on the next call (or next
    read). A transactional format would make this a single commit; see
    cdc_merge_foreach_batch's scale notes."""
    root = _tombstone_root(table_path)
    _recover_swap(root)
    if not os.path.isdir(root):
        return 0
    infer_key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    prev = spark.conf.get(infer_key)
    spark.conf.set(infer_key, "false")
    try:
        folded = (
            spark.read.format(fmt)
            .load(root)
            .groupBy(id_col, partition_col)
            .agg(F.max(seq_col).alias(seq_col))
            .select(id_col, partition_col, seq_col,
                    F.lit("compacted").alias("batch"))
        )
        kept = _swap_in_rewrite(
            root,
            lambda staging: folded.write.mode("overwrite")
            .format(fmt)
            .partitionBy(partition_col, "batch")
            .save(staging),
            # count the just-written staging files: one source pass
            # total, instead of recomputing the fold a second time
            count=lambda staging: spark.read.format(fmt)
            .load(staging).count(),
        )
        return kept
    finally:
        spark.conf.set(infer_key, prev)


def _staging_of(root: str) -> str:
    return root.rstrip("/") + ".compacting"


def _retired_of(root: str) -> str:
    return root.rstrip("/") + ".old"


def _recover_swap(root: str) -> None:
    """Repair any crash window of :func:`_swap_in_rewrite`: if a crash
    hit between 'rename root aside' and 'rename staging in', the live
    dir is missing but the retired copy exists — restore it (the
    staging copy may be incomplete; the retired one is always whole).
    Stale staging/retired leftovers are removed."""
    retired, staging = _retired_of(root), _staging_of(root)
    if not os.path.isdir(root) and os.path.isdir(retired):
        os.rename(retired, root)
    for leftover in (staging, retired):
        if os.path.isdir(leftover):
            shutil.rmtree(leftover)


def _swap_in_rewrite(root: str, write_to, count=None) -> int:
    """Crash-safe replace of directory ``root`` with a rewrite: write
    the new contents to a staging sibling, rename the old root aside,
    rename staging in, then drop the old copy. At every instant a
    complete copy of the data exists on disk under ``root`` or its
    ``.old`` sibling (never only in memory), and :func:`_recover_swap`
    makes any interrupted swap converge on the next call. Both sibling
    names keep the root's underscore prefix, so Spark's file listing
    hides them from plain table reads. ``count`` (optional) receives
    the STAGING path after the write — count the freshly written files
    there rather than re-running the fold's lineage (which would scan
    the source a second time)."""
    retired, staging = _retired_of(root), _staging_of(root)
    write_to(staging)
    kept = count(staging) if count is not None else 0
    os.rename(root, retired)
    os.rename(staging, root)
    shutil.rmtree(retired)
    return kept


# ---------------------------------------------------------------------------
# Staged partials: each ingest face overwrites its micro-batch's mergeable
# partial into ``root/batch=<id>``, readers fold the subdirs, and compaction
# folds them into ``root/batch=compacted`` through the staging swap. A face
# is a binding of its partial, its fold and its empty schema.
# ---------------------------------------------------------------------------


def _batch_dirs(root: str, exclude: str | None = None) -> list[str]:
    """Sorted names of the visible ``batch=*`` subdirs of ``root`` other
    than ``exclude``; empty when ``root`` is missing. Hidden siblings
    (``_centroids``, ``_tails``, ``_tombstones``, Spark's ``_SUCCESS``
    and ``.crc`` files) never match."""
    if not os.path.isdir(root):
        return []
    return sorted(
        n for n in os.listdir(root) if n.startswith("batch=") and n != exclude
    )


def _batch_ids(names: list[str]) -> list[tuple[int, str]]:
    """``(id, name)`` for the numbered ``batch=<id>`` names, ascending
    by id (``batch=compacted`` carries no id)."""
    return sorted(
        (int(n.partition("=")[2]), n)
        for n in names
        if n.partition("=")[2].isdigit()
    )


def _compact_due(every_n: int | None, batch_id: int) -> bool:
    """The compact-every-N hook: true at the top of every ``every_n``-th
    batch (never batch 0) — the single-writer slot between batches."""
    return bool(every_n) and batch_id > 0 and batch_id % every_n == 0


def _keyed_fold(keys: list[str], **aggs) -> Callable[[DataFrame], DataFrame]:
    """The fold of a keyed partial: group by ``keys`` and merge each
    partial column with its aggregate, e.g. ``cnt=F.sum``."""
    return lambda df: df.groupBy(*keys).agg(
        *[agg(c).alias(c) for c, agg in aggs.items()]
    )


def _staged_ingest(
    root: str,
    fmt: str,
    every_n: int | None,
    compact: Callable[[object], int] | None,
    partial: Callable[[DataFrame], DataFrame],
) -> Callable[[DataFrame, int], None]:
    """The shared ``foreachBatch`` body of the staged faces: heal an
    interrupted compaction swap, run ``compact(spark)`` at the top of
    every ``every_n``-th batch, then overwrite ``partial(batch_df)``
    into the batch's own ``root/batch=<id>`` — a replayed batch
    REPLACES its partial rather than adding to it. The partial is built
    before the hook, so a face that checks its inputs (the IVF
    centroids) raises before anything is written."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        _recover_swap(root)
        out = partial(batch_df)
        if _compact_due(every_n, batch_id):
            compact(batch_df.sparkSession)
        out.write.mode("overwrite").format(fmt).save(
            os.path.join(root, f"batch={batch_id}")
        )

    return apply


def _read_staged(
    spark,
    root: str,
    fmt: str,
    fold: Callable[[DataFrame], DataFrame],
    empty_schema: str,
    exclude: str | None = None,
) -> DataFrame:
    """Fold the batch subdirs of ``root`` (all but ``exclude``) into the
    current table. A missing or not-yet-committed root reads as an EMPTY
    table of ``empty_schema`` rather than crashing — monitoring readers
    race the stream's first micro-batch. An interrupted compaction swap
    is healed first, so no read sees a half-done one."""
    _recover_swap(root)
    subs = _batch_dirs(root, exclude)
    if not subs:
        return spark.createDataFrame([], empty_schema)
    return fold(
        spark.read.format(fmt).load([os.path.join(root, n) for n in subs])
    )


def _compact_staged(
    spark,
    root: str,
    fmt: str,
    fold: Callable[[DataFrame], DataFrame],
    spare_newest: bool,
) -> int:
    """Fold the batch subdirs of ``root`` into one ``batch=compacted``
    table with the reader's own ``fold``. Returns rows in the compacted
    table, 0 when there is nothing to fold.

    ``spare_newest`` follows from the fold's algebra. Only the in-flight
    batch can replay, and a replay overwrites its own subdir. Where
    folding that batch in would change the fold on replay (additive sums
    double-count, plain unions duplicate rows, a fingerprint probe stops
    excluding the replay's own fingerprints), the newest numbered subdir
    is carried over unfolded. Idempotent folds (MAX, ``bit_or``) fold
    every subdir.

    Crash safety: the rewrite stages to a sibling and swaps in via
    :func:`_swap_in_rewrite`, which counts the staged table. Hidden
    ``_``-prefixed subdirs (the IVF ``_centroids``) are copied into
    staging unchanged, since the swap replaces the whole root. No pin:
    the fold reads only ``root``, and ``root`` is renamed only after the
    staged write and its count have finished."""
    _recover_swap(root)
    subs = _batch_dirs(root)
    numbered = _batch_ids(subs)
    spare = numbered[-1][1] if spare_newest and numbered else None
    folds = [n for n in subs if n != spare]
    if not any(n != "batch=compacted" for n in folds):
        return 0  # only the compacted set (or nothing) — no-op
    folded = fold(
        spark.read.format(fmt).load([os.path.join(root, n) for n in folds])
    )
    carried = [
        n for n in os.listdir(root)
        if n.startswith("_") and os.path.isdir(os.path.join(root, n))
    ] + ([spare] if spare else [])

    def write_to(staging: str) -> None:
        folded.write.mode("overwrite").format(fmt).save(
            os.path.join(staging, "batch=compacted")
        )
        for n in carried:
            shutil.copytree(os.path.join(root, n), os.path.join(staging, n))

    return _swap_in_rewrite(
        root,
        write_to,
        count=lambda staging: spark.read.format(fmt)
        .load(os.path.join(staging, "batch=compacted"))
        .count(),
    )


def _drop_stale_events(
    spark,
    latest: DataFrame,
    table_path: str,
    id_col: str,
    partition_col: str,
    seq_col: str,
    op_col: str,
    fmt: str,
) -> DataFrame:
    """Filter a deduplicated CDC event set down to events at least as
    new as the stored row (``event.seq >= stored.seq``; absent rows
    always pass, so inserts and replays survive) AND strictly newer
    than the id's max tombstone seq (delete wins ties — see
    :func:`cdc_merge_foreach_batch` on resurrection). Scale shape: the
    stored and tombstone reads are partition-pruned to the batch's
    partitions and anchored by BROADCAST semi-joins on the event keys
    before the (also broadcast) seq lookups — every join builds from
    the delta."""
    from flink_examples_spark.operators.diff import (
        is_unable_to_infer_schema,
    )

    parts = [
        r[0] for r in latest.select(partition_col).distinct().collect()
    ]
    keys = latest.select(id_col, partition_col)
    infer_key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    prev = spark.conf.get(infer_key)
    spark.conf.set(infer_key, "false")
    try:
        try:
            stored = (
                spark.read.format(fmt)
                .load(table_path)
                .filter(F.col(partition_col).isin(parts))
                .select(
                    id_col, partition_col,
                    F.col(seq_col).alias("_stored_seq"),
                )
            )
            anchored = stored.join(
                F.broadcast(keys), [id_col, partition_col], "left_semi"
            )
            latest = (
                latest.join(
                    F.broadcast(anchored), [id_col, partition_col], "left"
                )
                .filter(
                    F.col("_stored_seq").isNull()
                    | (F.col(seq_col) >= F.col("_stored_seq"))
                )
                .drop("_stored_seq")
            )
        except Exception as e:  # all partitions removed: no stored rows
            if not is_unable_to_infer_schema(e):
                raise
        tomb_root = _tombstone_root(table_path)
        _recover_swap(tomb_root)  # never read through a half-done swap
        if os.path.isdir(tomb_root):
            tombs = (
                spark.read.format(fmt)
                .load(tomb_root)
                .filter(F.col(partition_col).isin(parts))
                .join(F.broadcast(keys), [id_col, partition_col],
                      "left_semi")
                .groupBy(id_col, partition_col)
                .agg(F.max(seq_col).alias("_tomb_seq"))
            )
            latest = (
                latest.join(
                    F.broadcast(tombs), [id_col, partition_col], "left"
                )
                .filter(
                    F.col("_tomb_seq").isNull()
                    | (F.col(seq_col) > F.col("_tomb_seq"))
                )
                .drop("_tomb_seq")
            )
        return latest
    finally:
        spark.conf.set(infer_key, prev)


_fold_countmin = _keyed_fold(["j", "bucket"], cnt=F.sum)


def countmin_ingest_foreach_batch(
    sketch_path: str,
    key_col: str,
    depth: int = 4,
    width: int = 64,
    fmt: str = "parquet",
    compact_every_n_batches: int | None = None,
) -> Callable[[DataFrame, int], None]:
    """Streaming face of the Count-Min sketch
    (operators/sketches.py): each micro-batch writes ITS OWN sketch
    table under ``sketch_path/batch=<id>`` — at most depth × width rows
    per batch, the mergeable-sketch property doing exactly what it
    exists for. Readers fold subdirs by cell-wise sum
    (:func:`read_countmin_sketch`); estimates never touch raw events.

    Replay safety: the per-batch write is ``mode("overwrite")`` into
    the batch's own subdir, so a replayed batch REPLACES its cells
    rather than double-counting them. Compaction
    (:func:`compact_countmin_sketch`) must therefore spare the newest
    numbered subdir — only the in-flight batch can replay, and folding
    it into the compacted set would double-count on replay (counts are
    additive, unlike the paragraph index's idempotent distinct-set) —
    same sparing rule, different reason, as
    :func:`compact_paragraph_index`.
    """
    from flink_examples_spark.operators.sketches import countmin_table

    return _staged_ingest(
        sketch_path, fmt, compact_every_n_batches,
        lambda spark: compact_countmin_sketch(spark, sketch_path, fmt=fmt),
        lambda df: countmin_table(df, key_col, depth, width),
    )


def read_countmin_sketch(spark, sketch_path: str,
                         fmt: str = "parquet") -> DataFrame:
    """Fold every staged subdir into the current sketch:
    ``(j, bucket, cnt)`` via cell-wise sum. Sketch-sized however long
    the ingest has run. A missing or not-yet-committed sketch path
    reads as an EMPTY sketch (every estimate 0) rather than crashing —
    monitoring readers race the stream's first micro-batch."""
    return _read_staged(
        spark, sketch_path, fmt, _fold_countmin, "j int, bucket long, cnt long"
    )


def compact_countmin_sketch(spark, sketch_path: str,
                            fmt: str = "parquet") -> int:
    """Fold all committed batch subdirs into one ``batch=compacted``
    cell-sum table, sparing the newest numbered batch (see
    :func:`countmin_ingest_foreach_batch` for why sparing is
    count-correctness here, not just replay hygiene). Crash-safe via
    the staging swap (:func:`_swap_in_rewrite`). Returns cells in the
    compacted table, 0 if nothing to fold."""
    return _compact_staged(
        spark, sketch_path, fmt, _fold_countmin, spare_newest=True
    )


def column_profile_ingest_foreach_batch(
    profile_path: str,
    cols: list[str],
    k: int = 64,
    fmt: str = "parquet",
) -> Callable[[DataFrame, int], None]:
    """Streaming ingest profiling: each micro-batch writes its
    MERGEABLE column-profile partial (operators/integrity.py
    ``column_profile_partial`` — exact row/null counts + KMV kept-set
    for distinct estimation) under ``profile_path/batch=<id>``.
    Readers fold any subset of batches with ``column_profile_fold`` —
    the profile of a week of ingest costs reading kilobytes of
    partials, never re-scanning the data. Same replay contract as
    the Count-Min sink: overwrite into the batch's own subdir."""
    from flink_examples_spark.operators.integrity import (
        column_profile_partial,
    )

    return _staged_ingest(
        profile_path, fmt, None, None,
        lambda df: column_profile_partial(df, cols, k),
    )


def read_column_profile(spark, profile_path: str, k: int = 64,
                        fmt: str = "parquet") -> DataFrame:
    """Fold every staged profile partial into the current profile;
    missing/empty path reads as an empty profile."""
    from flink_examples_spark.operators.integrity import (
        column_profile_fold,
    )

    return _read_staged(
        spark, profile_path, fmt, lambda df: column_profile_fold(df, k),
        "col string, n_rows long, n_nulls long, n_kept int, "
        "distinct_est double",
    )


def _last_events(
    df: DataFrame, part_col: str, order_cols: list[str], node_col: str
) -> DataFrame:
    """Per-key last event by ``order_cols`` (struct-max argmax — one
    map-side-combinable aggregate, no window)."""
    m = F.max(
        F.struct(
            *[F.col(c) for c in order_cols], F.col(node_col).alias("__n")
        )
    ).alias("__m")
    return df.groupBy(part_col).agg(m).select(
        part_col,
        *[F.col(f"__m.{c}").alias(c) for c in order_cols],
        F.col("__m.__n").alias(node_col),
    )


def _prev_tail_batch(tails_root: str, batch_id: int) -> int | None:
    """Largest staged tail batch id strictly below ``batch_id`` — the
    cumulative tail table a (re)played batch must read, so replays are
    deterministic regardless of later batches on disk."""
    ids = [i for i, _ in _batch_ids(_batch_dirs(tails_root)) if i < batch_id]
    return ids[-1] if ids else None


def transition_edges_ingest_foreach_batch(
    edges_path: str,
    part_col: str,
    order_cols: list[str],
    node_col: str,
    fmt: str = "parquet",
    carry_tails: bool = True,
) -> Callable[[DataFrame, int], None]:
    """Streaming graph construction: each micro-batch writes ITS OWN
    weighted transition-edge table (operators/graph.py
    ``transition_edges``) under ``edges_path/batch=<id>`` — edge
    weights are counts, so the accumulated graph is the cell-wise SUM
    of batch tables, the same mergeable-sketch contract as the
    Count-Min sink (overwrite-into-own-subdir replay safety included).
    Readers fold with :func:`read_transition_edges` and run the
    iterative ``walk_mass`` on the folded graph — continuous ingest,
    periodic batch analytics, no raw-event replay.

    Batch-boundary straddle (``carry_tails=True``, the default): each
    batch also stages the CUMULATIVE per-key last event under
    ``edges_path/_tails/batch=<id>`` (one row per key — the minimal
    state exact parity needs; the leading underscore keeps it out of
    the edge fold's listing). Batch N prepends the newest tail table
    below N, so the last-event-of-batch-N → first-event-of-batch-N+1
    transition IS an edge in batch N+1's table: the folded graph
    equals ``transition_edges`` over the whole concatenated log
    exactly, replays included (a replayed batch reads the tails
    BELOW its id, never its own). Assumes per-key ``order_cols``
    monotonicity across batches — an event-time-ordered log per key,
    the same append contract every ingest sink here relies on.
    ``carry_tails=False`` restores the stateless variant (boundary
    transitions undercounted, zero state) for logs where keys are
    batch-aligned anyway."""
    from flink_examples_spark.operators.graph import transition_edges

    tails_root = os.path.join(edges_path, "_tails")

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        sel = [part_col, *order_cols, node_col]
        combined = batch_df.select(*sel)
        if carry_tails:
            prev_id = _prev_tail_batch(tails_root, batch_id)
            if prev_id is not None:
                prev = batch_df.sparkSession.read.format(fmt).load(
                    os.path.join(tails_root, f"batch={prev_id}")
                ).select(*sel)
                combined = prev.unionByName(combined)
            # single-reference the union: edges + new tails both read it
            combined = combined.localCheckpoint(eager=True)
        transition_edges(
            combined, part_col, order_cols, node_col
        ).write.mode("overwrite").format(fmt).save(
            os.path.join(edges_path, f"batch={batch_id}")
        )
        if carry_tails:
            _last_events(
                combined, part_col, order_cols, node_col
            ).write.mode("overwrite").format(fmt).save(
                os.path.join(tails_root, f"batch={batch_id}")
            )

    return apply


def read_transition_edges(spark, edges_path: str,
                          fmt: str = "parquet") -> DataFrame:
    """Fold staged per-batch edge tables into the current graph
    (``src, dst, w`` with weight-sum merge); missing path reads as an
    empty graph."""
    return _read_staged(
        spark, edges_path, fmt, _keyed_fold(["src", "dst"], w=F.sum),
        "src long, dst long, w long",
    )


def _fold_hll(group_cols: list[str]) -> Callable[[DataFrame], DataFrame]:
    return _keyed_fold([*group_cols, "bucket"], reg=F.max)


def hll_ingest_foreach_batch(
    sketch_path: str,
    key_col: str,
    group_cols: list[str],
    p: int = 6,
    fmt: str = "parquet",
    compact_every_n_batches: int | None = None,
) -> Callable[[DataFrame, int], None]:
    """Streaming face of the HyperLogLog register table
    (operators/sketches.py ``hll_registers``): each micro-batch writes
    ITS OWN register table under ``sketch_path/batch=<id>`` (at most
    ``2**p`` rows per group per batch); readers fold subdirs by
    element-wise MAX (:func:`read_hll_registers`).

    Replay/compaction contrast with the Count-Min twin: register MAX
    is IDEMPOTENT, so unlike :func:`compact_countmin_sketch` (additive
    cells — folding the in-flight batch would double-count on replay)
    :func:`compact_hll_registers` may fold EVERY subdir including the
    newest; a replayed batch recreates its subdir and the max-fold of
    (compacted ∪ recreated) equals the pre-replay fold exactly."""
    from flink_examples_spark.operators.sketches import hll_registers

    return _staged_ingest(
        sketch_path, fmt, compact_every_n_batches,
        lambda spark: compact_hll_registers(
            spark, sketch_path, group_cols, fmt=fmt
        ),
        lambda df: hll_registers(df, key_col, group_cols, p),
    )


def read_hll_registers(
    spark,
    sketch_path: str,
    group_cols: list[str],
    fmt: str = "parquet",
    group_schema: str = "event_type string",
) -> DataFrame:
    """Fold every staged subdir into the current register table via
    element-wise MAX — sketch-sized however long the ingest has run. A
    missing path reads as an empty sketch (``group_schema`` supplies
    the group column types for that case)."""
    return _read_staged(
        spark, sketch_path, fmt, _fold_hll(group_cols),
        f"{group_schema}, bucket long, reg int",
    )


def compact_hll_registers(
    spark,
    sketch_path: str,
    group_cols: list[str],
    fmt: str = "parquet",
) -> int:
    """Fold ALL batch subdirs — newest included, max is idempotent
    (see :func:`hll_ingest_foreach_batch`) — into one
    ``batch=compacted`` register table, crash-safe via the staging
    swap. Returns registers in the compacted table, 0 if nothing to
    fold."""
    return _compact_staged(
        spark, sketch_path, fmt, _fold_hll(group_cols), spare_newest=False
    )


def _fold_bitmaps(group_cols: list[str]) -> Callable[[DataFrame], DataFrame]:
    return _keyed_fold([*group_cols, "word_idx"], word=F.bit_or)


def bitmap_ingest_foreach_batch(
    bitmap_path: str,
    key_col: str,
    group_cols: list[str],
    fmt: str = "parquet",
    compact_every_n_batches: int | None = None,
) -> Callable[[DataFrame, int], None]:
    """Streaming face of the exact presence bitmaps
    (operators/bitmap.py ``presence_bitmaps``) — the set-EXACT
    counterpart of :func:`hll_ingest_foreach_batch`, completing the
    symmetry the SURVEY §2.14 engagement-analytics row advertises: each
    micro-batch writes ITS OWN sparse packed-word bitmap table under
    ``bitmap_path/batch=<id>`` (at most keyspace/64 words per group per
    batch); readers fold subdirs by ``bit_or``
    (:func:`read_presence_bitmaps`), so DAU/retention/stickiness reads
    touch kilobytes of words, never re-scanning events.

    Replay/compaction contract — the HLL side, not the Count-Min side:
    ``bit_or`` is IDEMPOTENT (a ∪ a = a), so
    :func:`compact_presence_bitmaps` may fold EVERY subdir including
    the newest; a replayed batch recreates its subdir and the or-fold
    of (compacted ∪ recreated) equals the pre-replay fold exactly.
    """
    from flink_examples_spark.operators.bitmap import presence_bitmaps

    return _staged_ingest(
        bitmap_path, fmt, compact_every_n_batches,
        lambda spark: compact_presence_bitmaps(
            spark, bitmap_path, group_cols, fmt=fmt
        ),
        lambda df: presence_bitmaps(df, group_cols, key_col),
    )


def read_presence_bitmaps(
    spark,
    bitmap_path: str,
    group_cols: list[str],
    fmt: str = "parquet",
    group_schema: str = "day date",
) -> DataFrame:
    """Fold every staged subdir into the current bitmap table via
    ``bit_or`` — words-sized however long the ingest has run. A missing
    path reads as an empty bitmap table (``group_schema`` supplies the
    group column types for that case)."""
    return _read_staged(
        spark, bitmap_path, fmt, _fold_bitmaps(group_cols),
        f"{group_schema}, word_idx long, word long",
    )


def compact_presence_bitmaps(
    spark,
    bitmap_path: str,
    group_cols: list[str],
    fmt: str = "parquet",
) -> int:
    """Fold ALL batch subdirs — newest included, ``bit_or`` is
    idempotent (see :func:`bitmap_ingest_foreach_batch`) — into one
    ``batch=compacted`` bitmap table, crash-safe via the staging swap.
    Returns words in the compacted table, 0 if nothing to fold."""
    return _compact_staged(
        spark, bitmap_path, fmt, _fold_bitmaps(group_cols),
        spare_newest=False,
    )


_fold_token_counts = _keyed_fold(["source", "token"], c_st=F.sum)


def token_counts_ingest_foreach_batch(
    counts_path: str,
    source_col: str = "source",
    text_col: str = "text",
    fmt: str = "parquet",
    compact_every_n_batches: int | None = None,
) -> Callable[[DataFrame, int], None]:
    """Streaming ingest for the token-drift monitor (VERDICT r8 #3):
    each micro-batch of documents folds to its own ``(source, token,
    c_st)`` partial under ``counts_path/batch=<id>`` — counts are
    additive, so the reader's sum-fold equals one pass over the whole
    corpus, and a monitoring check (:func:`read_token_tv_drift`) costs
    vocabulary-sized partials, never a corpus re-scan. The tokenize +
    fold is ``operators.drift.token_count_partials`` — the registered
    batch query's own first stage.

    Replay safety: ``mode("overwrite")`` into the batch's own subdir,
    so a replayed batch REPLACES its partial rather than
    double-counting (the :func:`countmin_ingest_foreach_batch` rule);
    compaction (:func:`compact_token_counts`) spares the newest
    numbered subdir for the same reason.
    """
    from flink_examples_spark.operators.drift import token_count_partials

    return _staged_ingest(
        counts_path, fmt, compact_every_n_batches,
        lambda spark: compact_token_counts(spark, counts_path, fmt=fmt),
        lambda df: token_count_partials(df, source_col, text_col),
    )


def read_token_counts(spark, counts_path: str,
                      fmt: str = "parquet") -> DataFrame:
    """Fold every staged partial into the current ``(source, token,
    c_st)`` count table by sum. A missing or not-yet-committed path
    reads as an EMPTY table rather than crashing — monitoring readers
    race the stream's first micro-batch (the read_countmin rule)."""
    return _read_staged(
        spark, counts_path, fmt, _fold_token_counts,
        "source string, token string, c_st long",
    )


def read_token_tv_drift(spark, counts_path: str,
                        fmt: str = "parquet") -> DataFrame:
    """Assemble the EXACT integer total-variation drift of the
    registered ``source_token_tv_drift`` query from staged partials:
    same algebra (``operators.drift.tv_drift_from_counts``), same
    decimal(38,0) products, same output schema ``(source, n_tokens,
    tv_drift_ppm)`` — hash-identical to the batch query over the same
    documents, at partial-fold cost."""
    from flink_examples_spark.operators.drift import tv_drift_from_counts

    return tv_drift_from_counts(read_token_counts(spark, counts_path, fmt))


def compact_token_counts(spark, counts_path: str,
                         fmt: str = "parquet") -> int:
    """Fold all committed batch subdirs into one ``batch=compacted``
    sum table, sparing the newest numbered batch (counts are ADDITIVE:
    only the in-flight batch can replay, and folding it would
    double-count on replay — the :func:`compact_countmin_sketch`
    rule). Crash-safe via the staging swap. Returns rows in the
    compacted table, 0 if nothing to fold."""
    return _compact_staged(
        spark, counts_path, fmt, _fold_token_counts, spare_newest=True
    )


def url_partials_ingest_foreach_batch(
    partials_path: str,
    id_col: str = "doc_id",
    source_col: str = "source",
    chars_col: str = "n_chars",
    fmt: str = "parquet",
    compact_every_n_batches: int | None = None,
) -> Callable[[DataFrame, int], None]:
    """Streaming ingest for the crawl pre-text stage (VERDICT r9 #4):
    each micro-batch of documents folds to its own per-URL partial
    ``(url_norm, n_docs_u, chars_u, min_doc_id)`` under
    ``partials_path/batch=<id>`` — counts/char mass are additive and
    the survivor id folds by min, so the readers' (sum, sum, min) fold
    equals one pass over the whole corpus. ONE staged partial serves
    BOTH crawl monitors: :func:`read_host_boilerplate_census` (the
    host kill list drifts as the crawl grows) and
    :func:`read_url_dedup_canonical` (the duplicate-group ledger) —
    each check costs URL-cardinality partials, never a corpus re-scan.
    The fold body is ``operators.crawl.url_partials`` — the batch
    queries' own algebra.

    Replay safety: ``mode("overwrite")`` into the batch's own subdir,
    so a replayed batch REPLACES its partial rather than
    double-counting (the :func:`token_counts_ingest_foreach_batch`
    rule); compaction (:func:`compact_url_partials`) spares the newest
    numbered subdir for the same reason.
    """
    from flink_examples_spark.operators.crawl import url_partials

    return _staged_ingest(
        partials_path, fmt, compact_every_n_batches,
        lambda spark: compact_url_partials(spark, partials_path, fmt=fmt),
        lambda df: url_partials(df, id_col, source_col, chars_col),
    )


# (sum, sum, min) fold of staged per-URL partials — the merge that makes
# them equal one pass over the union
_fold_url_partials = _keyed_fold(
    ["url_norm"], n_docs_u=F.sum, chars_u=F.sum, min_doc_id=F.min
)
_URL_PARTIALS_SCHEMA = (
    "url_norm string, n_docs_u long, chars_u long, min_doc_id long"
)


def read_url_partials(spark, partials_path: str,
                      fmt: str = "parquet") -> DataFrame:
    """Fold every staged partial into the current per-URL table. A
    missing or not-yet-committed path reads as an EMPTY table rather
    than crashing — monitoring readers race the stream's first
    micro-batch (the read_token_counts rule)."""
    return _read_staged(
        spark, partials_path, fmt, _fold_url_partials, _URL_PARTIALS_SCHEMA
    )


def read_host_boilerplate_census(spark, partials_path: str,
                                 fmt: str = "parquet") -> DataFrame:
    """Assemble the EXACT host census of the registered
    ``host_boilerplate_census`` query from staged per-URL partials:
    same assembly body (``operators.crawl.host_census_from_url_
    partials``), same output schema ``(host, n_docs, n_pages,
    dup_page_ppm, chars_per_doc)`` — hash-identical to the batch query
    over the same documents, at partial-fold cost."""
    from flink_examples_spark.operators.crawl import (
        host_census_from_url_partials,
    )

    return host_census_from_url_partials(
        read_url_partials(spark, partials_path, fmt)
    )


def read_url_dedup_canonical(spark, partials_path: str,
                             fmt: str = "parquet") -> DataFrame:
    """Assemble the EXACT duplicate-group ledger of the registered
    ``url_dedup_canonical`` query from the same staged partials:
    ``(url_norm, n_docs, keep_doc_id)`` groups of >= 2 with the
    min-doc_id survivor (``operators.crawl.url_dedup_from_partials``)."""
    from flink_examples_spark.operators.crawl import url_dedup_from_partials

    return url_dedup_from_partials(
        read_url_partials(spark, partials_path, fmt)
    )


def compact_url_partials(spark, partials_path: str,
                         fmt: str = "parquet") -> int:
    """Fold all committed batch subdirs into one ``batch=compacted``
    per-URL table, sparing the newest numbered batch (sums are
    ADDITIVE: only the in-flight batch can replay, and folding it
    would double-count on replay — the :func:`compact_token_counts`
    rule; the min fold alone would be safe, the count/char sums are
    not). Crash-safe via the staging swap. Returns rows in the
    compacted table, 0 if nothing to fold."""
    return _compact_staged(
        spark, partials_path, fmt, _fold_url_partials, spare_newest=True
    )


def host_line_partials_ingest_foreach_batch(
    partials_path: str,
    id_col: str = "doc_id",
    host_col: str = "host",
    text_col: str = "text",
    fmt: str = "parquet",
    compact_every_n_batches: int | None = None,
) -> Callable[[DataFrame, int], None]:
    """Streaming ingest for the host-scoped LINE stage: each
    micro-batch of (already host-tagged) documents folds to its own
    ``(host, lfp, n_occ, line_chars)`` partial under
    ``partials_path/batch=<id>`` — occurrence counts are additive and
    a line's length is constant per fingerprint, so the reader's
    (sum, any) fold equals one pass over the whole corpus. ONE staged
    partial serves BOTH line-stage consumers:
    :func:`read_host_line_dedup_census` (the boilerplate monitor,
    hash-identical to the registered ``host_line_dedup_census`` over
    the same docs) and :func:`read_host_line_fp_index` (the exact
    index ``operators.dedup.incremental_host_line_strip`` probes on
    every new dump — the daily strip never re-explodes the corpus).

    Replay safety: ``mode("overwrite")`` into the batch's own subdir
    (the :func:`url_partials_ingest_foreach_batch` rule); compaction
    (:func:`compact_host_line_partials`) spares the newest numbered
    subdir for the same reason.
    """
    return _staged_ingest(
        partials_path, fmt, compact_every_n_batches,
        lambda spark: compact_host_line_partials(
            spark, partials_path, fmt=fmt
        ),
        lambda df: _host_line_partial(df, id_col, host_col, text_col),
    )


def _host_line_partial(
    docs: DataFrame, id_col: str, host_col: str, text_col: str
) -> DataFrame:
    """A batch's ``(host, lfp, n_occ, line_chars)`` host-line partial."""
    from flink_examples_spark.operators.dedup import _host_lines

    return (
        _host_lines(docs, id_col, host_col, text_col, ". ")
        .groupBy("host", F.md5("line").alias("lfp"))
        .agg(
            F.count(F.lit(1)).alias("n_occ"),
            # constant per (host, lfp): any representative works, and
            # min() folds batch partials to the same constant
            F.min(F.length("line").cast("long")).alias("line_chars"),
        )
    )


# (sum, min) fold of staged host-line partials — counts add, line length
# is constant per fingerprint
_fold_host_line_partials = _keyed_fold(
    ["host", "lfp"], n_occ=F.sum, line_chars=F.min
)
_HOST_LINE_PARTIALS_SCHEMA = (
    "host string, lfp string, n_occ long, line_chars long"
)


def read_host_line_partials(spark, partials_path: str,
                            fmt: str = "parquet") -> DataFrame:
    """Fold every staged partial into the current ``(host, lfp,
    n_occ, line_chars)`` table; a missing path reads as EMPTY (the
    read_url_partials rule)."""
    return _read_staged(
        spark, partials_path, fmt, _fold_host_line_partials,
        _HOST_LINE_PARTIALS_SCHEMA,
    )


def read_host_line_fp_index(spark, partials_path: str,
                            fmt: str = "parquet") -> DataFrame:
    """The staged ``(host, lfp, n_occ)`` index
    ``operators.dedup.incremental_host_line_strip`` probes — folded
    from the same partials the census reader consumes, so the daily
    strip and the monitor share one staged artifact."""
    return read_host_line_partials(spark, partials_path, fmt).select(
        "host", "lfp", "n_occ"
    )


def read_host_line_dedup_census(spark, partials_path: str,
                                fmt: str = "parquet",
                                min_count: int = 3) -> DataFrame:
    """Assemble the EXACT per-host census of the registered
    ``host_line_dedup_census`` query from staged partials: same output
    schema ``(host, n_lines, n_line_instances, n_boiler_lines,
    total_chars, removed_chars, removed_ppm)``, hash-identical to the
    batch query over the same documents, at partial-fold cost — the
    corpus is never re-exploded for a monitoring check."""
    per_line = read_host_line_partials(spark, partials_path, fmt)
    boiler = F.col("n_occ") >= int(min_count)
    chars = F.col("line_chars") * F.col("n_occ")
    return (
        per_line.groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum("n_occ").cast("long").alias("n_line_instances"),
            F.sum(F.when(boiler, 1).otherwise(0))
            .cast("long")
            .alias("n_boiler_lines"),
            F.sum(chars).alias("total_chars"),
            F.sum(F.when(boiler, chars).otherwise(0))
            .alias("removed_chars"),
        )
        .where(F.col("total_chars") > 0)
        .select(
            "host",
            "n_lines",
            "n_line_instances",
            "n_boiler_lines",
            "total_chars",
            "removed_chars",
            F.expr(
                "CAST(removed_chars AS decimal(38,0)) * 1000000 "
                "div total_chars"
            ).alias("removed_ppm"),
        )
    )


def compact_host_line_partials(spark, partials_path: str,
                               fmt: str = "parquet") -> int:
    """Fold committed batch subdirs into ``batch=compacted``, sparing
    the newest numbered batch (counts are ADDITIVE — the
    :func:`compact_url_partials` rule). Crash-safe via the staging
    swap; returns rows in the compacted table, 0 if nothing to fold."""
    return _compact_staged(
        spark, partials_path, fmt, _fold_host_line_partials,
        spare_newest=True,
    )


def _fold_embeddings(df: DataFrame) -> DataFrame:
    return df.select("vec_id", "embedding")


def embedding_index_ingest_foreach_batch(
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fmt: str = "parquet",
    compact_every_n_batches: int | None = None,
) -> Callable[[DataFrame, int], None]:
    """Streaming ingest for the embedding-dedup stage (VERDICT r10
    next-round #2): each micro-batch of (vec_id, embedding) rows lands
    under ``index_path/batch=<id>`` — the staged corpus-vector index
    that :func:`read_embedding_index` assembles and
    ``operators.similarity.incremental_embedding_neardup`` probes with
    the broadcast delta on every new dump, so the corpus is never
    re-blocked or re-paired.

    Unlike the url/line twins there is NO aggregation fold here:
    vectors are not additive partials — a batch's rows ARE its
    partial, and batches are disjoint row sets (each vec_id arrives in
    exactly one micro-batch; a re-crawled id must be deduped upstream,
    e.g. by the url stage, before embedding). Replay safety is the
    same ``mode("overwrite")``-into-own-subdir rule as
    :func:`url_partials_ingest_foreach_batch`: a replayed batch
    REPLACES its own rows rather than duplicating them.
    """
    return _staged_ingest(
        index_path, fmt, compact_every_n_batches,
        lambda spark: compact_embedding_index(spark, index_path, fmt=fmt),
        lambda df: df.select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).cast("array<double>").alias("embedding"),
        ),
    )


def read_embedding_index(spark, index_path: str,
                         fmt: str = "parquet") -> DataFrame:
    """Assemble the staged corpus-vector index ``(vec_id, embedding)``
    — a plain union of the batch subdirs, deliberately with NO keyed
    fold: the whole point of the staged index is that the probing
    plan (``incremental_embedding_neardup``) carries ZERO exchanges,
    and a groupBy fold here would reshuffle the corpus on every probe.
    Batches are disjoint by the ingest contract, so the union IS the
    corpus. A missing or not-yet-committed path reads as EMPTY (the
    read_url_partials rule)."""
    return _read_staged(
        spark, index_path, fmt, _fold_embeddings,
        "vec_id long, embedding array<double>",
    )


def compact_embedding_index(spark, index_path: str,
                            fmt: str = "parquet") -> int:
    """Concatenate committed batch subdirs into ``batch=compacted``,
    sparing the newest numbered batch — it is the only one that can
    replay, and its rows folded into the compacted table would
    DUPLICATE on replay (the :func:`compact_url_partials` rule; with
    no aggregation in the read path, duplicates would surface as
    phantom self-pairs in the probe). Crash-safe via the staging swap;
    returns rows in the compacted table, 0 if nothing to fold."""
    return _compact_staged(
        spark, index_path, fmt, _fold_embeddings, spare_newest=True
    )


def stage_ivf_centroids(spark, index_path: str, centroids,
                        fmt: str = "parquet") -> int:
    """Write the trained IVF coarse quantizer under
    ``index_path/_centroids`` — ONCE per index lifetime (VERDICT r11
    next-round #5): every later ingest batch is assigned against these
    same centroids, so per-batch subdirs stay unionable without a fold
    (an assignment drift between batches would corrupt probe masks).
    The underscore prefix keeps the readers' batch-subdir unions from
    picking it up. Overwrite-idempotent (re-staging the same centroids
    replays safely); returns the number of cells staged."""
    import numpy as np

    cent = np.asarray(centroids, dtype=np.float64)
    rows = [(int(i), [float(v) for v in cent[i]]) for i in range(len(cent))]
    spark.createDataFrame(
        rows, "cell int, centroid array<double>"
    ).coalesce(1).write.mode("overwrite").format(fmt).save(
        os.path.join(index_path, "_centroids")
    )
    return len(rows)


def read_ivf_centroids(spark, index_path: str, fmt: str = "parquet"):
    """The staged coarse quantizer as an (n_clusters, dim) numpy array
    ordered by cell — the closure-sized artifact every probe and every
    ingest assignment loads (kilobytes; never a distributed read
    path). Missing path reads as an empty (0, 0) array."""
    import numpy as np

    path = os.path.join(index_path, "_centroids")
    if not os.path.isdir(path):
        return np.zeros((0, 0))
    rows = spark.read.format(fmt).load(path).collect()
    rows.sort(key=lambda r: r["cell"])
    return np.array([r["centroid"] for r in rows], dtype=np.float64)


def _fold_ivf(df: DataFrame) -> DataFrame:
    return df.select("vec_id", "cell", "embedding")


def ivf_index_ingest_foreach_batch(
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fmt: str = "parquet",
    compact_every_n_batches: int | None = None,
) -> Callable[[DataFrame, int], None]:
    """Streaming ingest for the STAGED IVF index (VERDICT r11
    next-round #5 — the ANN family's answer to the embedding-index
    twin): each micro-batch of ``(vec_id, embedding)`` rows is
    assigned to its cell against the STAGED centroids
    (``operators.similarity.ivf_assign_cells`` — assignment only,
    never retraining) and lands as ``(vec_id, cell, embedding)`` under
    ``index_path/batch=<id>``. ``stage_ivf_centroids`` must run before
    the first batch; a batch arriving with no centroids staged raises
    rather than silently training its own (drifted assignments would
    poison every later probe).

    Replay/compaction semantics are the
    :func:`embedding_index_ingest_foreach_batch` rules verbatim: no
    aggregation fold (batches are disjoint row sets; a replayed batch
    REPLACES its own subdir), spare-newest compaction below."""
    from flink_examples_spark.operators.similarity import ivf_assign_cells

    def partial(batch_df: DataFrame) -> DataFrame:
        cent = read_ivf_centroids(batch_df.sparkSession, index_path, fmt=fmt)
        if cent.size == 0:
            raise ValueError(
                f"no centroids staged under {index_path!r}: run "
                "stage_ivf_centroids before the first ingest batch"
            )
        return ivf_assign_cells(
            batch_df, cent, id_col=id_col, vec_col=vec_col
        ).select(
            F.col(id_col).alias("vec_id"),
            "cell",
            F.col(vec_col).cast("array<double>").alias("embedding"),
        )

    return _staged_ingest(
        index_path, fmt, compact_every_n_batches,
        lambda spark: compact_ivf_index(spark, index_path, fmt=fmt),
        partial,
    )


def read_ivf_index(spark, index_path: str,
                   fmt: str = "parquet") -> DataFrame:
    """Assemble the staged IVF index ``(vec_id, cell, embedding)`` — a
    plain union of the batch subdirs with NO keyed fold (the
    :func:`read_embedding_index` rule: the probe plan must stay
    fold-free so the corpus is never reshuffled at query time; the
    ``_centroids`` subdir is skipped by its underscore). Missing path
    reads as EMPTY."""
    return _read_staged(
        spark, index_path, fmt, _fold_ivf,
        "vec_id long, cell int, embedding array<double>",
    )


def compact_ivf_index(spark, index_path: str,
                      fmt: str = "parquet") -> int:
    """Concatenate committed batch subdirs into ``batch=compacted``,
    sparing the newest numbered batch (the
    :func:`compact_embedding_index` rule — only the in-flight batch
    can replay, and with no fold in the read path its rows folded
    would duplicate as phantom neighbors). The staged ``_centroids``
    are carried INTO the staging copy before the swap — the swap
    replaces the whole root, and an index without its quantizer is
    unusable. Crash-safe via the staging swap; returns rows in the
    compacted table, 0 if nothing to fold."""
    return _compact_staged(spark, index_path, fmt, _fold_ivf, spare_newest=True)


def hygiene_delta_ingest_foreach_batch(
    url_root: str,
    line_root: str,
    fp_root: str,
    out_path: str,
    id_col: str = "doc_id",
    url_col: str = "url_norm",
    host_col: str = "host",
    text_col: str = "text",
    raw_col=None,
    min_count: int = 3,
    fmt: str = "parquet",
) -> Callable[[DataFrame, int], None]:
    """The daily hygiene job's ingest face — the DAY-2 LOOP: each
    micro-batch is one delta dump; it is (1) run through the composed
    ``operators.crawl.incremental_hygiene_pipeline`` against the three
    ACCUMULATED staged indexes, (2) its kept/rewritten/scrubbed docs
    ship under ``out_path/batch=<id>``, and (3) the indexes are
    UPSERTED so tomorrow's dump probes today's state:

      - url partials gain ALL the batch's canonical URLs (a seen URL
        dedups future re-crawls whether or not its doc shipped —
        shipping decisions never un-see a URL),
      - line partials gain the SHIPPED docs' KEPT lines (the ship-state
        rule: the corpus contains what survived, so boilerplate counts
        track the post-strip text — deliberately different from the
        registered query's raw-snapshot inline index, which models a
        one-shot build over an as-crawled corpus),
      - the fingerprint index gains the shipped docs' md5(kept_text) —
        the SAME stage the probe fingerprints, so cross-day exact
        dedup keeps firing.

    The FIRST batch against empty roots is the bootstrap: url dedup
    degenerates to within-batch min-id, the strip to within-batch
    counts, fp dedup to within-batch keep-first — the face is total,
    no separate corpus-initialization path. Replay safety: every read
    EXCLUDES the in-flight batch's own subdirs (a replay must not
    probe its own previous write — all its URLs would read as corpus
    hits and the whole batch would drop), and every write overwrites
    its own subdir; output-before-index ordering means a crash between
    the writes replays the batch instead of poisoning the indexes with
    never-shipped content. Compaction: the three roots compact with
    their own faces (:func:`compact_url_partials`,
    :func:`compact_host_line_partials`, :func:`compact_paragraph_index`
    with ``fp_col='fp'``), each sparing the newest batch.

    Pinned contract (tests/test_url.py day-2 e2e): after any prefix of
    batches, the staged indexes equal a ONE-SHOT construction over
    (all urls seen, all shipped kept texts) — so day N's output equals
    the composed pipeline probing inline-built day-N state."""
    from flink_examples_spark.operators.crawl import (
        incremental_hygiene_pipeline,
        url_partials,
    )

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        sub = f"batch={batch_id}"
        uidx = _read_staged(
            spark, url_root, fmt, _fold_url_partials, _URL_PARTIALS_SCHEMA,
            exclude=sub,
        )
        lidx = _read_staged(
            spark, line_root, fmt, _fold_host_line_partials,
            _HOST_LINE_PARTIALS_SCHEMA, exclude=sub,
        )
        cfps = _read_staged(
            spark, fp_root, fmt, lambda df: df.select("fp").distinct(),
            "fp string", exclude=sub,
        )
        delta = batch_df.select(
            F.col(id_col).alias("doc_id"),
            F.col(url_col).alias("url_norm"),
            F.col(host_col).alias("host"),
            F.col(text_col).alias("text"),
        )
        out = incremental_hygiene_pipeline(
            uidx, lidx, cfps, delta,
            raw_col=raw_col, min_count=min_count, with_kept_text=True,
        ).localCheckpoint()
        # ship FIRST: a crash before the index writes replays the
        # batch; the reverse order would index never-shipped content
        out.write.mode("overwrite").format(fmt).save(
            os.path.join(out_path, sub)
        )
        url_partials(
            delta.withColumn("n_chars", F.length("text")),
            "doc_id", "doc_id", "n_chars", url=F.col("url_norm"),
        ).write.mode("overwrite").format(fmt).save(
            os.path.join(url_root, sub)
        )
        shipped = out.select(
            "doc_id", "host", F.col("kept_text").alias("text")
        )
        _host_line_partial(shipped, "doc_id", "host", "text").write.mode(
            "overwrite"
        ).format(fmt).save(os.path.join(line_root, sub))
        shipped.select(F.md5("text").alias("fp")).distinct() \
            .write.mode("overwrite").format(fmt) \
            .save(os.path.join(fp_root, sub))

    return apply
