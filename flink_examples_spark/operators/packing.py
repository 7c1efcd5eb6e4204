"""Sequence assembly for training pipelines: packing short documents
into fixed-token bins and chunking long documents into context windows.

The two inverse operations every LLM data pipeline runs between "corpus
of documents" and "batches of fixed-length sequences":

  sequence_pack — greedy in-order packing: within each partition key
      (source/shard), documents in id order accumulate into a bin until
      the token budget would overflow; bin assignment is
      ``floor(exclusive_prefix_tokens / target)``. A pure window
      prefix-sum: deterministic, replayable, and expressible in any SQL
      engine. Order-dependent packing fundamentally serializes per
      partition key, so at 100 TB you pack within shards (source ×
      hash-bucket) — thousands of independent keys, each a single
      window partition — never one global ordering.
  chunk_documents — split each document's token stream into
      non-overlapping windows of ``chunk_tokens`` (the map side of
      context-window chunking). Embarrassingly parallel: one codegen'd
      transform + posexplode per row, no shuffle at all.

Note ``sequence_pack``'s bins may overflow ``target`` by one document
(the classic streaming-pack semantics: a doc belongs to the bin its
prefix starts in); callers wanting strict caps chunk oversized docs
first — the composition ``chunk_documents |> sequence_pack`` yields
bins that never exceed ``target + chunk_tokens - 1``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window, functions as F

from flink_examples_spark.functions.text import hash60, token_count, tokens


def _cols(partition_col: str | Sequence[str]) -> list[str]:
    return [partition_col] if isinstance(partition_col, str) \
        else list(partition_col)


def sequence_pack(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target: int,
    partition_col: str | Sequence[str],
) -> DataFrame:
    """Assign every document a pack id within its partition key(s).

    Output: one row per document — ``<partition cols>, <id_col>,
    n_tokens, pack_id`` where ``pack_id = exclusive-prefix-sum of
    n_tokens div target`` in ``id_col`` order. Genuinely integer-only
    arithmetic (``div``, never a double divide + floor): hash-exact
    across engines at ANY prefix magnitude, including past 2^53 where
    a double quotient would round. ``partition_col`` may be a single
    column or a list (the sharded source×bucket shape at scale).
    """
    if target < 1:
        raise ValueError(f"sequence_pack: target must be >= 1, got {target}")
    parts = _cols(partition_col)
    w = (
        Window.partitionBy(*parts)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    n = token_count(text_col)
    return df.select(
        *[F.col(c) for c in parts],
        F.col(id_col),
        n.alias("n_tokens"),
    ).withColumn(
        "_prefix",
        F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long"),
    ).withColumn(
        "pack_id", F.expr(f"_prefix div {int(target)}")
    ).drop("_prefix")


def sequence_pack_sharded(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target: int,
    partition_col: str,
    n_shards: int = 16,
) -> DataFrame:
    """The 100 TB packing shape: pack within (``partition_col`` ×
    deterministic hash shard) instead of one window partition per
    source.

    Order-dependent packing fundamentally serializes per window key, so
    a handful of giant sources would bottleneck the whole job on a few
    tasks. Sharding each source into ``n_shards`` deterministic
    id-hash buckets yields sources × n_shards independent window
    partitions — thousands of parallel packing tasks — while every
    per-bin invariant (token conservation, overflow bound, id-order
    determinism) still holds per (source, shard) key. The shard id is
    hash60-derived (md5): replayable across runs, retries, and engines,
    never ``rand()``.

    Output: ``<partition_col>, pack_shard, <id_col>, n_tokens,
    pack_id``.
    """
    # NULL-safe id key (the sampling._null_safe sentinel): bare concat
    # null-propagates, collapsing every NULL-id doc into one NULL-shard
    # straggler window with nondeterministic intra-NULL order
    shard = F.pmod(
        hash60(
            F.concat(
                F.coalesce(F.col(id_col).cast("string"),
                           F.lit("\x00null\x00")),
                F.lit("#pack"),
            )
        ),
        F.lit(n_shards),
    )
    return sequence_pack(
        df.withColumn("pack_shard", shard),
        id_col,
        text_col,
        target,
        [partition_col, "pack_shard"],
    )


def pack_stats(
    packed: DataFrame, partition_col: str | Sequence[str]
) -> DataFrame:
    """Per-bin accounting over ``sequence_pack`` output:
    ``<partition cols>, pack_id, n_docs, pack_tokens``."""
    return packed.groupBy(*_cols(partition_col), "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("pack_tokens"),
    )


def pack_window_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target: int,
    partition_col: str | Sequence[str],
) -> DataFrame:
    """Which fixed-length training windows does each packed document
    TOUCH — the per-doc span the contamination census needs.

    ``sequence_pack`` assigns a doc to the bin its prefix STARTS in;
    the trainer, though, consumes the concatenated token stream as
    fixed ``target``-token windows, and a doc occupying stream range
    ``[prefix, prefix + n_tokens)`` leaks attention into every window
    ``floor(prefix/target) .. floor((prefix+n_tokens-1)/target)``.
    Output: one row per NON-EMPTY doc — ``<partition cols>, <id_col>,
    n_tokens, win_first, win_last`` (empty docs occupy no tokens and
    are excluded: their degenerate [b, b-1] span would otherwise read
    as a descending sequence()). Same integer-only prefix-sum window
    as ``sequence_pack`` — hash-exact in any engine, shard-
    parallelizable the same way.
    """
    if target < 1:
        raise ValueError(
            f"pack_window_spans: target must be >= 1, got {target}"
        )
    parts = _cols(partition_col)
    w = (
        Window.partitionBy(*parts)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    n = token_count(text_col)
    return (
        df.select(
            *[F.col(c) for c in parts],
            F.col(id_col),
            n.alias("n_tokens"),
        )
        .withColumn(
            "_prefix",
            F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long"),
        )
        .where(F.col("n_tokens") > 0)
        .select(
            *parts,
            id_col,
            "n_tokens",
            F.expr(f"_prefix div {int(target)}").alias("win_first"),
            F.expr(
                f"(_prefix + n_tokens - 1) div {int(target)}"
            ).alias("win_last"),
        )
    )


def chunk_documents_strided(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_tokens: int,
    stride: int,
) -> DataFrame:
    """Overlapping sliding-window chunks — the RAG/retrieval shape
    [[doc_chunks]]'s non-overlapping partitioner can't express: windows
    start every ``stride`` tokens and span up to ``chunk_tokens``, so
    consecutive windows share ``chunk_tokens - stride`` tokens and no
    retrieval boundary can split an answer span wider than the overlap.

    Window count per doc is the smallest n with
    ``(n-1)*stride + chunk_tokens >= len`` (every token covered, the
    last window possibly short, no degenerate tail windows that a
    naive ceil(len/stride) start grid would emit).

    Output: ``<id_col>, chunk_idx, start_tok, n_chunk_tokens,
    chunk_hash`` — one row per window, entirely inside the scan's
    codegen (zero exchanges), same as the fixed chunker.
    """
    c, s = int(chunk_tokens), int(stride)
    if c < 1 or s < 1:
        raise ValueError(
            f"chunk_documents_strided: chunk_tokens={chunk_tokens} and "
            f"stride={stride} must be >= 1"
        )
    if s > c:
        raise ValueError(
            f"chunk_documents_strided: stride={stride} > "
            f"chunk_tokens={chunk_tokens} would leave token gaps "
            "between windows"
        )
    n_win = (
        f"if(size(t) <= {c}, 1, "
        f"1 + cast(floor((size(t) - {c} + {s} - 1) / {s}) as int))"
    )
    chunks = F.expr(
        f"transform(sequence(0, {n_win} - 1), j -> slice(t, j * {s} + 1, {c}))"
    )
    return (
        df.select(F.col(id_col), tokens(text_col).alias("t"))
        .filter(F.size("t") > 0)
        .select(F.col(id_col), F.posexplode(chunks).alias("chunk_idx", "chunk"))
        .select(
            id_col,
            "chunk_idx",
            (F.col("chunk_idx") * s).alias("start_tok"),
            F.size("chunk").alias("n_chunk_tokens"),
            F.md5(F.array_join("chunk", " ")).alias("chunk_hash"),
        )
    )


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_tokens: int,
) -> DataFrame:
    """Explode each document into fixed-size token chunks.

    Output: ``<id_col>, chunk_idx, n_chunk_tokens, chunk_hash`` — one
    row per chunk, ``chunk_idx`` 0-based, the final chunk possibly
    short. ``chunk_hash`` (md5 of the space-joined chunk text)
    fingerprints content without materializing wide rows through the
    shuffle-free plan.
    """
    c = int(chunk_tokens)
    if c < 1:
        raise ValueError(
            f"chunk_documents: chunk_tokens must be >= 1, got {chunk_tokens}"
        )
    chunks = F.expr(
        f"transform(sequence(0, cast((size(t) + {c} - 1) / {c} as int) - 1),"
        f" j -> slice(t, j * {c} + 1, {c}))"
    )
    return (
        df.select(F.col(id_col), tokens(text_col).alias("t"))
        .filter(F.size("t") > 0)
        .select(F.col(id_col), F.posexplode(chunks).alias("chunk_idx", "chunk"))
        .select(
            id_col,
            "chunk_idx",
            F.size("chunk").alias("n_chunk_tokens"),
            F.md5(F.array_join("chunk", " ")).alias("chunk_hash"),
        )
    )


DEFAULT_LENGTH_CAPS = (16, 32, 64, 128, 256, 512, 1024, 2048)


def length_bucket_cap(token_col, caps: Sequence[int] = DEFAULT_LENGTH_CAPS):
    """Smallest bucket cap >= the token count, from a fixed geometric
    ladder (a CASE chain — engine-portable, no float log2 whose
    boundary rounding differs across engines). Degenerate documents
    (NULL/zero tokens) map to a NULL cap so they stay visible as their
    own census row rather than silently joining the smallest bucket.
    Counts above the top cap clamp to it (the top cap doubles as the
    model's context limit; longer docs are chunked first)."""
    c = F.col(token_col) if isinstance(token_col, str) else token_col
    expr = F.when(c.isNull() | (c <= 0), F.lit(None).cast("long"))
    for cap in sorted(caps)[:-1]:
        expr = expr.when(c <= cap, F.lit(cap).cast("long"))
    return expr.otherwise(F.lit(max(caps)).cast("long"))


def length_bucket_census(
    df: DataFrame,
    text_col: str,
    group_col: str,
) -> DataFrame:
    """Padding-waste census for length-bucketed batching (the "sorted
    batching" every inference/training batcher runs): per (group,
    bucket cap), how many documents, how many real tokens, and how many
    pad tokens a cap-padded batch would carry.

    One narrow projection + one map-side-combined aggregation — no
    joins, no windows; the 100 TB cost is a single shuffle of
    (group, cap) partials. Output: ``<group_col>, cap, n_docs,
    sum_tokens, pad_tokens`` where pad = cap*n_docs - sum_tokens
    (NULL for the degenerate NULL-cap bucket).
    """
    t = token_count(text_col)
    return (
        df.select(
            F.col(group_col),
            length_bucket_cap(t, DEFAULT_LENGTH_CAPS).alias("cap"),
            t.alias("_t"),
        )
        .groupBy(group_col, "cap")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.coalesce(F.sum("_t"), F.lit(0)).alias("sum_tokens"),
        )
        .withColumn(
            "pad_tokens",
            F.col("cap") * F.col("n_docs") - F.col("sum_tokens"),
        )
    )
