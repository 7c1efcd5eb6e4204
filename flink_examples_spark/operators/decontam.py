"""Benchmark decontamination: flag training documents that share token
n-grams with an evaluation/benchmark set.

The standard LLM-training hygiene step (see GPT-3 / PaLM appendices):
any train document containing a long-enough token n-gram that also
appears in an eval benchmark is "contaminated" and must be dropped or
audited before training. At 100 TB the asymmetry is the whole design:

  - the TRAIN side is huge — its shingle set is computed streaming
    through the scan (explode + distinct, one shuffle keyed by shingle);
  - the EVAL side is tiny (benchmarks are MBs) — its distinct shingle
    set is **broadcast**, so the contamination join is map-side and the
    train corpus is never shuffled by shingle at all.

Reuses the dedup shingle machinery (operators/dedup.py:48) so train and
eval tokenize identically; hashes/buckets are md5-derived, so the
decision is replayable in any engine (same contract as
operators/sampling.py).

Reference parity: the reference has no decontamination operator — this
is part of the SURVEY §7 north-star "training-data pipeline" extension
alongside dedup and sampling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from flink_examples_spark.operators.dedup import shingles


def ngram_decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
) -> DataFrame:
    """Per-train-document contamination report against an eval corpus.

    Output: ``doc_id, n_grams, n_hits, verdict`` — one row per train
    document with at least one ``n``-token shingle; ``n_hits`` counts
    its distinct shingles that appear anywhere in the eval set, and
    ``verdict`` is ``'contaminated'`` iff ``n_hits > 0``.

    ``n=8`` is a realistic production default (long enough that shared
    grams imply copying, short enough to catch partial overlap); tests
    and the registry use smaller ``n`` so the synthetic small-vocab
    corpus produces non-trivial hits.

    Eval benchmarks are small by construction, so the eval shingle set
    is broadcast and the 100 TB train side is never shuffled by shingle.
    """
    # No repartition here: the operator honors its zero-train-shuffle
    # contract and leaves parallelism to the caller's scan. Small
    # single-file inputs (whose 1-2 scan partitions serialize the
    # CPU-bound shingling) should be fanned out AT THE CALL SITE
    # (queries._fan_out precedent) where the input size is known.
    sh_train = shingles(train, id_col, text_col, n)
    sh_eval = F.broadcast(
        shingles(eval_df, id_col, text_col, n).select("shingle").distinct()
    )
    # One pass: a left broadcast join marks each train shingle as a hit
    # or not, and a single doc_id aggregation counts both totals — the
    # train side is scanned once and shuffled once (by doc_id), never
    # by shingle.
    marked = sh_train.join(
        sh_eval.withColumn("hit", F.lit(1)), "shingle", "left"
    )
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count("hit").alias("n_hits"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_hits",
            F.when(F.col("n_hits") > 0, "contaminated")
            .otherwise("clean")
            .alias("verdict"),
        )
    )


def ngram_decontaminate_bloom(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    n_bits: int = 1 << 20,
    n_hashes: int = 4,
) -> DataFrame:
    """Memory-bounded decontamination: the eval shingle set compressed
    into a Bloom filter whose size is FIXED (``n_bits``) regardless of
    how large the eval suite grows — the shape for decontaminating
    against an eval corpus too big to broadcast exactly (aggregated
    benchmark unions, held-out corpora).

    Guarantees, both load-bearing:
      - NO false negatives: every truly contaminated document is
        flagged (Bloom filters never miss inserted members), so the
        hygiene property of [[ngram_decontaminate]] is preserved;
      - bounded false positives: a clean doc may flag at the filter's
        FP rate (~``(1 - e^(-kn/m))^k``); flagged docs are candidates
        for the exact check, not automatic drops. Approximate by
        construction — no SQL oracle; the subset/superset invariants
        and a measured FP bound live in tests/test_corpus_hygiene.py.

    Distributed-build discipline (why memory is bounded by the FILTER
    size and not the eval size): eval shingles hash to ``n_hashes``
    bit positions JVM-side (double hashing off the md5 [[hash60]],
    engine-portable), the DISTINCT bit positions — at most ``n_bits``
    values — come back through Arrow, and the ``np.packbits``-packed
    array (``n_bits/8`` bytes) ships via ``sparkContext.broadcast`` to
    a vectorized Arrow-batched membership probe over the train shingle
    hashes. The train side is never shuffled by shingle (same contract
    as the exact operator); eval is aggregated once.

    Output: ``doc_id, n_grams, n_flagged, verdict`` with verdict
    'flagged' / 'clean' — the id is aliased to ``doc_id`` (the exact
    twin's convention) but keeps its INPUT type (string ids work).
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from flink_examples_spark.functions.text import hash60

    # positions_i(h) = (h + i * (1 + h mod PRIME)) mod n_bits — double
    # hashing; the step offset is derived from h so the k probes are
    # pairwise-independent enough for the standard FP bound
    step = "(1 + pmod(_h, 999983))"
    pos_cols = [
        F.expr(f"pmod(_h + {i} * {step}, {n_bits})").alias(f"_p{i}")
        for i in range(n_hashes)
    ]
    # Arrow transfer (toPandas), not row collect: up to n_bits int64s
    # as one numpy column, never a Python Row per position
    ev_pos = (
        shingles(eval_df, id_col, text_col, n)
        .select(hash60(F.col("shingle")).alias("_h"))
        .select(pos_cols)
        .select(F.explode(F.array(*[f"_p{i}" for i in range(n_hashes)]))
                .alias("p"))
        .distinct()
        .toPandas()["p"]
        .to_numpy(dtype=np.int64)
    )
    bits = np.zeros(n_bits, dtype=bool)
    if len(ev_pos):
        bits[ev_pos] = True
    # ship packed (n_bits/8 bytes) via broadcast, not an 8x bool array
    # pickled into every task's closure
    bc = train.sparkSession.sparkContext.broadcast(np.packbits(bits))

    sh_train = shingles(train, id_col, text_col, n).select(
        "doc_id", hash60(F.col("shingle")).alias("_h")
    )

    def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        packed = np.unpackbits(bc.value).astype(bool)

        for pdf in batches:
            if pdf.empty:
                continue
            h = pdf["_h"].to_numpy(dtype=np.int64)
            stepv = 1 + (h % 999983)
            hit = np.ones(len(h), dtype=bool)
            for i in range(n_hashes):
                hit &= packed[(h + i * stepv) % n_bits]
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"].to_numpy(),
                "flagged": hit.astype(np.int64),
            })

    id_type = dict(
        (f.name, f.dataType.simpleString()) for f in train.schema.fields
    )[id_col]
    marked = sh_train.mapInPandas(probe, f"doc_id {id_type}, flagged long")
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum("flagged").alias("n_flagged"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_flagged",
            F.when(F.col("n_flagged") > 0, "flagged")
            .otherwise("clean")
            .alias("verdict"),
        )
    )


def ngram_novelty(
    train: DataFrame,
    test: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str,
    n: int = 3,
) -> DataFrame:
    """Memorization/novelty audit: per ``group_col``, the fraction of
    the TEST side's distinct-per-doc n-grams never seen anywhere in the
    TRAIN corpus.

    The generalization-gap telemetry an eval pipeline runs after a
    [[hash-split]]: a test slice whose n-grams are almost all present
    in train measures memorization, not generalization (the converse of
    decontamination — there the overlap is the contaminant; here its
    ABSENCE is the quantity of interest, reported as a rate rather than
    a verdict).

    Shape at 100 TB: the train side's distinct shingle set is the big
    operand — it is reduced map-side (partial distinct per task) and
    shuffled once on the shingle; the test side left-joins against it
    on the same key, so the audit costs one co-partitioned join, no
    broadcast of anything corpus-sized, no all-pairs anything. Output
    per group: ``n_test_shingles, n_novel, novelty_rate`` (exact
    integer counts; the rate is a double division of the two).
    """
    tr_sh = (
        shingles(train, id_col, text_col, n)
        .select("shingle").distinct()
        .withColumn("_seen", F.lit(1))
    )
    te_sh = shingles(test, id_col, text_col, n)
    te = te_sh.join(
        test.select(F.col(id_col).alias("doc_id"), group_col), "doc_id"
    )
    return (
        te.join(tr_sh, "shingle", "left")
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_test_shingles"),
            F.sum(
                F.when(F.col("_seen").isNull(), 1).otherwise(0)
            ).alias("n_novel"),
        )
        .withColumn(
            "novelty_rate",
            F.col("n_novel").cast("double")
            / F.col("n_test_shingles").cast("double"),
        )
    )
