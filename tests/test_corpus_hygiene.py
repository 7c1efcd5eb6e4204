"""Tests for decontamination, repetition quality, and PII scrubbing
(operators/decontam.py, operators/quality.py, functions/pii.py) on
crafted fixtures — edge cases the synthetic-corpus oracle queries can't
exercise (exact contamination semantics, regex ordering, threshold
boundaries)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flink_examples_spark.functions.pii import pii_counts, pii_scrub
from flink_examples_spark.operators.decontam import ngram_decontaminate
from flink_examples_spark.operators.quality import repetition_signals


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# ---------------------------------------------------------------------------
# decontamination
# ---------------------------------------------------------------------------


def test_decontam_flags_copied_ngram_only(spark):
    eval_df = _docs(spark, [(100, "the quick brown fox jumps over the dog")])
    train = _docs(
        spark,
        [
            # contains "quick brown fox jumps" — a copied 4-gram
            (1, "she saw the quick brown fox jumps high today"),
            # same vocabulary, no shared 4-token sequence
            (2, "fox brown quick the dog over jumps jumps"),
        ],
    )
    out = {
        r["doc_id"]: r
        for r in ngram_decontaminate(train, eval_df, "doc_id", "text", n=4).collect()
    }
    assert out[1]["verdict"] == "contaminated"
    assert out[1]["n_hits"] >= 1
    assert out[2]["verdict"] == "clean"
    assert out[2]["n_hits"] == 0
    # n_grams counts DISTINCT shingles (doc 2 repeats "jumps")
    assert out[2]["n_grams"] == 5


def test_decontam_short_docs_have_no_row(spark):
    eval_df = _docs(spark, [(100, "a b c d e")])
    train = _docs(spark, [(1, "a b c")])  # 3 tokens < n=4: no shingles
    assert ngram_decontaminate(train, eval_df, "doc_id", "text", n=4).count() == 0


def test_decontam_broadcasts_eval_side(spark):
    eval_df = _docs(spark, [(100, "a b c d e")])
    train = _docs(spark, [(1, "x y z w v u")])
    plan = ngram_decontaminate(
        train, eval_df, "doc_id", "text", n=4
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


# ---------------------------------------------------------------------------
# repetition quality
# ---------------------------------------------------------------------------


def test_repetition_signals_flags_repeats(spark):
    df = _docs(
        spark,
        [
            (1, "spam spam spam spam"),          # dup 0.75, top bigram 1.0
            (2, "one two three four five six"),  # all distinct
            (3, "solo"),                         # single token: excluded
        ],
    )
    # explicit thresholds: the registry defaults (0.06) are tuned for
    # ~60-token docs, where a modal-bigram share of 1/5 would be wild
    rows = {r["doc_id"]: r for r in
            repetition_signals(df, "doc_id", "text",
                               top_bigram_max=0.5,
                               dup_token_max=0.65).collect()}
    assert set(rows) == {1, 2}
    assert rows[1]["verdict"] == "repetitive"
    assert rows[1]["dup_token_frac"] == 0.75
    assert rows[1]["top_bigram_frac"] == 1.0
    assert rows[2]["verdict"] == "ok"
    assert rows[2]["dup_token_frac"] == 0.0
    # 5 distinct bigrams, modal share 1/5
    assert rows[2]["top_bigram_frac"] == 0.2


def test_repetition_threshold_boundary_is_exclusive(spark):
    # top bigram share exactly at the threshold must NOT flag (strict >)
    df = _docs(spark, [(1, "a b c d e")])  # modal bigram 1/4 = 0.25
    row = repetition_signals(
        df, "doc_id", "text", top_bigram_max=0.25, dup_token_max=0.9
    ).collect()[0]
    assert row["verdict"] == "ok"


# ---------------------------------------------------------------------------
# PII scrub
# ---------------------------------------------------------------------------


def _scrub_one(spark, text):
    df = spark.createDataFrame([(text,)], "t string")
    return df.select(
        pii_scrub("t").alias("s"), *pii_counts("t")
    ).collect()[0]


def test_pii_scrub_all_three_patterns(spark):
    r = _scrub_one(
        spark,
        "mail bob.smith+x@corp.example.org or 555-123-4567, host 10.0.0.1 ok",
    )
    assert r["s"] == "mail <EMAIL> or <PHONE>, host <IP> ok"
    assert (r["n_email"], r["n_phone"], r["n_ipv4"]) == (1, 1, 1)


def test_pii_email_wins_over_inner_ip(spark):
    # the dotted-quad inside the email's local part must be consumed by
    # the email pass (declaration order), never double-counted as an IP
    r = _scrub_one(spark, "x 1.2.3.4@ex.com y")
    assert r["s"] == "x <EMAIL> y"
    assert (r["n_email"], r["n_phone"], r["n_ipv4"]) == (1, 0, 0)


def test_pii_counts_multiple_and_none(spark):
    r = _scrub_one(spark, "a@b.co c@d.org 1.1.1.1 2.2.2.2 3.3.3.3")
    assert (r["n_email"], r["n_phone"], r["n_ipv4"]) == (2, 0, 3)
    clean = _scrub_one(spark, "no sensitive content here")
    assert clean["s"] == "no sensitive content here"
    assert (clean["n_email"], clean["n_phone"], clean["n_ipv4"]) == (0, 0, 0)


# ---------------------------------------------------------------------------
# snapshot diff
# ---------------------------------------------------------------------------


def test_snapshot_diff_verdicts(spark):
    from flink_examples_spark.operators.diff import snapshot_diff

    old = spark.createDataFrame(
        [(1, "same text"), (2, "will change"), (3, "will vanish"),
         (4, "Same  TEXT")],  # normalization: trim/lower only, spacing kept
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, "same text"), (2, "has changed"), (5, "brand new"),
         (4, "same  text")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["verdict"]
           for r in snapshot_diff(old, new, "doc_id", "text").collect()}
    assert got == {1: "unchanged", 2: "changed", 3: "removed",
                   4: "unchanged", 5: "added"}


def test_merge_apply_reconstructs_new_and_keeps_old_unchanged_bodies(spark):
    """merge(v1, diff(v1,v2), v2) covers the same ids/fingerprints as
    v2, and for 'unchanged' ids the merged row carries the OLD raw
    body — unchanged documents are never rewritten (the no-op rewrite
    is the cost a 100 TB MERGE must avoid), even when the new snapshot
    holds a different case/whitespace variant of the same fingerprint."""
    from flink_examples_spark.operators.diff import merge_apply, snapshot_diff

    old = spark.createDataFrame(
        [(1, "same text"), (2, "will change"), (3, "will vanish"),
         (4, "Same  TEXT"), (6, None)],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, "same text"), (2, "has changed"), (5, "brand new"),
         (4, "same  text"), (6, None)],
        "doc_id long, text string",
    )
    diff = snapshot_diff(old, new, "doc_id", "text")
    merged = {r["doc_id"]: r["text"]
              for r in merge_apply(old, new, diff, "doc_id").collect()}
    assert merged == {1: "same text", 2: "has changed", 5: "brand new",
                      4: "Same  TEXT",  # old body kept for unchanged
                      6: None}          # NULL text merges as unchanged


def test_merge_apply_delta_joins_are_broadcast(spark):
    """The 100 TB contract: the corpus side of the merge streams through
    BroadcastHashJoin on both the anti (retire) and semi (upsert) legs —
    no shuffle of corpus bodies appears in the physical plan."""
    from flink_examples_spark.operators.diff import merge_apply, snapshot_diff

    old = spark.range(100).selectExpr(
        "id AS doc_id", "concat('doc ', id) AS text")
    new = spark.range(50, 150).selectExpr(
        "id AS doc_id",
        "concat('doc ', id, CASE WHEN id % 10 = 0 THEN ' v2' "
        "ELSE '' END) AS text")
    diff = snapshot_diff(old, new, "doc_id", "text")
    plan = merge_apply(
        old, new, diff, "doc_id"
    )._jdf.queryExecution().executedPlan().toString()
    import re

    # both corpus-facing joins are broadcast; the only shuffle joins
    # allowed are the diff's own full-outer on (id, 16-byte hash),
    # which never carries bodies.
    assert re.search(r"BroadcastHashJoin .*LeftAnti", plan)
    assert re.search(r"BroadcastHashJoin .*LeftSemi", plan)
    assert not re.search(r"SortMergeJoin .*Left(Anti|Semi)", plan)


def test_merge_apply_scans_each_snapshot_once(spark):
    """The retire and upsert legs both consume the diff — without
    exchange reuse each snapshot's fingerprint scan+shuffle would run
    twice. Pin the reuse: the final AQE plan shows both hashpartitioning
    exchanges of the diff's full-outer join as ReusedExchange on the
    second leg."""
    from flink_examples_spark.operators.diff import merge_apply, snapshot_diff

    old = spark.range(500).selectExpr(
        "id AS doc_id", "concat('doc ', id) AS text")
    new = spark.range(250, 750).selectExpr(
        "id AS doc_id",
        "concat('doc ', id, CASE WHEN id % 10 = 0 THEN ' v2' "
        "ELSE '' END) AS text")
    diff = snapshot_diff(old, new, "doc_id", "text")
    df = merge_apply(old, new, diff, "doc_id")
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert final.count("ReusedExchange") >= 2, final[:800]


# ---------------------------------------------------------------------------
# BPE pretokenization (functions/text.py BPE_SPLIT_REGEX)
# ---------------------------------------------------------------------------


def test_bpe_pretokens_match_duckdb_on_adversarial_text(spark):
    """The engine-parity contract for the BPE regex: Spark's Java-regex
    evaluation and DuckDB's RE2 evaluation must produce IDENTICAL token
    lists on contraction/punctuation/number/whitespace-heavy text —
    the exact classes where regex dialects usually diverge."""
    import duckdb

    from flink_examples_spark.functions.text import (
        BPE_SPLIT_REGEX,
        bpe_tokens,
    )

    samples = [
        "Hello world, it's 2026! a1b2 --dash  double  space",
        "tab\tand\nnewline mix 3.14 isn't it",
        "we'll they're I'd you've o'clock ''quoted''",
        "...!!! ??? #hash_tag @user 100,000.00",
        "",
    ]
    df = _docs(spark, list(enumerate(samples)))
    got = {r.doc_id: r.toks
           for r in df.select("doc_id", bpe_tokens("text").alias("toks"))
           .collect()}
    for i, s in enumerate(samples):
        want = duckdb.sql(
            "select regexp_extract_all(?, ?)", params=[s, BPE_SPLIT_REGEX]
        ).fetchone()[0]
        assert got[i] == want, (i, got[i], want)
        # tokens reassemble the original text exactly (lossless split)
        assert "".join(got[i]) == s


def test_bpe_count_exceeds_ws_count_on_punctuated_text(spark):
    """The budgeting rationale: on punctuation/number-heavy text the
    BPE pretoken count is strictly larger than whitespace words —
    whitespace counting under-budgets sequence length."""
    from flink_examples_spark.functions.text import (
        bpe_token_count,
        token_count,
    )

    df = _docs(spark, [(1, "well, it's 3.14 -- isn't it?!")])
    r = df.select(token_count("text").alias("ws"),
                  bpe_token_count("text").alias("bpe")).first()
    assert r.bpe > r.ws


# ---------------------------------------------------------------------------
# NULL / degenerate text robustness
# ---------------------------------------------------------------------------


def test_text_operators_survive_null_and_empty_docs(spark):
    """A 100 TB crawl WILL contain null/empty/whitespace-only documents;
    no text operator may crash on them, and the semantics pinned here
    are the cross-engine-stable ones: null text yields null counts (SQL
    aggregates skip them), whitespace-only yields no tokens/shingles,
    and packing charges null docs zero budget while still emitting
    their row (no silent drop)."""
    from pyspark.sql import functions as F

    from flink_examples_spark.functions.text import bpe_token_count, token_count
    from flink_examples_spark.operators.dedup import (
        exact_dedup_groups,
        minhash_band_keys,
        shingles,
    )
    from flink_examples_spark.operators.packing import (
        chunk_documents,
        sequence_pack,
    )

    df = spark.createDataFrame(
        [(1, "hello world foo bar baz one two three four five six"),
         (2, None), (3, ""), (4, "   "), (5, "ab")],
        "doc_id long, text string",
    )

    counts = {r.doc_id: r.n for r in
              df.select("doc_id", token_count("text").alias("n")).collect()}
    assert counts[1] == 11 and counts[5] == 1
    assert counts[2] is None          # null propagates, never throws
    assert counts[3] == 0 and counts[4] == 0
    assert df.select(bpe_token_count("text")).count() == 5

    # shingles/band keys: degenerate docs simply produce no rows
    sh_docs = {r.doc_id for r in shingles(df, "doc_id", "text").collect()}
    assert sh_docs == {1}
    bk_docs = {r.doc_id for r in
               minhash_band_keys(df, "doc_id", "text").collect()}
    assert bk_docs == {1}

    # exact dedup groups whitespace-variants together, null separately
    groups = {r.fingerprint: r.n_copies for r in
              exact_dedup_groups(df, "doc_id", "text").collect()}
    assert groups[None] == 1          # null text is its own group
    assert 2 in groups.values()       # "" and "   " share a fingerprint

    # packing: every doc keeps a row; null charges no budget
    packed = {r.doc_id: (r.n_tokens, r.pack_id) for r in
              sequence_pack(df.withColumn("source", F.lit("s")),
                            "doc_id", "text", 8, "source").collect()}
    assert len(packed) == 5
    assert packed[2][0] is None
    # doc 5 follows docs 2-4 (which contributed 0 tokens): same prefix
    assert packed[5][1] == packed[2][1]

    # chunking skips token-less docs entirely (nothing to chunk)
    assert {r.doc_id for r in
            chunk_documents(df, "doc_id", "text", 3).collect()} == {1, 5}


def test_operators_handle_empty_inputs(spark):
    """Empty partitions and empty deltas are routine at scale (a quiet
    ingest day, an all-filtered source); every operator must return an
    empty result, not crash."""
    from flink_examples_spark.operators.dedup import (
        connected_components,
        incremental_lsh_pairs,
        keep_canonical,
        minhash_band_keys,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )
    from flink_examples_spark.operators.diff import snapshot_diff
    from flink_examples_spark.operators.packing import (
        chunk_documents,
        sequence_pack_sharded,
    )
    from flink_examples_spark.operators.sampling import (
        global_shuffle_rank,
        temperature_mixture_sample,
    )
    from flink_examples_spark.operators.similarity import (
        embedding_neardup_lsh,
        quantize_embeddings_int8,
    )

    docs = spark.createDataFrame([], "doc_id long, source string, text string")
    pairs = spark.createDataFrame([], "a long, b long")
    emb = spark.createDataFrame([], "vec_id long, embedding array<double>")

    assert connected_components(pairs, "a", "b").count() == 0
    assert minhash_lsh_pairs(docs, "doc_id", "text").count() == 0
    assert ngram_jaccard_pairs(docs, "doc_id", "text").count() == 0
    assert keep_canonical(
        docs, connected_components(pairs, "a", "b"), "doc_id"
    ).count() == 0
    assert sequence_pack_sharded(docs, "doc_id", "text", 8, "source").count() == 0
    assert chunk_documents(docs, "doc_id", "text", 4).count() == 0
    assert embedding_neardup_lsh(emb).count() == 0
    assert quantize_embeddings_int8(emb).count() == 0
    assert global_shuffle_rank(docs, "doc_id").count() == 0
    assert temperature_mixture_sample(docs, "source", "doc_id").count() == 0
    assert snapshot_diff(docs, docs, "doc_id", "text").count() == 0
    # empty DELTA against a real corpus: the daily no-op ingest
    corpus = spark.createDataFrame(
        [(1, "s", "the quick brown fox jumps over the lazy dog")],
        "doc_id long, source string, text string",
    )
    cb = minhash_band_keys(corpus, "doc_id", "text")
    assert incremental_lsh_pairs(cb, docs, "doc_id", "text").count() == 0


# ---------------------------------------------------------------------------
# exact-substring strip (operators/dedup.substring_dedup_strip)
# ---------------------------------------------------------------------------


def test_substring_strip_removes_later_copy_keeps_canonical(spark):
    from flink_examples_spark.operators.dedup import substring_dedup_strip

    shared = " ".join(f"w{i}" for i in range(4))  # one full 4-token chunk
    rows = [
        (1, shared + " tail1 tail2 tail3 tail4"),   # chunks: shared, tail
        (2, shared + " other1 other2 other3 other4"),  # shared is a dup
        (3, "unique1 unique2 unique3 unique4"),
    ]
    out = {
        r["doc_id"]: r
        for r in substring_dedup_strip(
            _docs(spark, rows), "doc_id", "text", k=4
        ).collect()
    }
    # doc 1 holds the canonical (min (doc_id, idx)) occurrence — intact
    assert out[1]["n_dropped"] == 0
    assert out[1]["kept_text"] == rows[0][1]
    # doc 2 loses the shared chunk but keeps its own tail, in order
    assert out[2]["n_dropped"] == 1
    assert out[2]["kept_text"] == "other1 other2 other3 other4"
    assert out[3]["n_dropped"] == 0


def test_substring_strip_within_doc_repeat_and_short_tail(spark):
    from flink_examples_spark.operators.dedup import substring_dedup_strip

    # same 2-token chunk twice within ONE doc + a short (1-token) tail:
    # the second occurrence drops, the partial tail chunk survives
    rows = [(7, "a b a b c")]
    (r,) = substring_dedup_strip(
        _docs(spark, rows), "doc_id", "text", k=2
    ).collect()
    assert r["n_chunks"] == 3
    assert r["n_dropped"] == 1
    assert r["kept_text"] == "a b c"


# ---------------------------------------------------------------------------
# Gopher rule set (operators/quality.gopher_rules)
# ---------------------------------------------------------------------------


def test_gopher_rules_each_rule_fires_independently(spark):
    from flink_examples_spark.operators.quality import gopher_rules

    ok_doc = " ".join(["the", "and"] + [f"word{i}" for i in range(48)])
    rows = [
        (1, ok_doc),                                   # passes all four
        (2, "the and " + " ".join(f"w{i}" for i in range(10))),  # too short
        (3, " ".join(["the"] * 25 + ["#### #### ####"] * 25)),   # symbols
        (4, " ".join(f"word{i}" for i in range(60))),  # no stopwords
    ]
    out = {
        r["doc_id"]: r
        for r in gopher_rules(
            spark.createDataFrame(rows, "doc_id long, text string"),
            "doc_id",
            "text",
        ).collect()
    }
    assert out[1]["keep"] == 1
    assert out[2]["word_count_ok"] == 0 and out[2]["keep"] == 0
    assert out[3]["symbol_ok"] == 0 and out[3]["keep"] == 0
    assert out[4]["stopword_ok"] == 0 and out[4]["keep"] == 0


def test_gopher_rules_ellipsis_counts_and_stopword_override(spark):
    from flink_examples_spark.operators.quality import gopher_rules

    # 2 ellipses over 4 tokens = 0.5 symbol ratio -> fails default 0.1
    rows = [(1, "okay... fine... alpha beta")]
    (r,) = gopher_rules(
        spark.createDataFrame(rows, "doc_id long, text string"),
        "doc_id",
        "text",
        min_tokens=1,
        stopwords=("alpha",),
        min_stopword_hits=1,
    ).collect()
    assert r["symbol_ok"] == 0
    assert r["stopword_ok"] == 1
    assert abs(r["symbol_ratio"] - 0.5) < 1e-9


def test_levenshtein_verify_keeps_small_edit_drops_rewrite(spark):
    from flink_examples_spark.operators.dedup import (
        verify_levenshtein_on_candidates,
    )

    docs = _docs(
        spark,
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),  # 1 edit
            (3, "a completely different sentence altogether here"),
        ],
    )
    cand = spark.createDataFrame(
        [(1, 2), (1, 3)], "doc_a long, doc_b long"
    )
    out = verify_levenshtein_on_candidates(
        docs, cand, "doc_id", "text", min_sim=0.8
    ).collect()
    assert [(r["doc_a"], r["doc_b"]) for r in out] == [(1, 2)]
    assert out[0]["lev_dist"] == 3  # dog -> cat


def test_incremental_substring_strip_corpus_precedence(spark):
    from flink_examples_spark.operators.dedup import (
        incremental_substring_strip,
        substring_chunk_index,
    )

    corpus = _docs(spark, [(100, "c1 c2 shared1 shared2")])
    delta = _docs(
        spark,
        [
            # chunk present in corpus -> drops even though 1 < 100
            (1, "shared1 shared2 mine1 mine2"),
            # within-delta duplicate: doc 2 holds the canonical copy
            (2, "dup1 dup2 own1 own2"),
            (3, "dup1 dup2 other1 other2"),
        ],
    )
    idx = substring_chunk_index(corpus, "doc_id", "text", k=2)
    out = {
        r["doc_id"]: r
        for r in incremental_substring_strip(
            idx, delta, "doc_id", "text", k=2
        ).collect()
    }
    assert out[1]["n_dropped"] == 1
    assert out[1]["kept_text"] == "mine1 mine2"
    assert out[2]["n_dropped"] == 0
    assert out[3]["n_dropped"] == 1
    assert out[3]["kept_text"] == "other1 other2"


def test_new_operators_handle_empty_inputs(spark):
    from pyspark.sql import functions as F

    from flink_examples_spark.operators.classify import (
        dsir_hashed_importance,
        nb_token_evidence,
    )
    from flink_examples_spark.operators.dedup import (
        incremental_substring_strip,
        substring_chunk_index,
        substring_dedup_strip,
        verify_levenshtein_on_candidates,
    )
    from flink_examples_spark.operators.quality import gopher_rules

    docs = spark.createDataFrame([], "doc_id long, text string")
    docs_l = spark.createDataFrame([], "doc_id long, text string, lang string")
    assert substring_dedup_strip(docs, "doc_id", "text").count() == 0
    assert nb_token_evidence(docs, "doc_id", "text").count() == 0
    assert gopher_rules(docs, "doc_id", "text").count() == 0
    assert (
        dsir_hashed_importance(
            docs_l, "doc_id", "text", F.col("lang") == "en"
        ).count()
        == 0
    )
    cand = spark.createDataFrame([], "doc_a long, doc_b long")
    assert (
        verify_levenshtein_on_candidates(docs, cand, "doc_id", "text").count()
        == 0
    )
    idx = substring_chunk_index(docs, "doc_id", "text")
    delta = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    # empty corpus index: delta survives untouched
    (r,) = incremental_substring_strip(idx, delta, "doc_id", "text", k=2).collect()
    assert r["n_dropped"] == 0 and r["kept_text"] == "a b c d"


def test_snapshot_diff_null_text_is_presence_not_absence(spark):
    """Review regression: a NULL-text doc IS present in its snapshot —
    it must diff changed/unchanged, never added/removed (fingerprint
    nullness used to be conflated with side-absence)."""
    from flink_examples_spark.operators.diff import snapshot_diff

    old = _docs(spark, [(1, None), (2, "hi"), (3, None)])
    new = _docs(spark, [(1, "hi"), (2, None), (3, None)])
    out = {
        r["doc_id"]: r["verdict"]
        for r in snapshot_diff(old, new, "doc_id", "text").collect()
    }
    assert out == {1: "changed", 2: "changed", 3: "unchanged"}


def test_bloom_decontam_superset_of_exact_and_fp_bounded(spark, sf_dir):
    """Bloom decontamination never misses a truly contaminated doc
    (no false negatives — Bloom filters cannot miss members) and its
    false-positive flags stay near the filter's theoretical rate (2^20
    bits / 4 hashes over a few thousand shingles -> essentially 0)."""
    from flink_examples_spark.catalog import load_table
    from flink_examples_spark.operators.decontam import (
        ngram_decontaminate,
        ngram_decontaminate_bloom,
    )
    from flink_examples_spark.operators.sampling import hash_split

    docs = hash_split(
        load_table(spark, "documents", sf_dir), "doc_id",
        weights=(("eval", 0.1), ("train", 0.9)), salt="decontam",
    )
    train = docs.filter(F.col("split") == "train")
    ev = docs.filter(F.col("split") == "eval")
    exact = {
        r["doc_id"]
        for r in ngram_decontaminate(train, ev, "doc_id", "text", n=4)
        .filter(F.col("verdict") == "contaminated").collect()
    }
    out = ngram_decontaminate_bloom(train, ev, "doc_id", "text", n=4)
    flagged = {
        r["doc_id"]
        for r in out.filter(F.col("verdict") == "flagged").collect()
    }
    assert exact <= flagged, "bloom missed a truly contaminated doc"
    n_train = out.count()
    fp = len(flagged - exact)
    assert fp <= max(2, n_train // 100), f"{fp} false positives of {n_train}"


def test_bloom_decontam_tiny_filter_shows_false_positives_only(spark):
    """Shrinking the filter raises FP (clean docs flag) but can never
    create a false negative — the asymmetry that makes bloom decontam
    safe as a candidate generator."""
    from flink_examples_spark.operators.decontam import (
        ngram_decontaminate_bloom,
    )

    train = _docs(spark, [
        (1, "alpha beta gamma delta"),         # contaminated (copied)
        (2, "uno dos tres cuatro"),             # clean
    ])
    ev = _docs(spark, [(100, "alpha beta gamma delta epsilon")])
    out = {
        r["doc_id"]: r["verdict"]
        for r in ngram_decontaminate_bloom(
            train, ev, "doc_id", "text", n=4, n_bits=1, n_hashes=2
        ).collect()
    }
    assert out[1] == "flagged"  # the true positive survives any n_bits
    # a 1-bit filter saturates: the clean doc MUST false-positive,
    # proving the asymmetry (FP possible, FN impossible) actually bites
    assert out[2] == "flagged"


# ---------------------------------------------------------------------------
# Blocklist safety census (operators/quality.blocklist_flags)
# ---------------------------------------------------------------------------


def test_blocklist_flags_semantics(spark):
    """The fixtures contain no blocklist terms (the oracle row for
    doc_blocklist_safety only proves the all-clean path), so pin the
    flagged path synthetically: multiplicity counting, the ratio
    threshold boundary, and zero-token exclusion."""
    from flink_examples_spark.operators.quality import blocklist_flags

    docs = spark.createDataFrame(
        [
            (1, "casino casino casino win"),          # dense spam: 3/4
            (2, " ".join(["word"] * 99 + ["casino"])),  # 1/100 = at threshold
            (3, " ".join(["word"] * 199 + ["casino"])),  # 1/200 < threshold
            (4, "plain clean text here"),             # clean
            (5, ""),                                  # zero tokens: excluded
            (6, "CASINO"),                            # lowercased tokenizer
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in
           blocklist_flags(docs, "doc_id", "text", max_ratio=0.01).collect()}
    assert 5 not in out
    assert out[1]["n_flagged"] == 3 and out[1]["is_clean"] == 0
    assert out[2]["n_flagged"] == 1 and out[2]["is_clean"] == 1  # == thr
    assert out[3]["is_clean"] == 1
    assert out[4]["n_flagged"] == 0 and out[4]["is_clean"] == 1
    assert out[6]["n_flagged"] == 1                   # case-insensitive


def test_orphan_census_counts_orphans_and_null_keys(spark):
    """Healthy fixtures have zero orphans (the oracle row only proves
    the clean path) — pin the orphan path synthetically: missing
    partners and NULL left keys both count, duplicate right keys don't
    multiply rows."""
    from flink_examples_spark.operators.integrity import orphan_census

    left = spark.createDataFrame(
        [(1,), (2,), (3,), (None,)], "k int"
    )
    right = spark.createDataFrame(
        [(1,), (1,), (2,)], "k int"  # dup key 1 must not multiply
    )
    out = orphan_census([("c", left, "k", right, "k")]).collect()
    assert len(out) == 1
    assert out[0]["n_rows"] == 4
    assert out[0]["n_orphans"] == 2  # id 3 + the NULL key


def test_blocklist_terms_with_backslashes_match_literally(spark):
    """A blocklist term containing a backslash must match the literal
    token — a spliced SQL literal would interpret it as an escape
    sequence and silently flag nothing."""
    from flink_examples_spark.operators.quality import blocklist_flags

    docs = spark.createDataFrame(
        [(1, r"a\tb a\tb clean")], "doc_id long, text string"
    )
    out = blocklist_flags(
        docs, "doc_id", "text", terms=(r"a\tb",), max_ratio=0.01
    ).collect()
    assert out[0]["n_flagged"] == 2


def test_paragraph_dedup_keep_first_and_guards(spark):
    """C4/FineWeb-style paragraph dedup: a boilerplate paragraph
    repeated across docs survives only at its minimum (doc_id, pos);
    short fragments are exempt; all-stripped docs keep an empty text;
    NULL text passes through as NULL."""
    from flink_examples_spark.operators.dedup import paragraph_dedup

    sep = "\n\n"
    docs = spark.createDataFrame(
        [
            (1, sep.join(["intro one", "LICENSE BLOCK", "body one"])),
            (2, sep.join(["LICENSE BLOCK", "body two"])),
            (3, sep.join(["LICENSE BLOCK", "body one"])),  # both dups
            (4, "LICENSE BLOCK"),                          # fully stripped
            (5, ""),                                       # empty, len 0: exempt
            (6, None),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.text, r.n_paragraphs, r.n_removed)
           for r in paragraph_dedup(docs, "doc_id", "text").collect()}
    assert got[1] == (sep.join(["intro one", "LICENSE BLOCK", "body one"]), 3, 0)
    assert got[2] == ("body two", 2, 1)
    assert got[3] == ("", 2, 2)          # license AND body one both seen
    assert got[4] == ("", 1, 1)
    assert got[5] == ("", 1, 0)          # zero-length fragment exempt
    assert got[6] == (None, None, None)

    # min_chars exemption: short connective paragraphs never dedup
    docs2 = spark.createDataFrame(
        [(1, sep.join(["aa", "unique one"])), (2, sep.join(["aa", "x two"]))],
        "doc_id long, text string",
    )
    got2 = {r.doc_id: r.n_removed for r in paragraph_dedup(
        docs2, "doc_id", "text", min_chars=3
    ).collect()}
    assert got2 == {1: 0, 2: 0}


def test_incremental_paragraph_dedup_corpus_wins(spark):
    """Ingest asymmetry: a delta paragraph already in the corpus index
    drops even where a full re-dedup's (doc_id, pos) tiebreak would
    keep it; within-delta duplicates keep their min (doc_id, pos);
    unseen paragraphs pass."""
    from flink_examples_spark.operators.dedup import (
        incremental_paragraph_dedup,
        paragraph_fp_index,
    )

    sep = "\n\n"
    corpus = spark.createDataFrame(
        [(100, sep.join(["shared para", "old body"]))],
        "doc_id long, text string",
    )
    idx = paragraph_fp_index(corpus, "doc_id", "text")
    delta = spark.createDataFrame(
        [
            # doc 1 < 100, but the corpus copy still wins
            (1, sep.join(["shared para", "fresh one"])),
            (2, sep.join(["fresh two", "fresh two", "fresh one"])),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.text, r.n_paragraphs, r.n_removed)
           for r in incremental_paragraph_dedup(
               idx, delta, "doc_id", "text").collect()}
    assert got[1] == ("fresh one", 2, 1)          # corpus wins at any id
    # doc 2: first 'fresh two' kept, its twin dropped; 'fresh one' was
    # kept in doc 1 (lower id) so doc 2's copy drops
    assert got[2] == ("fresh two", 3, 2)


def test_collapse_token_runs_goldens(spark):
    """VERDICT r4 #3: unit goldens for collapse_token_runs — runs at
    start/middle/end, single-token doc, NULL text passthrough, and an
    all-identical doc collapsing to one token. Case-normalized tokens
    (the tokens() contract) mean HA ha Ha is ONE run."""
    from flink_examples_spark.operators.quality import collapse_token_runs

    docs = spark.createDataFrame(
        [
            (1, "the the the end"),            # run at start
            (2, "a b b b c"),                  # run in the middle
            (3, "go go"),                      # run at end == whole doc
            (4, "solo"),                       # single token: untouched
            (5, None),                         # NULL passthrough
            (6, "same same same same"),        # all-identical
            (7, "HA ha Ha done"),              # case-insensitive run
            (8, "x y x y"),                    # alternation: NO run
            (9, ""),                           # empty text
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.text, r.n_tokens, r.n_collapsed)
        for r in collapse_token_runs(docs, "doc_id", "text").collect()
    }
    assert got[1] == ("the end", 4, 2)
    assert got[2] == ("a b c", 5, 2)
    assert got[3] == ("go", 2, 1)
    assert got[4] == ("solo", 1, 0)
    assert got[5] == (None, None, None)
    assert got[6] == ("same", 4, 3)
    assert got[7] == ("ha done", 4, 2)
    assert got[8] == ("x y x y", 4, 0)
    assert got[9] == ("", 0, 0)


def test_doc_bigram_nll_hand_example(spark, tmp_path):
    """Add-one-smoothed bigram NLL on a hand corpus. Reference doc
    (src0) 'a b a b c' gives unigrams a:2 b:2 c:1 (V=4 incl. unseen),
    bigrams (a,b):2 (b,a):1 (b,c):1. Scoring 'a b z' (src1):
    -[ln(3/6) + ln(1/6)]/2 = 1.242453; the reference doc scores
    -[ln(3/6)+ln(2/6)+ln(3/6)+ln(2/6)]/4 = 0.895880. One-token and
    NULL docs emit n_bigrams 0 with NULL avg_nll."""
    import pandas as pd

    from flink_examples_spark.queries import registry

    # single parquet FILE, the testdata layout load_table expects
    pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": ["a b a b c", "a b z", "solo", None],
            "lang": ["en"] * 4,
            "source": ["src0", "src1", "src1", "src1"],
            "n_chars": [9, 5, 4, 0],
        }
    ).to_parquet(str(tmp_path / "documents.parquet"), index=False)

    got = {
        r.doc_id: (r.n_bigrams, r.avg_nll)
        for r in registry()["doc_bigram_nll"]
        .spark_fn(spark, str(tmp_path))
        .collect()
    }
    assert got[1] == (4, 0.89588)
    assert got[2] == (2, 1.242453)
    assert got[3] == (0, None)
    assert got[4] == (0, None)


def test_span_dedup_overlap_masking_goldens(spark):
    """C4 span dedup semantics: a duplicated 3-sentence span masks its
    covered sentences at every non-canonical occurrence, even when the
    covering doc has unique sentences around them; docs shorter than
    the window pass through; NULL stays NULL; a doc that is nothing
    but a duplicated span empties out."""
    from flink_examples_spark.operators.dedup import span_dedup_strip

    docs = spark.createDataFrame(
        [
            (1, "s1. s2. s3. s4"),      # canonical holder of (s2,s3,s4)
            (2, "x. s2. s3. s4. y"),    # dup span inside unique context
            (3, "a. b"),                # shorter than the window
            (4, None),
            (5, "s2. s3. s4"),          # exactly one span, duplicated
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.text, r.n_sentences, r.n_removed)
        for r in span_dedup_strip(docs, "doc_id", "text").collect()
    }
    assert got[1] == ("s1. s2. s3. s4", 4, 0)
    assert got[2] == ("x. y", 5, 3)       # middle masked, edges kept
    assert got[3] == ("a. b", 2, 0)
    assert got[4] == (None, None, None)
    assert got[5] == ("", 3, 3)


def test_incremental_span_dedup_corpus_precedence(spark):
    """Corpus spans win unconditionally: a delta doc whose span already
    shipped is masked even though a fresh batch run would have made it
    canonical; within-delta dups keep min (doc_id, spos); spans absent
    from both the index and the delta survive."""
    from flink_examples_spark.operators.dedup import (
        incremental_span_dedup,
        span_fp_index,
    )

    corpus = spark.createDataFrame(
        [(100, "c1. c2. c3. tail")], "doc_id long, text string"
    )
    idx = span_fp_index(corpus, "doc_id", "text")
    delta = spark.createDataFrame(
        [
            (1, "c1. c2. c3. mine"),    # span (c1,c2,c3) shipped: masked
            (2, "d1. d2. d3. z"),       # within-delta canonical holder
            (3, "d1. d2. d3"),          # within-delta dup: loses
            (4, "u1. u2. u3"),          # unique: untouched
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.text, r.n_removed)
        for r in incremental_span_dedup(
            idx, delta, "doc_id", "text"
        ).collect()
    }
    assert got[1] == ("mine", 3)        # corpus wins despite doc_id 1 < 100
    assert got[2][1] == 0               # canonical keeps everything
    assert got[3] == ("", 3)            # non-canonical dup fully masked
    assert got[4] == ("u1. u2. u3", 0)


def test_incremental_dedup_duplicated_index_fps_do_not_multiply(spark):
    """r5 review: a staged index accumulated over many ingest batches
    can hold the same fingerprint in several subdirs; a duplicated hit
    row must NOT duplicate delta rows through the probe join (which
    would inflate n_paragraphs and double paragraphs in the rebuilt
    text). Same guard for the span and substring paths."""
    from flink_examples_spark.operators.dedup import (
        incremental_paragraph_dedup,
        incremental_span_dedup,
        incremental_substring_strip,
    )

    # 'dup' appears TWICE in the index (two batch subdirs' worth)
    idx = spark.createDataFrame(
        [("x",), ("x",)], "part string"
    ).selectExpr("md5(part) as pfp")
    delta = spark.createDataFrame(
        [(1, "x\n\nkeep me")], "doc_id long, text string"
    )
    out = incremental_paragraph_dedup(idx, delta, "doc_id", "text").collect()
    assert len(out) == 1
    r = out[0]
    assert (r.text, r.n_paragraphs, r.n_removed) == ("keep me", 2, 1)

    sidx = spark.createDataFrame(
        [("a\x1fb\x1fc",), ("a\x1fb\x1fc",)], "span string"
    ).selectExpr("md5(span) as sfp")
    sdelta = spark.createDataFrame(
        [(1, "a. b. c. tail")], "doc_id long, text string"
    )
    sout = incremental_span_dedup(sidx, sdelta, "doc_id", "text").collect()
    assert len(sout) == 1
    assert (sout[0].text, sout[0].n_removed) == ("tail", 3)

    # a (chunk, n_occ) index holding the same chunk twice
    cidx = spark.createDataFrame(
        [("a b", 1), ("a b", 1)], "chunk string, n_occ long"
    )
    cdelta = _docs(spark, [(1, "a b keep me")])
    cout = incremental_substring_strip(
        cidx, cdelta, "doc_id", "text", k=2
    ).collect()
    assert len(cout) == 1
    assert (cout[0].kept_text, cout[0].n_chunks, cout[0].n_dropped) == (
        "keep me", 2, 1
    )


# one fixture for every strip unit, units ". "-separated (k=1: a chunk
# is one token): doc 2 repeats units of doc 1, doc 3 repeats a unit
# within itself, doc 4 holds only units of doc 1 (it strips to empty
# text), 5 is NULL, 6 is empty and 7 is doc 1 on another host
_STRIP_DOCS = [
    (1, "h1", "a. b. c"), (2, "h1", "x. a. b"), (3, "h1", "r. q. r. q"),
    (4, "h1", "b. c"), (5, "h1", None), (6, "h1", ""), (7, "h2", "a. b. c"),
]


@pytest.mark.parametrize(
    "batch, index, incremental, kw, text_col",
    [
        ("substring_dedup_strip", "substring_chunk_index",
         "incremental_substring_strip", {"k": 1}, "kept_text"),
        ("host_line_dedup_strip", "host_line_fp_index",
         "incremental_host_line_strip", {"min_count": 2}, "kept_text"),
        ("paragraph_dedup", "paragraph_fp_index",
         "incremental_paragraph_dedup", {"sep": ". "}, "text"),
        ("span_dedup_strip", "span_fp_index",
         "incremental_span_dedup", {"width": 2}, "text"),
    ],
    ids=["chunk", "host_line", "paragraph", "span"],
)
def test_incremental_strip_on_empty_index_equals_batch(
    spark, batch, index, incremental, kw, text_col
):
    """With nothing staged, an incremental strip IS the batch strip:
    against an index built from an empty corpus, every unit's
    incremental strip equals its batch strip row for row, through
    cross-doc duplicates, a within-doc repeat, NULL text, empty text
    and a fully stripped doc. The host-line strip also equals itself
    with ``line_index=`` its own line index."""
    from flink_examples_spark.operators import dedup as D

    docs = spark.createDataFrame(
        _STRIP_DOCS, "doc_id long, host string, text string"
    )
    host = batch.startswith("host")
    cols = ("doc_id", "host", "text") if host else ("doc_id", "text")
    index_kw = {} if host else kw  # the line index takes no threshold
    want_df = getattr(D, batch)(docs, *cols, **kw)
    empty_index = getattr(D, index)(docs.limit(0), *cols, **index_kw)
    got_df = getattr(D, incremental)(empty_index, docs, *cols, **kw)
    assert got_df.columns == want_df.columns
    want = {r[0]: r for r in want_df.collect()}
    assert {r[0]: r for r in got_df.collect()} == want
    assert want[4][text_col] == ""
    # only the host-scoped unit keeps another host's copy of doc 1
    assert want[7][text_col] == ("a. b. c" if host else "")
    if host:
        via_index = D.host_line_dedup_strip(
            docs, *cols, line_index=D.host_line_fp_index(docs, *cols), **kw
        )
        assert via_index.columns == want_df.columns
        assert {r[0]: r for r in via_index.collect()} == want


def test_strip_separator_holding_backslash_e_splits_literally(spark):
    """The separator is literal even when it holds ``\\E``, which ends
    a ``\\Q...\\E`` regex quote early and fails the split."""
    from flink_examples_spark.operators.dedup import (
        paragraph_dedup,
        span_dedup_strip,
    )

    sep = "x\\Ey"
    docs = _docs(spark, [(1, sep.join("aba")), (2, sep.join("abc"))])
    para = {
        r.doc_id: (r.text, r.n_paragraphs, r.n_removed)
        for r in paragraph_dedup(docs, "doc_id", "text", sep=sep).collect()
    }
    assert para == {1: (sep.join("ab"), 3, 1), 2: ("c", 3, 2)}
    span = {
        r.doc_id: (r.text, r.n_sentences, r.n_removed)
        for r in span_dedup_strip(
            docs, "doc_id", "text", sep=sep, width=2
        ).collect()
    }
    assert span == {1: (sep.join("aba"), 3, 0), 2: ("c", 3, 2)}


def test_events_log_as_of_tie_rule_and_partition_moves(spark):
    """Time-travel reconstruction semantics: delete beats upsert at the
    SAME seq; horizons slice the history; with partition_col, a
    delete+upsert cross-partition move restores into the new partition
    only once both legs clear the horizon."""
    from flink_examples_spark.operators.diff import events_log_as_of

    ev = spark.createDataFrame(
        [
            (1, "v1", "s0", 1, "upsert"),
            (1, "v2", "s0", 2, "upsert"),
            (2, "x1", "s0", 1, "upsert"),
            (2, None, "s0", 1, "delete"),     # tie: delete wins
            (3, "m1", "s0", 1, "upsert"),     # moves s0 -> s1 at seq 2
            (3, None, "s0", 2, "delete"),
            (3, "m2", "s1", 2, "upsert"),
        ],
        "doc_id long, text string, source string, seq long, op string",
    )

    def snap(h):
        return {
            (r.doc_id, r.source): r.text
            for r in events_log_as_of(
                ev, "doc_id", "seq", horizon=h,
                partition_col="source",
            ).collect()
        }

    assert snap(1) == {(1, "s0"): "v1", (3, "s0"): "m1"}  # 2 tie-deleted
    assert snap(2) == {(1, "s0"): "v2", (3, "s1"): "m2"}  # moved

    # without partition identity the move's same-seq delete+upsert is
    # a TIE on the flat key, and the conservative rule drops the doc —
    # exactly why the CDC contract keys per (id, partition)
    flat = {
        r.doc_id: r.text
        for r in events_log_as_of(ev, "doc_id", "seq", 2).collect()
    }
    assert flat == {1: "v2"}


def test_column_profile_counts_nulls_and_distincts(spark):
    import pytest
    from flink_examples_spark.operators.integrity import column_profile

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "a"), (None, "b")],
        "k long, v string",
    )
    out = {r.col: (r.n_rows, r.n_nulls, r.n_distinct)
           for r in column_profile(df, ["k", "v"]).collect()}
    assert out == {"k": (4, 1, 3), "v": (4, 1, 2)}
    with pytest.raises(ValueError):
        column_profile(df, [])


def test_column_profile_single_scan_plan(spark):
    from flink_examples_spark.operators.integrity import column_profile

    df = spark.createDataFrame([(1, "a")], "k long, v string")
    plan = column_profile(df, ["k", "v"])._jdf.queryExecution().executedPlan().toString()
    # multi-distinct profiling must plan as Expand over ONE scan of the
    # source, not one scan per profiled column
    assert plan.count("Scan ExistingRDD") <= 1
    assert "Expand" in plan


def test_incremental_agg_apply_drops_zeroed_groups_and_handles_new(spark):
    from pyspark.sql import functions as F
    from flink_examples_spark.operators.diff import incremental_agg_apply

    base = spark.createDataFrame(
        [("a", 10.0, 2), ("b", 5.0, 1)],
        "k string, total double, n_rows long",
    )
    delta = spark.createDataFrame(
        [
            ("b", 5.0, "del"),          # zeroes group b -> dropped
            ("a", 3.0, "add"),
            ("c", 7.0, "add"),          # brand-new group appears
        ],
        "k string, amount double, op string",
    )
    out = {r.k: (r.total, r.n_rows) for r in
           incremental_agg_apply(base, delta, ["k"], "amount").collect()}
    assert out == {"a": (13.0, 3), "c": (7.0, 1)}


def test_profile_partials_fold_to_single_shot(spark, tmp_path):
    """Mergeable profiling: folding per-batch partials must equal the
    single-shot partial over the whole data — counts exactly, the KMV
    distinct estimate bit-for-bit (min-k of min-k's == min-k)."""
    from flink_examples_spark.operators.integrity import (
        column_profile_fold,
        column_profile_partial,
    )
    from flink_examples_spark.streaming.sinks import (
        column_profile_ingest_foreach_batch,
        read_column_profile,
    )

    rows = [(i % 37, None if i % 5 == 0 else f"v{i % 97}")
            for i in range(400)]
    a = spark.createDataFrame(rows[:150], "k long, v string")
    b = spark.createDataFrame(rows[150:], "k long, v string")
    whole = {r.col: (r.n_rows, r.n_nulls, r.n_kept, r.distinct_est)
             for r in column_profile_fold(
                 column_profile_partial(
                     a.unionByName(b), ["k", "v"], 16), 16).collect()}
    root = str(tmp_path / "prof")
    apply = column_profile_ingest_foreach_batch(root, ["k", "v"], 16)
    apply(a, 0)
    apply(b, 1)
    folded = {r.col: (r.n_rows, r.n_nulls, r.n_kept, r.distinct_est)
              for r in read_column_profile(spark, root, 16).collect()}
    assert folded == whole
    assert folded["k"][0] == 400 and folded["k"][1] == 0
    assert folded["v"][1] == 80               # every 5th row null
    # k has 37 distinct (> sketch k=16): estimated; v's null excluded
    assert folded["k"][2] == 16
    # missing path reads empty
    empty = read_column_profile(spark, str(tmp_path / "nope"), 16)
    assert empty.count() == 0


def test_pii_stats_apply_consistency(spark, sf_dir):
    """The census<->apply tie (VERDICT r10 #3, the host_line census<->
    strip standard): doc-for-doc, md5 of the apply stage's rewritten
    text equals the census's scrub_hash, and the apply stage's total
    redaction count equals the sum of the census's per-pattern counts
    — the two stages provably scrub the same text the same way."""
    from flink_examples_spark.queries import registry

    reg = registry()
    stats = {
        r.doc_id: (r.n_email + r.n_phone + r.n_ipv4, r.scrub_hash)
        for r in reg["pii_scrub_stats"].spark_fn(spark, sf_dir).collect()
    }
    apply_rows = reg["pii_scrub_apply"].spark_fn(spark, sf_dir).collect()
    assert len(apply_rows) == len(stats) > 0
    import hashlib

    for r in apply_rows:
        n_total, scrub_hash = stats[r.doc_id]
        assert r.n_redacted == n_total
        assert hashlib.md5(r.scrubbed.encode()).hexdigest() == scrub_hash
    # redactions actually happened (every doc gets a synthesized
    # contact line) and the char delta is consistent with masking
    assert all(r.n_redacted >= 3 for r in apply_rows)
    assert all(r.chars_delta > 0 for r in apply_rows)
