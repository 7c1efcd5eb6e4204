"""Repetition-based quality signals (Gopher-style) for corpus filtering.

Rae et al. (Gopher, 2021) filter documents whose content is dominated by
repeated fragments — measured as the fraction of tokens in duplicated
n-grams and the share of the most frequent n-gram. Two signals here:

  dup_token_fraction — 1 - |distinct tokens| / |tokens|. Pure array
      codegen inside the scan (array_distinct + size): zero shuffle,
      runs at I/O speed on 100 TB.
  top-bigram share — count of the modal bigram / total bigrams. Needs a
      per-(doc, bigram) count, i.e. one keyed shuffle — but both
      aggregations are map-side combinable and keyed by doc_id, so the
      pass stays linear and skew-free (doc_id is unique).

The thresholds are data-dependent knobs, not constants; callers pick
them per corpus (the registry query documents the ones chosen for the
synthetic fixtures).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from flink_examples_spark.functions.text import char_count_no_spaces, tokens


def dup_token_fraction(tokens_col: Column) -> Column:
    """Fraction of tokens that are repeats of an earlier token —
    1 - distinct/total over an already-tokenized array column.
    NULL-free for non-empty token lists."""
    return 1 - F.size(F.array_distinct(tokens_col)) / F.size(tokens_col)


def repetition_signals(
    df: DataFrame,
    id_col: str,
    text_col: str,
    top_bigram_max: float = 0.06,
    dup_token_max: float = 0.65,
) -> DataFrame:
    """Per-document repetition report:
    ``doc_id, dup_token_frac, top_bigram_frac, verdict``.

    ``verdict`` is ``'repetitive'`` when either signal exceeds its
    threshold, else ``'ok'``. Fractions are rounded to 6 dp (exact for
    the small-integer ratios involved) so results hash-compare across
    engines. Documents with fewer than 2 tokens have no bigrams and are
    excluded from the report (documented contract, mirrored by the
    registry oracle) — join back to the corpus to distinguish
    "evaluated ok" from "too short to evaluate".

    Plan shape: one explode of bigrams, a (doc_id, bigram) hash
    aggregate, then a doc_id hash aggregate — two shuffles total, both
    partial-aggregated map-side. The dup-token signal rides along as a
    first() over the already-grouped doc so the text is scanned once.
    """
    # No repartition here — small single-file inputs should be fanned
    # out at the call site (queries._fan_out) where input size is
    # known; the operator itself stays scan-parallelism-neutral.
    base = df.select(
        F.col(id_col).alias("doc_id"),
        tokens(text_col).alias("t"),
    ).filter(F.size("t") >= 2)
    dup = dup_token_fraction(F.col("t")).alias("dup_f")
    bigram = F.expr("transform(sequence(0, size(t) - 2), i -> t[i] || ' ' || t[i + 1])")
    counts = (
        base.select("doc_id", dup, F.explode(bigram).alias("bg"))
        .groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("c"), F.first("dup_f").alias("dup_f"))
    )
    per_doc = counts.groupBy("doc_id").agg(
        F.first("dup_f").alias("dup_f"),
        (F.max("c") / F.sum("c")).alias("top_f"),
    )
    return per_doc.select(
        "doc_id",
        F.round("dup_f", 6).alias("dup_token_frac"),
        F.round("top_f", 6).alias("top_bigram_frac"),
        F.when(
            (F.col("top_f") > top_bigram_max) | (F.col("dup_f") > dup_token_max),
            "repetitive",
        )
        .otherwise("ok")
        .alias("verdict"),
    )


def collapse_token_runs(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Elongation cleanup REWRITE: collapse runs of consecutive
    identical tokens to a single copy ("the the the end" -> "the end")
    — the fix for stutter/boilerplate elongation that
    :func:`repetition_signals` only measures. Case-normalized tokens
    (the tokens() contract), survivors rejoined with single spaces.

    Output: ``<id_col>, text, n_tokens, n_collapsed``. NULL text passes
    through as NULL (no silent drops).

    Engine notes: regex backreferences (``(\\w+)( \\1)+``) are the
    textbook spelling but RE2 — DuckDB's engine, and the repo's
    lowest-common-denominator regex contract (functions/pii.py) — has
    none; the indexed higher-order filter (keep token i when i=0 or it
    differs from token i-1) is pure whole-stage codegen on both
    engines and shuffles nothing.
    """
    from flink_examples_spark.functions.text import tokens

    t = df.select(
        F.col(id_col),
        F.col(text_col).isNull().alias("_null_text"),
        tokens(text_col).alias("_t"),
    ).withColumn(
        "_kept", F.expr("filter(_t, (x, i) -> i = 0 OR x != _t[i - 1])")
    )
    return t.select(
        id_col,
        F.when(F.col("_null_text"), F.lit(None))
        .otherwise(F.array_join("_kept", " ")).alias("text"),
        F.when(F.col("_null_text"), F.lit(None))
        .otherwise(F.size("_t")).alias("n_tokens"),
        F.when(F.col("_null_text"), F.lit(None))
        .otherwise((F.size("_t") - F.size("_kept")).cast("long"))
        .alias("n_collapsed"),
    )


def gopher_rules(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_tokens: int = 50,
    min_stopword_hits: int = 2,
    stopwords: tuple[str, ...] = (
        "the", "be", "to", "of", "and", "that", "have", "with",
    ),
) -> DataFrame:
    """The Gopher document-quality rule set (Rae et al. 2021, Table A1)
    as ONE codegen expression — per-rule boolean flags plus the overall
    keep verdict, so a census over any corpus shows which rule rejects
    what (the operational need: you tune rules by their marginal kill
    rate, not by the final verdict alone).

    Rules implemented (the non-repetition subset — duplicate-fragment
    rules live in [[repetition_signals]]):

      word_count    — token count in [min_tokens, 100000]
      mean_word_len — mean word length in [3, 10] chars
      symbol_ratio  — (# of '#' chars + '...' occurrences) / tokens
                      at most 0.1
      stopword_hits — contains >= min_stopword_hits distinct words
                      from ``stopwords`` (default: Gopher's 8 —
                      the/be/to/of/and/that/have/with; corpora whose
                      register lacks them tune the list/threshold, the
                      knob Gopher itself exposes per-language)

    Output: ``<id_col>, n_tokens, mean_word_len, symbol_ratio,
    word_count_ok, mean_len_ok, symbol_ok, stopword_ok, keep`` —
    ratios rounded to 6 dp and flags as 0/1 longs for engine parity
    (booleans hash differently across engines). Zero-token documents
    have no ratio denominators and are excluded from the output
    (documented contract, mirrored by the oracle) — they'd fail the
    word-count rule anyway.

    Pure narrow codegen inside the scan: zero shuffle at any corpus
    size; the census aggregation downstream is the only exchange.
    """
    toks = tokens(text_col)
    n = F.size(toks)
    chars = char_count_no_spaces(text_col)
    txt = F.col(text_col) if isinstance(text_col, str) else text_col
    n_hash = F.length(txt) - F.length(F.replace(txt, F.lit("#"), F.lit("")))
    n_ellipsis = (
        F.length(txt) - F.length(F.replace(txt, F.lit("..."), F.lit("")))
    ) / 3
    hits = F.size(
        F.array_intersect(
            F.array_distinct(toks),
            F.array(*[F.lit(s) for s in stopwords]),
        )
    )
    mean_len = chars / n
    sym = (n_hash + n_ellipsis) / n
    out = df.select(
        F.col(id_col).alias("doc_id"),
        n.alias("n_tokens"),
        F.round(mean_len, 6).alias("mean_word_len"),
        F.round(sym, 6).alias("symbol_ratio"),
        ((n >= min_tokens) & (n <= 100_000))
        .cast("long").alias("word_count_ok"),
        ((mean_len >= 3.0) & (mean_len <= 10.0))
        .cast("long").alias("mean_len_ok"),
        (sym <= 0.1).cast("long").alias("symbol_ok"),
        (hits >= min_stopword_hits).cast("long").alias("stopword_ok"),
    ).filter(F.col("n_tokens") > 0)
    return out.select(
        F.col("doc_id").alias(id_col),
        "n_tokens",
        "mean_word_len",
        "symbol_ratio",
        "word_count_ok",
        "mean_len_ok",
        "symbol_ok",
        "stopword_ok",
        (
            F.col("word_count_ok")
            * F.col("mean_len_ok")
            * F.col("symbol_ok")
            * F.col("stopword_ok")
        ).cast("long").alias("keep"),
    )


# Placeholder spam/adult marker list (the C4 "bad words" stage shape):
# production corpora swap in their full blocklist — the operator and
# oracle both read THIS tuple, so the census and its verification can
# never disagree on the list.
BLOCKLIST_DEFAULT: tuple[str, ...] = (
    "viagra", "casino", "jackpot", "lottery", "porn", "xxx",
    "betting", "escort",
)


def blocklist_flags(
    df: DataFrame,
    id_col: str,
    text_col: str,
    terms: tuple[str, ...] = BLOCKLIST_DEFAULT,
    max_ratio: float = 0.01,
) -> DataFrame:
    """Blocklist safety census (the C4-style "bad words" filter stage):
    per document, how many token OCCURRENCES match the blocklist
    (multiplicity counts — one slur repeated 500 times must scare the
    ratio, which distinct-intersect counting would hide), the flagged
    ratio, and the keep verdict ``is_clean`` (ratio <= ``max_ratio``;
    spam pages are dense in markers, a single incidental hit on a long
    document shouldn't kill it).

    Output: ``<id_col>, n_tokens, n_flagged, flag_ratio, is_clean`` —
    ratio rounded to 6 dp, flags as 0/1 longs (gopher_rules parity
    conventions). Zero-token documents are excluded (no denominator),
    same documented contract as gopher_rules.

    Pure narrow codegen inside the scan — zero shuffle at any corpus
    size. Terms are matched as whole lowercase tokens; substring or
    obfuscation matching is a different (regex) stage.
    """
    if not terms:
        raise ValueError("blocklist_flags: empty blocklist")
    toks = tokens(text_col)
    # Column.isin over literals, NOT a spliced SQL string: Spark SQL
    # literals interpret backslash escapes, so a term like 'a\tb' in a
    # spliced expr silently never matches (and diverges from DuckDB's
    # literal semantics) — the stopword_ratio pattern avoids hand-rolled
    # escaping entirely
    flagged = F.size(F.filter(F.col("__toks"), lambda t: t.isin(*terms)))
    ratio = F.col("n_flagged") / F.col("n_tokens")
    return (
        df.select(F.col(id_col).alias("__id"), toks.alias("__toks"))
        .filter(F.size("__toks") > 0)
        .select(
            "__id",
            F.size("__toks").alias("n_tokens"),
            flagged.alias("n_flagged"),
        )
        .select(
            F.col("__id").alias(id_col),
            "n_tokens",
            "n_flagged",
            F.round(ratio, 6).alias("flag_ratio"),
            (ratio <= max_ratio).cast("long").alias("is_clean"),
        )
    )
