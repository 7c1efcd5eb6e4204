"""Text-analysis column expressions for large-scale corpus pipelines.

Generalizes the reference's tokenize/normalize idioms (WordCount.java:80-84
lowercase+split, TwitterJson.java:87-95) into the text operations a
training-data pipeline needs: token counting, quality scoring, language-ID
heuristics, and document fingerprinting. Everything here is a pure
built-in column expression — JVM-side, whole-stage-codegen'd, no Python
in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny embedded stopword list used by the ratio heuristics. Kept as an
# inline expression (not a UDF/broadcast) so the filter stays codegen'd.
EN_STOPWORDS = ("the", "a", "of", "to", "and", "in", "is", "it")


def tokens(text: Column | str) -> Column:
    """Whitespace tokens, empties dropped (WordCount.java:80-84 contract)."""
    col = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(F.lower(col), " "), lambda t: t != "")


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


# GPT-2-family pretokenizer, reduced to the RE2-compatible subset both
# Spark (Java regex) and DuckDB (RE2) evaluate identically: contraction
# suffixes, space-prefixed letter runs, space-prefixed digit runs,
# space-prefixed punctuation runs, whitespace runs. The original's
# trailing-whitespace lookahead ((?!\S)) is dropped — RE2 has no
# lookahead — which only changes how interior whitespace RUNS split,
# not the total count's usefulness as a sequence-length estimate.
BPE_SPLIT_REGEX = r"'(?:s|t|re|ve|m|ll|d)| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+|\s+"


def bpe_tokens(text: Column | str) -> Column:
    """BPE-style pretokens of the RAW text (no lowercasing — case is
    signal to a real tokenizer). Cross-engine parity is pinned by
    tests and the ``bpe_token_stats`` oracle."""
    col = F.col(text) if isinstance(text, str) else text
    return F.regexp_extract_all(col, F.lit(BPE_SPLIT_REGEX), 0)


def bpe_token_count(text: Column | str) -> Column:
    """Sequence-length estimate a training pipeline budgets with: the
    BPE pretoken count LOWER-bounds the real subword count (every
    pretoken encodes to >= 1 subword) and tracks it far better than
    whitespace words on punctuation/number-heavy text; budget with a
    safety factor, or use ``tokenizer.bpe_encode_stats`` for the exact
    trained-merge count."""
    return F.size(bpe_tokens(text))


def char_count_no_spaces(text: Column | str) -> Column:
    col = F.col(text) if isinstance(text, str) else text
    return F.length(F.replace(col, F.lit(" "), F.lit("")))


def stopword_ratio(text: Column | str) -> Column:
    toks = tokens(text)
    stops = F.filter(toks, lambda t: t.isin(*EN_STOPWORDS))
    # zero-token docs: ratio 0.0, not NULL — a NULL ratio satisfies
    # NEITHER side of a quality predicate, so empty docs would silently
    # escape both keep- and drop-filters built on this
    return F.when(F.size(toks) == 0, F.lit(0.0)).otherwise(
        F.size(stops) / F.size(toks)
    )


def avg_token_length(text: Column | str) -> Column:
    return char_count_no_spaces(text) / token_count(text)


def quality_score(text: Column | str) -> Column:
    """Length-saturating quality heuristic in [0, 1].

    ``min(1, n_tokens/50) * (1 - stopword_ratio)`` — long-enough docs with
    low boilerplate score high. Deliberately simple integer/double
    arithmetic so the SQL-oracle formulation is bit-identical.
    """
    n = token_count(text)
    return F.least(F.lit(1.0), n / F.lit(50.0)) * (1.0 - stopword_ratio(text))


def lang_id_en(text: Column | str) -> Column:
    """N-gram-free language ID: English iff stopword density clears the bar.

    A real pipeline would use char-n-gram profiles per language; the
    engine surface (a codegen'd expression producing a label column) is
    the same, so the heuristic is intentionally minimal and
    deterministic.
    """
    return F.when(stopword_ratio(text) > 0.03, F.lit("en")).otherwise("other")


def fingerprint_md5(text: Column | str) -> Column:
    """Canonical document fingerprint: md5 over the normalized text.

    Normalization: lowercase + trim. Used as the exact-dedup key; md5 is
    available in every SQL engine, so the oracle matches byte-for-byte.
    """
    col = F.col(text) if isinstance(text, str) else text
    return F.md5(F.trim(F.lower(col)))


def winnow_fingerprints(
    text: Column | str, k: int = 5, window: int = 4
) -> Column:
    """Winnowing document fingerprints (the MOSS scheme): hash every
    character k-gram, then keep the minimum hash of each sliding window
    of ``window`` consecutive k-gram hashes; the distinct minima are the
    document's fingerprint set.

    Guarantees: any shared substring of length >= k + window - 1 between
    two documents yields at least one shared fingerprint, while storage
    is ~1/window of the full k-gram set — the local-similarity
    complement to [[fingerprint_md5]]'s whole-document key.

    Implemented entirely as nested codegen'd array expressions (no
    Python, no shuffle): ``transform(sequence) -> md5-hash -> windowed
    array_min -> array_distinct``. Engine-portable: the per-gram hash is
    the same ``('0x'||substr(md5(gram),1,15))::BIGINT`` the SQL oracles
    use. Returns ``array<long>`` (empty for docs shorter than
    ``k + window - 1``).
    """
    if not isinstance(text, str):
        raise TypeError("winnow_fingerprints needs a column NAME (the "
                        "expression is built as SQL text)")
    s = f"`{text}`"
    # k-gram hashes: h[i] = hash60(substr(text, i, k)), 1-based. The
    # empty-input guards must be explicit ifs: sequence(1, 0) runs
    # DESCENDING ([1, 0]) rather than producing an empty array.
    grams = (
        f"if(length({s}) < {k}, array(), "
        f"transform(sequence(1, length({s}) - {k - 1}), "
        f"i -> cast(conv(substring(md5(substring({s}, i, {k})), 1, 15), "
        "16, 10) as bigint)))"
    )
    # bind the gram array once via a single-element transform (SQL has
    # no let-expression; this stops the subtree being evaluated twice)
    mins = (
        f"transform(array({grams}), g -> "
        f"if(size(g) < {window}, array(), "
        f"transform(sequence(1, size(g) - {window - 1}), "
        f"j -> array_min(slice(g, j, {window})))))[0]"
    )
    return F.array_distinct(F.expr(mins))


def hash60(col: Column) -> Column:
    """Deterministic 60-bit integer hash from md5 hex (engine-portable).

    Takes the first 15 hex chars of md5 → fits a signed 64-bit int, so
    DuckDB (``('0x'||substr(md5(x),1,15))::BIGINT``) computes the same
    value. Used by MinHash/SimHash where cross-engine determinism
    matters more than hash speed.
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")
