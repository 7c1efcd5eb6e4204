"""BPE tokenizer training + distributed corpus encoding.

The production shape for tokenizer training at 100 TB: train the merge
table on a BOUNDED word-frequency sample (the frequency table, not the
corpus, bounds driver memory — Zipf makes a 10k-word cap cover ~all
occurrences), then broadcast the merges and encode the corpus in one
Arrow-batched pass. Pretokenization happens in the JVM everywhere
(``functions.text.bpe_tokens``, the RE2-safe GPT-2-family regex) so the
trainer and encoder can never disagree with the SQL-side pretoken
counts — Python regex lacks ``\\p{L}`` and is kept out of it entirely.

Merging is GPT-2-style: per step, the globally most frequent adjacent
symbol pair (ties broken lexicographically — deterministic, no dict
order dependence) is merged at ALL its occurrences, scanning
left-to-right.
"""

from __future__ import annotations

from collections import Counter
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_examples_spark.functions.text import bpe_tokens


def _merge_word(parts: list[str], pair: tuple[str, str]) -> list[str]:
    """Merge every left-to-right occurrence of ``pair`` in ``parts``."""
    out, i = [], 0
    while i < len(parts):
        if (
            i + 1 < len(parts)
            and parts[i] == pair[0]
            and parts[i + 1] == pair[1]
        ):
            out.append(parts[i] + parts[i + 1])
            i += 2
        else:
            out.append(parts[i])
            i += 1
    return out


def train_bpe_merges(
    docs: DataFrame,
    n_merges: int = 50,
) -> list[tuple[str, str]]:
    """Train an ordered BPE merge list on the corpus word-frequency
    table (JVM pretokenize → explode → count → top-10,000 words by
    frequency, tie-broken by word so the sample is deterministic).
    Driver cost is O(10,000 · n_merges), independent of corpus size.
    """
    wc = (
        docs.select(F.explode(bpe_tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("w"))
        .limit(10_000)
        .collect()
    )
    vocab: dict[tuple[str, ...], int] = {
        tuple(r["w"]): r["n"] for r in wc if len(r["w"]) > 0
    }
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: Counter = Counter()
        for word, freq in vocab.items():
            for i in range(len(word) - 1):
                pairs[(word[i], word[i + 1])] += freq
        if not pairs:
            break
        # most frequent pair; lexicographic tie-break for determinism
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        vocab = {
            tuple(_merge_word(list(w), best)): f for w, f in vocab.items()
        }
    return merges


def _encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Apply trained merges to one word: repeatedly merge the
    earliest-learned (lowest-rank) pair present until none applies —
    the standard BPE inference loop."""
    parts = list(word)
    while len(parts) > 1:
        best_rank, best_pair = None, None
        for i in range(len(parts) - 1):
            r = ranks.get((parts[i], parts[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_pair = r, (parts[i], parts[i + 1])
        if best_pair is None:
            break
        parts = _merge_word(parts, best_pair)
    return parts


def bpe_encode_stats(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Encode the corpus with a trained merge table and emit per-doc
    accounting: ``doc_id, [keep_cols...], n_pretokens, n_bpe_tokens``.

    Pretokens are split in the JVM; the merge table ships in the
    closure; encoding is one narrow ``mapInPandas`` pass with a
    per-batch memo on distinct pretokens (Zipf: a batch of docs shares
    almost all its words), so per-batch cost is ~distinct-words, not
    total words. No shuffle at any corpus size.

    The output schema carries the INPUT types through: the id and every
    keep_col keep their ``docs`` schema type (string ids, numeric
    metadata — not hard-coded). NULL-text docs survive with ZERO counts
    (the row is visible, pinned by tests) — note this deliberately
    differs from ``token_count``'s NULL-propagating column semantics:
    an accounting pass that must treat NULL as "uncounted" rather than
    "zero-length" should filter on ``text IS NOT NULL`` first.
    """
    keep_cols = keep_cols or []
    ranks = {p: i for i, p in enumerate(merges)}

    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        memo: dict[str, int] = {}

        def n_tokens(w: str) -> int:
            if w not in memo:
                memo[w] = len(_encode_word(w, ranks))
            return memo[w]

        for pdf in batches:
            if pdf.empty:
                continue
            pre = pdf["_pre"].map(
                lambda ws: list(ws) if ws is not None else []
            )
            yield pd.DataFrame(
                {
                    "_id": pdf["_id"].to_numpy(),
                    **{c: pdf[c].to_numpy() for c in keep_cols},
                    "n_pretokens": pre.map(len).to_numpy(),
                    "n_bpe_tokens": pre.map(
                        lambda ws: sum(n_tokens(w) for w in ws)
                    ).to_numpy(),
                }
            )

    fields = {f.name: f.dataType.simpleString() for f in docs.schema.fields}
    keep_schema = "".join(f", {c} {fields[c]}" for c in keep_cols)
    out = docs.select(
        F.col("doc_id").alias("_id"),
        *keep_cols,
        bpe_tokens(F.col("text")).alias("_pre"),
    ).mapInPandas(
        enc,
        f"_id {fields['doc_id']}{keep_schema}, "
        "n_pretokens long, n_bpe_tokens long",
    )
    return out.withColumnRenamed("_id", "doc_id")


# ---------------------------------------------------------------------------
# Unigram-LM tokenizer (SentencePiece family, Kudo 2018) — the EM-trained
# complement to the BPE merge trainer above. Same driver-cost contract:
# training runs on the bounded word-frequency sample (corpus-size-
# independent), corpus encoding is one Arrow pass with the broadcast vocab.
# ---------------------------------------------------------------------------

_UNK_LOGP = -100.0  # floor log-prob for out-of-vocab single chars


def _viterbi_segment(
    word: str, logp: dict[str, float], max_len: int
) -> list[str]:
    """Max-log-prob segmentation of ``word`` under piece log-probs.
    Ties break toward FEWER pieces, then the lexicographically first
    piece sequence — fully deterministic. Unknown single chars get the
    _UNK_LOGP floor so any word is always segmentable."""
    n = len(word)
    # best[i]: (score, n_pieces, pieces_tuple) for word[:i]
    best: list[tuple[float, int, tuple[str, ...]]] = [
        (0.0, 0, ())
    ] + [(-float("inf"), 0, ())] * n
    for i in range(1, n + 1):
        for j in range(max(0, i - max_len), i):
            piece = word[j:i]
            lp = logp.get(piece)
            if lp is None:
                if i - j > 1:
                    continue
                lp = _UNK_LOGP
            s0, k0, p0 = best[j]
            cand = (s0 + lp, k0 + 1, p0 + (piece,))
            cur = best[i]
            if (cand[0] > cur[0]
                    or (cand[0] == cur[0]
                        and (cand[1] < cur[1]
                             or (cand[1] == cur[1]
                                 and cand[2] < cur[2])))):
                best[i] = cand
    return list(best[n][2])


def train_unigram_vocab(
    docs: DataFrame,
    vocab_size: int = 200,
    em_iters: int = 3,
) -> dict[str, float]:
    """Train a unigram-LM piece vocabulary (piece -> log-prob).

    Simplified Kudo (2018) loop on the SAME bounded word-frequency
    sample the BPE trainer uses (driver cost independent of corpus
    size): seed with all substrings of length ≤ 6 of the sampled
    words scored by count×length (top 4×vocab_size) plus every single
    character (so segmentation is total); then EM — E-step
    Viterbi-segments each sampled word under current log-probs
    (frequency-weighted hard counts, the Viterbi-EM variant), M-step
    re-normalizes piece probabilities; between iterations the
    lowest-probability quarter of multi-char pieces is pruned
    until the vocabulary fits ``vocab_size``. Deterministic
    throughout: sample tie-broken by word, seed scoring tie-broken
    lexicographically, Viterbi ties documented in
    :func:`_viterbi_segment`.
    """
    wc = (
        docs.select(F.explode(bpe_tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("w"))
        .limit(10_000)
        .collect()
    )
    words = [(r["w"], int(r["n"])) for r in wc if len(r["w"]) > 0]
    if not words:
        raise ValueError("train_unigram_vocab: empty corpus sample")
    # seed: substrings scored by count * length (longer pieces that
    # recur are the valuable ones), all single chars always kept
    sub_scores: Counter = Counter()
    chars: set[str] = set()
    for w, n in words:
        chars.update(w)
        for length in range(2, 7):
            for i in range(len(w) - length + 1):
                sub_scores[w[i:i + length]] += n * length
    seed = sorted(
        sub_scores.items(), key=lambda kv: (-kv[1], kv[0])
    )[: 4 * vocab_size]
    import math

    total0 = sum(s for _, s in seed) + len(chars) or 1
    logp = {p: math.log(max(s, 1) / total0) for p, s in seed}
    for c in sorted(chars):
        logp.setdefault(c, math.log(1.0 / total0))
    for _ in range(em_iters):
        # E-step: frequency-weighted Viterbi counts
        counts: Counter = Counter()
        for w, n in words:
            for piece in _viterbi_segment(w, logp, 6):
                counts[piece] += n
        # M-step: renormalize over OBSERVED pieces; unused multi-char
        # pieces drop out, unused single chars keep a floor
        total = sum(counts.values()) or 1
        new_logp = {
            p: math.log(c / total) for p, c in counts.items()
        }
        for c in sorted(chars):
            new_logp.setdefault(c, _UNK_LOGP)
        logp = new_logp
        # prune: lowest-prob multi-char pieces, never single chars
        multi = sorted(
            ((p, lp) for p, lp in logp.items() if len(p) > 1),
            key=lambda kv: (kv[1], kv[0]),
        )
        n_over = len(multi) + len(chars) - vocab_size
        if n_over > 0:
            drop = {p for p, _ in
                    multi[: max(n_over, int(len(multi) * 0.25))]}
            logp = {p: lp for p, lp in logp.items() if p not in drop}
    return logp


def unigram_encode_stats(
    docs: DataFrame,
    vocab: dict[str, float],
    group_col: str = "source",
) -> DataFrame:
    """Segment the WHOLE corpus under a trained unigram vocab and
    report per-group totals: docs, words, pieces, and integer-ppm
    fertility (pieces per word × 1e6, div — order-free). One
    ``mapInPandas`` pass with the broadcast vocab; the same
    Arrow-batched shape as ``bpe_encode_stats``."""

    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        memo: dict[str, int] = {}  # Zipf: batches share most pretokens
        for pdf in batches:
            rows = []
            for g, pre in zip(pdf["_g"], pdf["_pre"]):
                if pre is None:
                    continue
                n_pieces = 0
                for w in pre:
                    c = memo.get(w)
                    if c is None:
                        c = len(_viterbi_segment(w, vocab, 6))
                        memo[w] = c
                    n_pieces += c
                rows.append((g, 1, len(pre), n_pieces))
            if rows:
                yield pd.DataFrame(
                    rows, columns=["g", "d", "w", "p"]
                )

    gtype = dict(
        (f.name, f.dataType.simpleString()) for f in docs.schema.fields
    )[group_col]
    return (
        docs.select(
            F.col(group_col).alias("_g"),
            bpe_tokens(F.col("text")).alias("_pre"),
        )
        .mapInPandas(enc, f"g {gtype}, d long, w long, p long")
        .groupBy(F.col("g").alias(group_col))
        .agg(
            F.sum("d").alias("n_docs"),
            F.sum("w").alias("n_words"),
            F.sum("p").alias("n_pieces"),
        )
        .withColumn(
            "fertility_ppm",
            F.expr("(n_pieces * 1000000) div n_words"),
        )
    )
