"""PII scrubbing for corpus pipelines: regex redaction + counting as
pure codegen expressions.

Every pattern below is written in the common subset of Java regex
(Spark) and RE2 (DuckDB, Go, Hive) — no backreferences, no lookaround —
so the scrub decision is reproducible across engines and the oracle can
verify it bit-for-bit. All expressions are narrow (regexp_replace /
regexp_count inside the scan's whole-stage codegen): scrubbing 100 TB
is a zero-shuffle map pass.

Patterns are deliberately high-precision/low-recall (production scrub
lists are far larger); the operator surface — ordered multi-pattern
replace with per-pattern counts — is the part that generalizes.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# Ordered: email first (its local part may contain digits/dots that the
# later numeric patterns would otherwise chew on), then phone (dashed
# groups), then bare IPv4 dotted-quads.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", r"\d{3}-\d{3}-\d{4}", "<PHONE>"),
    ("ipv4", r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}", "<IP>"),
)


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def pii_scrub(col: Column | str) -> Column:
    """Redact every PII pattern, applied in declaration order.

    Order matters and is part of the contract: earlier replacements may
    destroy later patterns' matches (an email's dotted domain must not
    survive into the IPv4 pass), so the oracle must apply the same
    sequence.
    """
    out = _c(col)
    for _, regex, token in PII_PATTERNS:
        out = F.regexp_replace(out, regex, token)
    return out


def pii_counts(col: Column | str) -> list[Column]:
    """One ``n_<name>`` count column per pattern, counted on the raw
    text in the same order-sensitive way the scrub consumes it: each
    pattern is counted AFTER the preceding patterns' redactions, so
    counts always equal the number of replacements ``pii_scrub``
    actually performs (an IPv4-looking substring inside an email is an
    email, not an IP)."""
    cols = []
    seen = _c(col)
    for name, regex, token in PII_PATTERNS:
        cols.append(F.regexp_count(seen, F.lit(regex)).alias(f"n_{name}"))
        seen = F.regexp_replace(seen, regex, token)
    return cols
