"""CEP / MATCH_RECOGNIZE library operator (SURVEY.md §2.10, §7.4.1).

The reference exposes two pattern surfaces with identical semantics:
  - the Pattern API — cep/FlinkCEP.java:48-97 (begin/where/subtype,
    ``next`` strict contiguity, ``followedByAny`` relaxed-all,
    ``within`` timeouts, flatSelect output),
  - SQL MATCH_RECOGNIZE — flink-sql/sql/dml/CEP.md:7-33 (PARTITION BY /
    ORDER BY / MEASURES / PATTERN ``A B+ C`` / DEFINE with
    ``LAST(var.field, 1)`` navigation / AFTER MATCH SKIP).

Spark has no Catalyst stage for either, so this module supplies the
missing operator: a small pattern AST compiled to a backtracking NFA,
executed per key inside ``applyInPandas``. Each key's rows are sorted by
the ORDER BY columns and scanned once per start candidate; state never
leaves the executor, and keys are processed independently — the operator
scales with the keyed shuffle, exactly like any groupBy. The streaming
variant (NFA state in GroupState, event-time timeouts) lives in
streaming/stateful.py.

Predicates receive ``(row, ctx)`` where ``ctx`` gives MATCH_RECOGNIZE
navigation: ``ctx.last()`` (previous row consumed by the match — i.e.
``LAST(x, 1)``), ``ctx.first(var)`` / ``ctx.rows(var)`` per variable.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from dataclasses import dataclass, field

import pandas as pd

from pyspark.sql import DataFrame

from flink_examples_spark.operators.util import schema_col_names


@dataclass(frozen=True)
class Pat:
    """One pattern variable.

    quantifier: 'one' | 'plus' (B+ — one or more, greedy). For the
    general quantifiers (``B*``, ``B?``, ``B{n}``, ``B{n,m}``,
    ``B{n,}``) set ``min_times``/``max_times`` explicitly
    (``max_times=None`` = unbounded); they override ``quantifier``.
    contiguity (vs the previous consumed row, FIRST repetition only):
      'strict'     — ``next``: must match the immediately following row
      'relaxed'    — ``followedBy``: skip non-matching rows, take first hit
      'relaxedAll' — ``followedByAny``: branch on EVERY later matching row
    internal_contiguity (between repetitions of a LOOPING element —
    the 2nd row of B+ onwards; same three values): default 'strict'
    (repetitions strictly adjacent, the SQL MATCH_RECOGNIZE row-
    sequence semantics and this repo's historical PLUS behavior).
    Flink's Pattern API defaults looping patterns to RELAXED internal
    contiguity with ``consecutive()`` as the strict opt-in
    (FlinkCEP docs, Pattern#oneOrMore) — pass
    ``internal_contiguity='relaxed'`` for Flink-default looping or
    'relaxedAll' for ``allowCombinations()``; the default-flip
    divergence is documented as D18 in DIVERGENCES.md.
    """

    name: str
    where: Callable[[pd.Series, "MatchCtx"], bool] | None = None
    quantifier: str = "one"
    contiguity: str = "strict"
    min_times: int | None = None
    max_times: int | None = None
    internal_contiguity: str = "strict"
    # reluctant (lazy) quantifier: prefer the FEWEST repetitions that
    # let the rest of the pattern complete (``B+?``/``B*?``/``B{n,m}?``
    # — Flink MATCH_RECOGNIZE semantics). Pure branch-order flip in the
    # DFS; identical match SET in all_matches mode.
    reluctant: bool = False


def _bounds(p: Pat) -> tuple[int, int | None]:
    """(min, max) repetition bounds; max None = unbounded."""
    if p.min_times is not None:
        return p.min_times, p.max_times
    return (1, None) if p.quantifier == "plus" else (1, 1)


@dataclass
class MatchCtx:
    """Navigation over rows already consumed by the in-progress match.

    Rows are plain dicts (column -> value) — converted once per key from
    Arrow, so predicate evaluation never pays pandas ``.iloc`` row
    materialization in the NFA inner loop.
    """

    _rows: list[tuple[str, int]] = field(default_factory=list)
    _data: list[dict] | None = None

    def last(self, n: int = 1) -> dict | None:
        """LAST(x, n): the n-th previous row consumed by the match."""
        if len(self._rows) < n:
            return None
        return self._data[self._rows[-n][1]]

    def first(self, var: str) -> dict | None:
        for name, idx in self._rows:
            if name == var:
                return self._data[idx]
        return None

    def rows(self, var: str) -> list[dict]:
        return [self._data[i] for name, i in self._rows if name == var]


def _find_matches(
    records: list[dict],
    pattern: Sequence[Pat],
    start: int,
    within_check: Callable[[int, int], bool] | None,
    all_matches: bool,
    out: list[list[tuple[str, int]]],
) -> None:
    """Backtracking DFS from row ``start``; appends complete matches
    (lists of (var, row_idx)) to ``out``. In sequential mode
    (``all_matches=False``) stops after the first complete match —
    branch order makes PLUS greedy (longest repetition preferred)."""
    n = len(records)

    def pred_ok(elem: Pat, idx: int, consumed: list[tuple[str, int]]) -> bool:
        if within_check is not None and consumed and not within_check(consumed[0][1], idx):
            return False
        if elem.where is None:
            return True
        ctx = MatchCtx(consumed, records)
        return bool(elem.where(records[idx], ctx))

    def dfs(elem_i: int, next_row: int, consumed: list[tuple[str, int]], reps: int) -> bool:
        """``reps`` = rows the CURRENT element has consumed so far.
        Greedy: each frame first tries to consume one more row for the
        current element (if below its max), then — once the element has
        met its min — moves on. One (consume|move-on) decision per
        frame, so every distinct variable assignment is emitted exactly
        once in all_matches mode."""
        if elem_i == len(pattern):
            out.append(list(consumed))
            return not all_matches
        elem = pattern[elem_i]
        lo, hi = _bounds(elem)
        # candidate rows where this element could consume next: the
        # first repetition follows the element's BETWEEN-elements
        # contiguity, later repetitions its INTERNAL contiguity
        # (strict by default; 'relaxed' = Flink's looping default,
        # ADVICE r4 / D18)
        eff = elem.internal_contiguity if reps > 0 else elem.contiguity
        if eff == "strict":
            candidates = [next_row] if next_row < n else []
            scan_until_hit = False
        elif eff == "relaxed":
            candidates = range(next_row, n)
            scan_until_hit = True
        else:  # relaxedAll
            candidates = range(next_row, n)
            scan_until_hit = False

        # reluctant: the move-on branch is tried FIRST once the minimum
        # is met — the shortest repetition that lets the rest of the
        # pattern complete wins (Flink's lazy quantifier semantics);
        # greedy keeps move-on as the fallback after consuming
        if elem.reluctant and reps >= lo:
            if dfs(elem_i + 1, next_row, consumed, 0):
                return True
        if hi is None or reps < hi:
            for idx in candidates:
                if not pred_ok(elem, idx, consumed):
                    if eff == "strict":
                        break
                    continue
                consumed.append((elem.name, idx))
                if dfs(elem_i, idx + 1, consumed, reps + 1):
                    return True
                consumed.pop()
                if scan_until_hit:
                    break  # relaxed: only the FIRST later hit continues
        # move on once the element has met its minimum (covers B* / B?
        # consuming nothing at all when lo == 0)
        if not elem.reluctant and reps >= lo:
            return dfs(elem_i + 1, next_row, consumed, 0)
        return False

    dfs(0, start, [], 0)


def _live_partials(
    records: list[dict],
    pattern: Sequence[Pat],
    start: int,
    within_check: Callable[[int, int], bool] | None,
    cap: int = 64,
) -> list[list[tuple[str, int]]]:
    """EVERY live partial match from ``start``, greedy-first — the set
    the reference's TimedOutPartialMatchHandler sees when the window
    expires (CEPTimeout.java:72-103): Flink's NFA keeps one computation
    per branch (loop-take vs proceed-take when a row satisfies both the
    looping element and its successor; take-and-ignore for relaxedAll),
    and times out EACH live computation individually.

    Event-driven semantics, per computation (head element ``elem_i``
    with ``reps`` rows consumed, waiting at row ``next_row``):

    - TAKE: the arriving row may extend the head (below its max) or,
      once the head's min is met, any element of the epsilon PROCEED
      chain — each take branches a successor computation. A chain
      element whose effective contiguity is strict can only take the
      strictly-adjacent row.
    - IGNORE: a relaxed head survives rows that fail its predicate
      (``followedBy`` skips non-matches; the first hit ends the wait);
      a relaxedAll head survives every row (``followedByAny`` branches
      on each hit AND keeps waiting — that perpetual-ignore branch
      itself times out). A strict head has no ignore: an in-horizon row
      that fires no transition KILLS the computation (death, not
      timeout — Flink emits nothing for it).
    - TIMEOUT: a computation whose next row is past the ``within``
      horizon of its anchor (or past end-of-input, the batch final
      watermark) emits its consumed rows.

    All returned partials share one anchor row — the first row any
    take fired on (every event is its own start-state computation in
    Flink, so later anchors belong to later scan positions; the caller
    advances past the shared anchor and re-enumerates there, keeping
    the sweep duplicate-free). ``cap`` bounds the branch enumeration
    (relaxedAll loops grow it combinatorially); greedy-first order
    means the cap sheds the shortest, least-informative branches last.
    Returns [] when nothing anchors (no partial to time out)."""
    n = len(records)
    out: list[list[tuple[str, int]]] = []
    seen: set[tuple[tuple[str, int], ...]] = set()

    def pred_ok(elem: Pat, idx: int, consumed: list[tuple[str, int]]) -> bool:
        if elem.where is None:
            return True
        return bool(elem.where(records[idx], MatchCtx(consumed, records)))

    def in_horizon(consumed: list[tuple[str, int]], idx: int) -> bool:
        if within_check is None or not consumed:
            return True
        return within_check(consumed[0][1], idx)

    def emit(consumed: list[tuple[str, int]]) -> None:
        key = tuple(consumed)
        if consumed and key not in seen:
            seen.add(key)
            out.append(list(consumed))

    def dfs(elem_i: int, reps: int, next_row: int,
            consumed: list[tuple[str, int]]) -> None:
        if len(out) >= cap:
            return
        # epsilon PROCEED chain: every element reachable without
        # consuming a row. Reaching past the LAST element would be an
        # accepting state — a complete match, which the caller already
        # ruled out — so the chain stops before it.
        chain: list[tuple[int, int]] = []
        j, rj = elem_i, reps
        while True:
            chain.append((j, rj))
            lo_j, _ = _bounds(pattern[j])
            if rj >= lo_j and j + 1 < len(pattern):
                j, rj = j + 1, 0
                continue
            break
        # The computation RESIDES at the first chain element that can
        # still take (a maxed-out 'one'/'{n}' element hands the state to
        # its successor the moment it completes — Flink's NFA has no
        # residual state for it); the resident's effective contiguity
        # governs ignore-survival. Elements before the resident are
        # maxed; later chain elements only contribute branch takes.
        res_j, res_rj = elem_i, reps
        for cj, crj in chain:
            _, hi_j = _bounds(pattern[cj])
            if hi_j is None or crj < hi_j:
                res_j, res_rj = cj, crj
                break
        res = pattern[res_j]
        eff_h = res.internal_contiguity if res_rj > 0 else res.contiguity
        base = next_row  # the strictly-adjacent row for this state
        r = next_row
        while True:
            if r >= n or not in_horizon(consumed, r):
                emit(consumed)  # blocked by horizon/end — times out
                return
            res_hit = False
            took = False
            for cj, crj in chain:
                elem_j = pattern[cj]
                lo_j, hi_j = _bounds(elem_j)
                if hi_j is not None and crj >= hi_j:
                    continue
                eff_j = (elem_j.internal_contiguity if crj > 0
                         else elem_j.contiguity)
                if eff_j == "strict" and r != base:
                    continue
                if pred_ok(elem_j, r, consumed):
                    if cj == res_j:
                        res_hit = True
                    took = True
                    consumed.append((elem_j.name, r))
                    dfs(cj, crj + 1, r + 1, consumed)
                    consumed.pop()
                    if len(out) >= cap:
                        return
            if not consumed and took:
                return  # anchor frame: one shared anchor row only
            if eff_h == "strict":
                return  # no ignore: consumed by takes, or dead
            if eff_h == "relaxed" and res_hit:
                return  # relaxed: the first resident hit ends the wait
            r += 1  # ignore this row, keep waiting

    dfs(0, 0, start, [])
    return out


def _match_could_extend(
    pattern: Sequence[Pat], consumed: list[tuple[str, int]]
) -> bool:
    """True when a greedy NFA would prefer to EXTEND this complete
    match with further rows rather than emit it: the element that
    consumed the final row can still take (below its max), or optional
    trailing elements remain. Used by the streaming matcher to hold a
    match whose tail sits at the buffer's edge until the ``within``
    horizon closes — otherwise a ``B+`` spanning a trigger boundary
    would split differently from the batch run (D10)."""
    last_var = consumed[-1][0]
    idxs = [k for k, p in enumerate(pattern) if p.name == last_var]
    i = idxs[-1]
    # count only the TRAILING contiguous run of last_var: a pattern that
    # reuses a variable name in non-adjacent elements must not have the
    # earlier occurrences counted against the trailing element's max —
    # that overstatement would emit an extendable boundary match eagerly
    # and regress the D10 batch-parity hold (Flink itself rejects
    # duplicate names; this matcher allows them, so count precisely)
    reps = 0
    for v, _ in reversed(consumed):
        if v != last_var:
            break
        reps += 1
    _, hi = _bounds(pattern[i])
    if hi is None or reps < hi:
        return True
    # any trailing element necessarily has min 0 (the match is already
    # complete without it) and max >= 1 — it could still take a row
    return i + 1 < len(pattern)


def _greedy_partial(
    records: list[dict],
    pattern: Sequence[Pat],
    start: int,
    within_check: Callable[[int, int], bool] | None,
) -> list[tuple[str, int]]:
    """The longest greedy live partial from ``start`` — the first
    branch of :func:`_live_partials` (kept for callers that only need
    the representative partial)."""
    live = _live_partials(records, pattern, start, within_check, cap=1)
    return live[0] if live else []


def match_recognize(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[str],
    pattern: Sequence[Pat],
    measures: Callable[[dict[str, pd.DataFrame], pd.DataFrame], dict],
    output_schema: str,
    after_match: str = "skip_to_next_row",
    within: str | None = None,
    ts_col: str | None = None,
    all_matches: bool = False,
    max_matches_per_key: int = 100_000,
    timeout_measures: Callable[[dict[str, pd.DataFrame], pd.DataFrame], dict] | None = None,
    max_concurrent_partials: int = 64,
    row_number_col: str | None = None,
) -> DataFrame:
    """Run a MATCH_RECOGNIZE-style pattern per key.

    measures(vars, full_pdf) -> dict: one output row per match, where
    ``vars`` maps each pattern variable to the DataFrame of rows it
    consumed (CEP.md MEASURES clause; flatSelect's Map<String,List<Event>>
    at FlinkCEP.java:83-97).

    after_match: 'skip_to_next_row' | 'skip_past_last' |
    'skip_to_first:<var>' | 'skip_to_last:<var>' — restart position
    after a match. The targeted forms resume AT the first/last row
    mapped to ``<var>`` (inclusive — that row may begin the next
    match), the Flink MATCH_RECOGNIZE semantics (CEP.md:80's worked
    example resumes at the last PRICE_UP). A target that maps no rows
    in the match, or that would restart at the match's own first row
    (infinite loop — e.g. SKIP TO FIRST of the leading variable),
    raises ValueError, as Flink does. Ignored when
    ``all_matches=True`` (followedByAny emits every combination).

    within: pandas-Timedelta string; with ``ts_col``, bounds
    last.ts - first.ts (FlinkCEP.java:80 ``within(10s)``).

    timeout_measures (C4): when set (requires ``within``), begun-but-
    incomplete matches emit a row too — the reference's
    TimedOutPartialMatchHandler side output (CEPTimeout.java:72-103).
    Batch end-of-input acts as the final MAX watermark, so every pending
    partial times out (E1 end-of-stream flush). EVERY concurrent live
    NFA computation emits individually, exactly as Flink calls
    processTimedOutMatch once per partial (a row satisfying both a
    looping element and its successor forks two computations; both time
    out) — see :func:`_live_partials`. ``max_concurrent_partials``
    bounds the per-anchor branch enumeration (greedy-first, so the cap
    sheds the shortest branches). Include a discriminator column (e.g.
    ``timed_out boolean``) in the schema and filter to split the side
    output (P7).

    row_number_col (r14): when set, each key's rows gain a 1-based
    position column over the ORDER BY order before matching — exactly
    ``ROW_NUMBER() OVER (PARTITION BY keys ORDER BY order_by)``, but
    computed inside the NFA's existing per-key sorted pass, so a
    consumer that needs match positions (e.g. rows-between counts)
    reads them from MEASURES instead of re-shuffling the input through
    a separate window + joins (guide §2.4 — the NFA already paid the
    keyed exchange and sort this window would need). A name that is
    already an input column raises ValueError rather than overwrite it.
    """
    if row_number_col is not None and row_number_col in df.columns:
        raise ValueError(
            f"row_number_col {row_number_col!r} is already an input "
            "column; pick a fresh name"
        )
    pattern = list(pattern)
    pcols = list(partition_by)
    ocols = list(order_by)
    delta = pd.Timedelta(within) if within is not None else None
    out_cols = schema_col_names(output_schema)

    def run(key, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(ocols, kind="mergesort").reset_index(drop=True)
        if row_number_col is not None:
            pdf[row_number_col] = range(1, len(pdf) + 1)
        # One Arrow->dict conversion per key; the NFA inner loop then
        # touches plain Python objects only (no per-row pandas overhead).
        records = pdf.to_dict("records")
        within_check = None
        if delta is not None and ts_col is not None:
            ts = pdf[ts_col].tolist()

            def within_check(first_idx: int, idx: int) -> bool:  # noqa: F811
                return ts[idx] - ts[first_idx] <= delta

        results: list[dict] = []
        start = 0
        n = len(records)
        while start < n and len(results) < max_matches_per_key:
            found: list[list[tuple[str, int]]] = []
            _find_matches(records, pattern, start, within_check, all_matches, found)
            if not found:
                if timeout_measures is not None:
                    partials = _live_partials(
                        records, pattern, start, within_check,
                        cap=max_concurrent_partials,
                    )
                    if partials:
                        for partial in partials:
                            pvars: dict[str, list[int]] = {}
                            for var, idx in partial:
                                pvars.setdefault(var, []).append(idx)
                            results.append(timeout_measures(
                                {v: pdf.iloc[idxs] for v, idxs in pvars.items()}, pdf
                            ))
                        # all partials share one anchor row; resume past
                        # it — later-anchored computations are found at
                        # their own scan position (no duplicates)
                        start = partials[0][0][1] + 1
                        continue
                start += 1
                continue
            for consumed in found:
                vars_map: dict[str, list[int]] = {}
                for var, idx in consumed:
                    vars_map.setdefault(var, []).append(idx)
                vars_df = {v: pdf.iloc[idxs] for v, idxs in vars_map.items()}
                results.append(measures(vars_df, pdf))
            if all_matches:
                start += 1  # every start index is a fresh branch point
            elif after_match == "skip_past_last":
                start = max(idx for _, idx in found[0]) + 1
            elif after_match.startswith(("skip_to_first:",
                                         "skip_to_last:")):
                kind, _, var = after_match.partition(":")
                idxs = [i for v, i in found[0] if v == var]
                if not idxs:
                    raise ValueError(
                        f"AFTER MATCH {kind} {var}: the variable mapped "
                        "no rows in the match (Flink raises here too)"
                    )
                tgt = idxs[0] if kind == "skip_to_first" else idxs[-1]
                if tgt == found[0][0][1]:
                    raise ValueError(
                        f"AFTER MATCH {kind} {var} would restart at the "
                        "match's own first row — an infinite loop "
                        "(Flink rejects this combination)"
                    )
                start = tgt  # resume AT the row: it may open the next match
            else:  # skip_to_next_row
                start = found[0][0][1] + 1
        if not results:
            return pd.DataFrame({c: pd.Series(dtype=object) for c in out_cols})
        out = pd.DataFrame(results)
        for i, c in enumerate(pcols):
            out[c] = key[i]
        return out[out_cols]

    from flink_examples_spark.operators.util import grouped_map_in_pandas

    # one mapInPandas pass with JVM-side partition sort + vectorized
    # group carving instead of groupBy().applyInPandas — the per-group
    # Arrow/pandas machinery dominated the NFA itself at high key
    # cardinality (operators/util.py grouped_map_in_pandas; solo A/B on
    # cep_reluctant_first_purchase x1.14, 1.56s -> 1.37s steady). `run`
    # still sorts each group itself, so its contract is unchanged.
    return grouped_map_in_pandas(df, pcols, ocols, run, output_schema)


# ---------------------------------------------------------------------------
# SQL-ish MATCH_RECOGNIZE front-end (C6, flink-sql/sql/dml/CEP.md:70-90)
# ---------------------------------------------------------------------------

_LAST_RE = None  # compiled lazily


def _compile_expr(expr: str, measure_mode: bool):
    """Compile the MATCH_RECOGNIZE expression subset the reference uses
    (CEP.md:83-90) into a Python callable.

    Supported grammar: ``VAR.field`` references, ``LAST(VAR.field[, n])``
    / ``FIRST(VAR.field[, n])`` navigation, comparison operators
    (``= < > <= >= <>``), ``AND/OR/NOT``, ``IS [NOT] NULL``, numeric and
    string literals. SQL NULL comparison semantics are approximated:
    a comparison against NULL evaluates the whole predicate to False.

    DEFINE semantics (evaluating var X on candidate row r, r tentatively
    mapped to X): ``X.field`` = r's field; ``LAST(X.field, n)`` (n>=1) =
    n-th-from-last row previously mapped to X; ``OTHER.field`` =
    LAST(OTHER.field) = last row mapped to OTHER.
    MEASURES: ``VAR.field`` = LAST(VAR.field); FIRST/LAST navigate the
    var's consumed rows.
    """
    import re

    s = expr
    # Stash SQL string literals ('' escapes an embedded quote) so no
    # rewrite below touches their contents — 'FOO AND BAR' must survive
    # keyword substitution, and 'a=b' must survive the = rewrite.
    literals: list[str] = []

    def _stash(m: "re.Match[str]") -> str:
        literals.append(m.group(0))
        return f"\x00{len(literals) - 1}\x00"

    s = re.sub(r"'(?:[^']|'')*'", _stash, s)
    s = re.sub(r"\bLAST\s*\(\s*(\w+)\.(\w+)\s*(?:,\s*(\d+))?\s*\)",
               lambda m: f'_last("{m.group(1)}","{m.group(2)}",{m.group(3) or 0})', s,
               flags=re.IGNORECASE)
    s = re.sub(r"\bFIRST\s*\(\s*(\w+)\.(\w+)\s*(?:,\s*(\d+))?\s*\)",
               lambda m: f'_first("{m.group(1)}","{m.group(2)}",{m.group(3) or 0})', s,
               flags=re.IGNORECASE)
    # VAR.field — identifier-led only: a decimal literal like 10.5 must
    # NOT become _ref("10","5") (silent-False latent bug, ADVICE r1).
    s = re.sub(r"(?<![\w.])([A-Za-z_]\w*)\.(\w+)\b",
               lambda m: (f'_ref("{m.group(1)}","{m.group(2)}")'
                          if m.group(1) not in ("_last", "_first", "_ref")
                          else m.group(0)), s)
    s = re.sub(r"\bIS\s+NOT\s+NULL\b", "is not None", s, flags=re.IGNORECASE)
    s = re.sub(r"\bIS\s+NULL\b", "is None", s, flags=re.IGNORECASE)
    s = re.sub(r"\bAND\b", "and", s, flags=re.IGNORECASE)
    s = re.sub(r"\bOR\b", "or", s, flags=re.IGNORECASE)
    s = re.sub(r"\bNOT\b", "not", s, flags=re.IGNORECASE)
    s = re.sub(r"<>", "!=", s)
    s = re.sub(r"(?<![<>!=])=(?!=)", "==", s)
    for i, lit in enumerate(literals):
        s = s.replace(f"\x00{i}\x00", repr(lit[1:-1].replace("''", "'")))
    code = compile(s, f"<define:{expr[:40]}>", "eval")

    def run(namespace: dict):
        try:
            return eval(code, {"__builtins__": {}}, namespace)
        except TypeError:
            return False  # NULL comparison -> false (SQL 3VL approximation)

    return run


_QUANT_RE = __import__("re").compile(
    r"^(?P<name>[A-Za-z_][A-Za-z0-9_]*)"
    r"(?P<q>\+|\*|\?|\{\d+(,\d*)?\}|\{,\d+\})?"
    r"(?P<reluctant>\?)?$"
)


def _parse_pattern(pattern_str: str, define: dict) -> list[Pat]:
    """``PATTERN (A B+ C)`` body -> Pat list. MATCH_RECOGNIZE is a regex
    over the ordered row sequence, so contiguity is strict throughout.
    Quantifiers per the CEP.md grammar: greedy ``+`` (1+), ``*`` (0+),
    ``?`` (0 or 1), ``{n}``, ``{n,}``, ``{n,m}``, ``{,m}``, and their
    RELUCTANT variants (``+?``/``*?``/``{n,m}?`` — fewest repetitions
    that let the rest of the pattern complete). Variables without a
    DEFINE entry get the implicit TRUE condition (CEP.md START_ROW).
    Flink-parity guardrails raise loudly: a pattern ENDING in a
    reluctant quantifier is rejected (Flink does too — nothing after
    it could ever force expansion), and a pattern every element of
    which can match empty (e.g. ``A* B?``) is rejected the way Flink
    rejects empty-matchable patterns, instead of silently emitting
    zero-width matches."""
    import re as _re

    # normalize whitespace inside {n, m} so token splitting is safe
    body = _re.sub(
        r"\{\s*(\d*)\s*(,?)\s*(\d*)\s*\}", r"{\1\2\3}",
        pattern_str.replace("(", " ").replace(")", " "),
    )
    pats = []
    for tok in body.split():
        m = _QUANT_RE.match(tok)
        if m is None:
            raise ValueError(f"unparseable pattern element {tok!r}")
        reluctant = bool(m.group("reluctant"))
        name, q = m.group("name"), m.group("q")
        if q is None:
            lo, hi = 1, 1
        elif q == "+":
            lo, hi = 1, None
        elif q == "*":
            lo, hi = 0, None
        elif q == "?":
            lo, hi = 0, 1
        else:  # {n} / {n,} / {n,m} / {,m}
            inner = q[1:-1]
            if "," in inner:
                a, b = inner.split(",", 1)
                lo = int(a) if a else 0
                hi = int(b) if b else None
            else:
                lo = hi = int(inner)
        if hi is not None and hi < max(lo, 1):
            raise ValueError(f"degenerate quantifier bounds in {tok!r}")
        where = None
        if name in define:
            compiled = _compile_expr(define[name], measure_mode=False)
            where = _make_define_predicate(name, compiled)
        pats.append(
            Pat(name, where=where,
                quantifier="plus" if (lo, hi) == (1, None) else "one",
                contiguity="strict", min_times=lo, max_times=hi,
                reluctant=reluctant)
        )
    if pats and pats[-1].reluctant:
        # Flink rejects patterns ENDING in a reluctant quantifier
        # (nothing after it can ever force expansion, so it would
        # always stop at its minimum — Flink raises; so do we)
        raise ValueError(
            f"pattern {pattern_str!r} ends with a reluctant "
            "quantifier — not supported, same as Flink's "
            "MATCH_RECOGNIZE"
        )
    if pats and all(_bounds(p)[0] == 0 for p in pats):
        raise ValueError(
            f"pattern {pattern_str!r} can produce empty matches (every "
            "element is optional) — not supported, same as Flink's "
            "MATCH_RECOGNIZE"
        )
    return pats


def _make_define_predicate(var: str, compiled):
    def where(row: dict, ctx: MatchCtx) -> bool:
        def _last(v, field, n):
            n = int(n)
            if v == var and n == 0:
                return row.get(field)
            rows = ctx.rows(v)
            if n == 0:
                return rows[-1][field] if rows else None
            return rows[-n][field] if len(rows) >= n else None

        def _first(v, field, n):
            rows = ctx.rows(v)
            n = int(n)
            return rows[n][field] if len(rows) > n else None

        def _ref(v, field):
            if v == var:
                return row.get(field)
            rows = ctx.rows(v)
            return rows[-1][field] if rows else None

        return bool(compiled({"_last": _last, "_first": _first, "_ref": _ref}))

    return where


def match_recognize_sql(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[str],
    measures: dict[str, str],
    pattern: str,
    define: dict[str, str],
    output_schema: str,
    after_match: str = "SKIP TO NEXT ROW",
    within: str | None = None,
    ts_col: str | None = None,
    row_number_col: str | None = None,
) -> DataFrame:
    """SQL-surface MATCH_RECOGNIZE (CEP.md:70-90) on top of the NFA.

    ``row_number_col`` exposes :func:`match_recognize`'s in-pass
    per-key ROW_NUMBER (see there) to MEASURES/DEFINE as a regular
    field, e.g. ``LAST(P.rn) - FIRST(S.rn) - 1``.

    after_match: ``SKIP TO NEXT ROW`` | ``SKIP PAST LAST ROW`` |
    ``SKIP TO FIRST <var>`` | ``SKIP TO LAST <var>`` — the targeted
    forms resume AT the first/last row the variable mapped (inclusive;
    the CEP.md:80 example resumes from the last PRICE_UP row and keeps
    scanning for the next downturn there). Flink parity on the error
    cases: an unknown variable raises; SKIP TO FIRST of the leading
    variable is a statically-detectable infinite loop and raises; a
    match where the target mapped no rows raises at runtime.
    """
    pats = _parse_pattern(pattern, define)

    am = after_match.strip().upper()
    if am == "SKIP TO NEXT ROW":
        mode = "skip_to_next_row"
    elif am == "SKIP PAST LAST ROW":
        mode = "skip_past_last"
    elif am.startswith(("SKIP TO LAST ", "SKIP TO FIRST ")):
        first = am.startswith("SKIP TO FIRST ")
        target = am.removeprefix(
            "SKIP TO FIRST " if first else "SKIP TO LAST "
        ).strip()
        by_upper = {p.name.upper(): p.name for p in pats}
        if target not in by_upper:
            raise ValueError(
                f"AFTER MATCH {after_match!r}: {target} is not a "
                "pattern variable"
            )
        lo0, _ = _bounds(pats[0])
        if first and target == pats[0].name.upper() and lo0 >= 1:
            raise ValueError(
                f"AFTER MATCH SKIP TO FIRST {target} would always "
                "restart at the match's first row — an infinite loop "
                "(Flink rejects this combination)"
            )
        mode = (
            f"skip_to_first:{by_upper[target]}"
            if first
            else f"skip_to_last:{by_upper[target]}"
        )
    else:
        raise NotImplementedError(f"AFTER MATCH {after_match!r}")

    compiled_measures = {
        name: _compile_expr(expr, measure_mode=True)
        for name, expr in measures.items()
    }

    def measure_fn(vars_map: dict[str, pd.DataFrame], pdf) -> dict:
        def _last(v, field, n):
            rows = vars_map.get(v)
            n = int(n)
            if rows is None or len(rows) == 0:
                return None
            idx = len(rows) - 1 - n
            return rows.iloc[idx][field] if idx >= 0 else None

        def _first(v, field, n):
            rows = vars_map.get(v)
            n = int(n)
            return rows.iloc[n][field] if rows is not None and len(rows) > n else None

        def _ref(v, field):
            return _last(v, field, 0)

        ns = {"_last": _last, "_first": _first, "_ref": _ref}
        return {name: fn(ns) for name, fn in compiled_measures.items()}

    return match_recognize(
        df,
        partition_by=partition_by,
        order_by=order_by,
        pattern=pats,
        measures=measure_fn,
        output_schema=output_schema,
        after_match=mode,
        within=within,
        ts_col=ts_col,
        row_number_col=row_number_col,
    )
