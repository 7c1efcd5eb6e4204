"""Deterministic sampling & split assignment for corpus pipelines.

Training-data jobs constantly need "take 10% of this", "hold out a test
set", "downsample source X to 5%" — and at 100 TB those decisions must
be REPLAYABLE: task retries, incremental re-runs, and audits all have to
see the same verdict per row. So nothing here uses ``rand()`` (fresh
randomness per task attempt breaks retry idempotency and can duplicate
or drop rows); every decision is a pure function of the row's id via the
md5-derived ``hash60`` (functions/text.py), reproducible in any SQL
engine. All operators are narrow (no shuffle): the hash, bucket, and
filter run inside the scan's whole-stage-codegen.

Generalizes the reference's fromCollection/sampling idioms; the salts
make independent decisions independent (the 10% sample and the 80/10/10
split of the same corpus don't correlate).
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flink_examples_spark.functions.text import hash60

_BUCKETS = 10_000


def _null_safe(col: Column) -> Column:
    """NULL-safe string key: concat() null-propagates, which would give
    NULL buckets — and a NULL bucket silently drops the row from every
    filter (NULL < k is NULL). NULLs hash as a sentinel instead, so
    NULL-id rows are sampled/split like any other value."""
    return F.coalesce(col.cast("string"), F.lit("\x00null\x00"))


def _bucket(id_col: str, salt: str) -> Column:
    """Deterministic bucket in [0, 10000) from (id, salt)."""
    return F.pmod(
        hash60(F.concat(_null_safe(F.col(id_col)), F.lit("#" + salt))),
        F.lit(_BUCKETS),
    )


def _strata_bucket(id_col: str, strata_col: str, salt: str) -> Column:
    """Deterministic bucket in [0, 10000) from (id, salt, stratum) —
    the shared grid for every per-stratum sampling decision; the oracle
    SQL mirrors this expression byte-for-byte, so there must be exactly
    one copy of it."""
    return F.pmod(
        hash60(
            F.concat(
                _null_safe(F.col(id_col)),
                F.lit("#" + salt + "#"),
                _null_safe(F.col(strata_col)),
            )
        ),
        F.lit(_BUCKETS),
    )


def hash_split(
    df: DataFrame,
    id_col: str,
    weights: Sequence[tuple[str, float]] = (
        ("train", 0.8),
        ("val", 0.1),
        ("test", 0.1),
    ),
    salt: str = "split",
) -> DataFrame:
    """Assign every row to exactly one named split by hash bucket.

    ``weights`` are (name, fraction) in priority order; fractions are
    mapped to contiguous bucket ranges of [0, 10000), so assignment is
    total (every row gets a split), disjoint, and stable across runs,
    retries, and engines. Adds a ``split`` column; no shuffle.

    Fractions must sum to 1 (±1e-6): a short sum would otherwise dump
    all unallocated bucket mass into the final split silently via the
    rounding guard below, which only exists to absorb sub-bucket
    (<1e-4) rounding residue.
    """
    total = sum(w for _, w in weights)
    if abs(total - 1.0) > 1e-6:
        raise ValueError(
            f"hash_split weights must sum to 1.0, got {total!r}"
        )
    b = _bucket(id_col, salt)
    expr = None
    cum = 0
    for name, w in weights:
        cum += int(round(w * _BUCKETS))
        expr = (
            F.when(b < cum, name) if expr is None
            else expr.when(b < cum, name)
        )
    # guard rounding gaps: anything past the last boundary joins the
    # final split
    out = expr.otherwise(weights[-1][0])
    return df.withColumn("split", out)


def deterministic_sample(
    df: DataFrame, id_col: str, rate: float, salt: str = "sample"
) -> DataFrame:
    """Keep a deterministic ``rate`` fraction of rows (by id hash).

    The same (id, salt) is kept or dropped identically in every run —
    the retry-safe replacement for ``df.sample`` in any pipeline whose
    output feeds training. Filter-only: pushes into the scan.
    """
    return df.filter(_bucket(id_col, salt) < int(round(rate * _BUCKETS)))


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    rates: Mapping[str, float],
    id_col: str,
    default_rate: float = 1.0,
) -> DataFrame:
    """Per-stratum deterministic downsampling (corpus mixture control).

    ``rates`` maps stratum value -> keep fraction; strata not listed
    keep ``default_rate``. The hash is salted with the stratum so the
    same doc id appearing under different strata draws independently.
    This is how a 100 TB mixing job pins "web 10%, books 100%, code
    50%" reproducibly — one codegen'd filter, no shuffle, no rand().
    """
    b = _strata_bucket(id_col, strata_col, "strata")
    thresh = None
    for value, rate in rates.items():
        cond = F.col(strata_col) == value
        t = F.lit(int(round(rate * _BUCKETS)))
        thresh = F.when(cond, t) if thresh is None else thresh.when(cond, t)
    thresh = (
        F.lit(int(round(default_rate * _BUCKETS)))
        if thresh is None
        else thresh.otherwise(int(round(default_rate * _BUCKETS)))
    )
    return df.filter(b < thresh)


def global_shuffle_rank(
    df: DataFrame,
    id_col: str,
    num_buckets: int = 1024,
    salt: str = "shuffle",
) -> DataFrame:
    """Assign every row a deterministic global shuffle position —
    the "randomize the corpus order for training" step, replayable
    across runs, retries, and engines (no ``rand()``).

    Never a global sort. Two-level construction:

      1. ``key = hash60(id # salt)`` orders rows pseudo-randomly;
         ``bucket = key % num_buckets`` range-partitions that order.
      2. within each bucket a ``row_number`` over (key, id) ranks
         locally — ``num_buckets`` independent window partitions, each
         ~|corpus|/num_buckets rows;
      3. bucket sizes (a ``num_buckets``-row aggregate) turn into
         exclusive prefix offsets on a single tiny window, broadcast
         back; ``shuffle_rank = offset + local_rank - 1``.

    Equivalent to ``ROW_NUMBER() OVER (ORDER BY bucket, key, id) - 1``
    but the only global ordering ever materialized is over the
    ``num_buckets`` offset rows. Size ``num_buckets`` so a bucket fits
    a task (~100k rows/bucket at corpus scale); the (key, id) tiebreak
    makes the rank total even under hash collisions.

    Precondition: ``id_col`` must be unique (it is the tiebreak). Rows
    sharing an id — including two or more NULL ids, which hash to one
    sentinel — tie on the ordering, and their relative ranks then
    depend on partition layout (not replayable), in Spark and in any
    SQL ROW_NUMBER alike.

    Output: input columns + ``shuffle_rank`` (0-based, dense).
    """
    from pyspark.sql import Window

    key = hash60(F.concat(_null_safe(F.col(id_col)), F.lit("#" + salt)))
    keyed = df.withColumn("_sk", key).withColumn(
        "_sb", F.pmod(F.col("_sk"), F.lit(num_buckets))
    )
    local = keyed.withColumn(
        "_lr",
        F.row_number().over(
            Window.partitionBy("_sb").orderBy("_sk", id_col)
        ),
    )
    # bucket sizes come from the RANKED side (max local rank), not a
    # re-aggregation of `keyed`: the groupBy reuses the window's _sb
    # exchange (ReuseExchange), so the corpus is scanned and hashed
    # once — re-deriving from `keyed` would build a second full pass.
    sizes = local.groupBy("_sb").agg(F.max("_lr").alias("_n"))
    offsets = sizes.select(
        "_sb",
        F.coalesce(
            F.sum("_n").over(
                Window.orderBy("_sb").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ).alias("_off"),
    )
    return (
        local.join(F.broadcast(offsets), "_sb")
        .withColumn("shuffle_rank", F.col("_off") + F.col("_lr") - 1)
        .drop("_sk", "_sb", "_lr", "_off")
    )


def temperature_mixture_sample(
    df: DataFrame,
    strata_col: str,
    id_col: str,
    alpha: float = 0.7,
) -> DataFrame:
    """Temperature-flattened mixture sampling: downsample each stratum
    so kept sizes follow ``n_s^alpha`` (alpha < 1 flattens a skewed
    source/language mix — the multilingual corpus-balancing rule from
    the mBERT/XLM-R lineage), deterministically.

    Keep-rate per stratum is ``(n_s / n_min)^(alpha-1)`` — the smallest
    stratum keeps 100%, larger ones shed proportionally more. Rates are
    quantized to integer bucket thresholds in [0, 10000] (matching the
    ``_bucket`` grid) so the keep decision is exact and engine-portable
    despite the float ``pow``; the per-row decision reuses
    ``stratified_sample``'s salted hash, so it is replayable and
    independent of any other sampling decision.

    Unlike ``stratified_sample`` the rates are DATA-DEPENDENT: a tiny
    per-stratum count aggregate (broadcast back, never a corpus
    shuffle) computes them at run time — no hand-maintained rate map.
    """
    # a NULL stratum is a stratum: key the counts and the rate join on
    # the NULL-safe sentinel (a plain equi-join on strata_col would
    # silently drop every NULL-stratum row — the module's documented
    # invariant is that NULLs are sampled like any other value)
    sv = _null_safe(F.col(strata_col))
    counts = df.select(sv.alias("_sv")).groupBy("_sv").agg(
        F.count(F.lit(1)).alias("_n_s")
    )
    n_min = counts.agg(F.min("_n_s").alias("_n_min"))
    rates = counts.crossJoin(F.broadcast(n_min)).select(
        "_sv",
        F.round(
            F.pow(F.col("_n_s") / F.col("_n_min"), F.lit(alpha - 1.0))
            * _BUCKETS,
            0,
        )
        .cast("int")
        .alias("_t"),
    )
    b = _strata_bucket(id_col, strata_col, "temp")
    return (
        df.withColumn("_b", b)
        .withColumn("_sv", sv)
        .join(F.broadcast(rates), "_sv")
        .filter(F.col("_b") < F.col("_t"))
        .drop("_b", "_sv", "_t")
    )


def plan_repeat_factors(per_source: DataFrame) -> DataFrame:
    """Epoch planner: per-source repeat factors for a token budget.

    Given per-source token counts, compute temperature-flattened mixture
    weights ``w_s ∝ tokens_s^0.7`` and the repeat factor (epochs) each
    source needs to fill a ``2 × total_tokens`` budget at those
    weights, capped at 4 epochs (the "don't repeat data more than
    N times" rule of thumb from scaling-law practice). This is the
    planning step a mixture-weighted training run does before writing
    its sampling manifest.

    Everything after the (tiny) per-source aggregate is arithmetic on a
    20-row broadcast — zero additional shuffles at any corpus size; the
    heavy lifting is the upstream token count, a one-pass map-side-
    combined aggregate.

    Engine parity: weights and repeat factors are quantized to a 1/10⁴
    integer grid (``round(x*10000)``) right after the single ``pow``
    call, and ``effective_tokens`` derives from the quantized factor —
    so cross-engine float disagreement would need a libm result within
    one ulp of a .5 grid boundary to change any output.

    Output: ``source, tokens, weight_10k, repeat_10k,
    repeat_factor, effective_tokens``.
    """
    # four consumers read per_source (totals, weights, weight-sum,
    # final projection) and each would re-run the upstream token
    # aggregate — a lazy localCheckpoint materializes the tiny
    # per-source table once; the totals broadcast job triggers it
    # before any other consumer runs
    per_source = per_source.localCheckpoint(eager=False)
    t = F.col("tokens").cast("double")
    totals = per_source.agg(
        F.min("tokens").cast("double").alias("_t_min"),
        F.sum("tokens").cast("double").alias("_t_total"),
    )
    w = per_source.crossJoin(F.broadcast(totals)).withColumn(
        "weight_10k",
        F.round(F.pow(t / F.col("_t_min"), F.lit(0.7)) * 10000, 0).cast("long"),
    )
    w_sum = w.agg(F.sum("weight_10k").alias("_w_sum"))
    planned = (
        w.crossJoin(F.broadcast(w_sum))
        .withColumn(
            "repeat_10k",
            F.round(
                F.least(
                    F.lit(4.0),
                    (F.lit(2.0) * F.col("_t_total") * F.col("weight_10k"))
                    / (F.col("_w_sum") * t),
                )
                * 10000,
                0,
            ).cast("long"),
        )
        .withColumn("repeat_factor", F.col("repeat_10k") / F.lit(10000.0))
        .withColumn(
            "effective_tokens",
            F.floor(F.col("repeat_10k") * F.col("tokens") / F.lit(10000.0)).cast(
                "long"
            ),
        )
    )
    return planned.drop("_t_min", "_t_total", "_w_sum")


def materialize_repeat_plan(
    df: DataFrame,
    plan: DataFrame,
    id_col: str,
) -> DataFrame:
    """Expand a corpus into its planned epoch copies — the manifest
    step after [[plan_repeat_factors]]: each doc appears
    ``floor(repeat_factor)`` times plus one more copy selected by the
    salted hash with probability equal to the fractional part, so each
    source's materialized token mass converges on
    ``repeat_factor × tokens`` while every decision stays a pure
    function of (id, copy index) — replayable across retries, engines,
    and incremental re-runs (the module's no-rand() contract).

    Output: the input columns plus ``copy_idx`` (0-based). A plan row
    with ``repeat_10k`` = 25000 yields copies 0 and 1 for every doc and
    copy 2 for the hash-selected half; ``repeat_10k`` < 10000 is a pure
    subsample (copy 0, kept at frac). Sources missing from the plan are
    dropped (inner join — a manifest only contains planned sources).

    Plan shape: the plan is a per-source handful of rows (broadcast);
    the explode emits ``ceil(repeat_factor)`` candidates per doc before
    the fractional filter — data volume ~``repeat_factor × corpus``,
    which is the OUTPUT's size, so the expansion is within a constant
    of optimal; no shuffle anywhere (scan-side codegen + broadcast).
    """
    # a 0-repeat plan row contributes nothing; filtering it here also
    # keeps last_idx >= 0 (sequence(0, -1) would run DESCENDING and
    # emit phantom negative copies)
    p = plan.select("source", "repeat_10k").filter(
        F.col("repeat_10k") > 0
    )
    joined = df.join(F.broadcast(p), "source")
    n_full = F.floor(F.col("repeat_10k") / _BUCKETS).cast("int")
    frac = F.pmod(F.col("repeat_10k"), F.lit(_BUCKETS)).cast("int")
    # exactly ceil(repeat_factor) candidates: the fractional slot only
    # exists when there IS a fraction — an integer factor (e.g. capped
    # at 4 epochs) must not explode a per-doc candidate that the
    # filter then unconditionally drops (r5 review: 25% wasted rows +
    # hash evaluations at the cap)
    last_idx = n_full - 1 + (frac > 0).cast("int")
    copies = joined.withColumn(
        "copy_idx",
        F.explode(F.sequence(F.lit(0), last_idx)),
    )
    bucket = F.pmod(
        hash60(
            F.concat(
                _null_safe(F.col(id_col)),
                F.lit("#epoch#"),
                F.col("copy_idx").cast("string"),
            )
        ),
        F.lit(_BUCKETS),
    )
    return copies.filter(
        (F.col("copy_idx") < n_full) | (bucket < frac)
    ).select(*df.columns, "copy_idx")


def budget_admission_flags(
    df: DataFrame,
    key_cols: str | Sequence[str],
    id_col: str,
    text_col: str,
    cap: int,
) -> DataFrame:
    """Per-row admission verdicts under an ABSOLUTE per-key token
    budget: walking each key's rows in ``id_col`` order, a row is
    admitted while the token mass BEFORE it is under ``cap`` — the row
    crossing the cap is still admitted, everything after is not, so
    the admitted set is an id-prefix per key.

    This is the streamable variant of the relative cap in
    ``queries.host_token_budget_cap`` (which also needs the key TOTAL,
    a second frame on the same exchange); an ingest gate can't know
    the total, so production admission runs with a constant — and the
    GroupState twin ``streaming.stateful.streaming_budget_admission``
    carries exactly this prefix across micro-batches (parity pinned in
    tests/test_streaming.py). ONE hashpartitioning exchange; NULL text
    yields NULL n_tokens and does not advance the prefix (the
    sequence_pack convention).

    ``id_col`` values must be UNIQUE per key (the shape of an
    append-only ingest, and what the streaming twin's replay contract
    already enforces): the running prefix is a window frame over the
    ``id_col`` sort, and tied ids would make which duplicate "comes
    first" — and therefore the kept verdicts — nondeterministic
    run-to-run. A duplicate raises loudly at execution (a lag over the
    SAME window sort, so the check costs no extra exchange), mirroring
    the streaming twin's intra-trigger duplicate check (ADVICE r9).

    Output: ``<key cols>, <id_col>, n_tokens, kept``.
    """
    from pyspark.sql import Window

    from flink_examples_spark.functions.text import token_count

    parts = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    if cap < 0:
        raise ValueError(f"budget_admission_flags: cap must be >= 0, got {cap}")
    order = Window.partitionBy(*parts).orderBy(id_col)
    run = order.rowsBetween(Window.unboundedPreceding, -1)
    prev_id = F.lag(id_col).over(order)
    # null-safe duplicate detection: `prev_id == id` is NULL for tied
    # NULL ids, which would let them slip past the guard while their
    # frame stays nondeterministic (r10 review). eqNullSafe treats
    # NULL==NULL as true, and the row_number()>1 term distinguishes "a
    # previous row exists with the same (possibly NULL) id" from "this
    # is the key's first row" — all three functions share the one
    # window sort.
    dup = (F.row_number().over(order) > 1) & prev_id.eqNullSafe(
        F.col(id_col)
    )
    # the duplicate guard lives INSIDE the kept expression (a pruned
    # side column would be optimized away and never fire); CaseWhen
    # branches evaluate lazily per row, so unique-id data never pays
    # more than the lag itself
    admitted = (
        F.coalesce(F.sum("n_tokens").over(run), F.lit(0)).cast("long")
        < F.lit(int(cap))
    )
    return df.select(
        *[F.col(c) for c in parts],
        F.col(id_col),
        token_count(text_col).alias("n_tokens"),
    ).select(
        *parts,
        id_col,
        "n_tokens",
        F.when(
            dup,
            F.raise_error(
                F.concat(
                    F.lit(
                        "budget_admission_flags: duplicate "
                        f"{id_col} within a key: id "
                    ),
                    F.coalesce(
                        F.col(id_col).cast("string"), F.lit("NULL")
                    ),
                    F.lit(
                        " appears more than once — tied ids make the "
                        "admission prefix nondeterministic (the "
                        "streaming twin's replay contract)"
                    ),
                )
            ).cast("boolean"),
        )
        .otherwise(admitted)
        .alias("kept"),
    )
