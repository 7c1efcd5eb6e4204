"""Skew mitigation: salting for hot keys (SURVEY.md §4 scale notes).

AQE's skew-join splitting handles most runtime skew; these helpers cover
the cases it can't:

- ``salted_two_stage_agg`` — aggregations whose partial state doesn't
  compress (``collect_list``, exact ``count_distinct``): one hot key
  funnels every row to a single reducer. Salting fans the key out to
  ``n_salts`` sub-groups, combines partials, then merges per real key —
  two small shuffles instead of one skewed one.
- ``salted_replicate_join`` — equi-join where the build side is too big
  to broadcast and one probe key is hot: replicate each build row to
  every salt, salt the probe rows randomly-but-deterministically, and
  join on (key, salt). Build-side cost ×n_salts buys probe-side fan-out
  of the hot key across n_salts reducers.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _salt_col(cols: Sequence[str], n_salts: int) -> Column:
    """Deterministic per-row salt in [0, n_salts): hash of the full row's
    natural identity columns — reproducible across retries (never
    ``rand()``, which breaks task-retry idempotency)."""
    return F.pmod(F.hash(*[F.col(c) for c in cols]), F.lit(n_salts))


def salted_two_stage_agg(
    df: DataFrame,
    keys: Sequence[str],
    partial_aggs: dict[str, Column],
    final_aggs: dict[str, Column],
    salt_source: Sequence[str],
    n_salts: int = 16,
) -> DataFrame:
    """Two-stage salted aggregation.

    partial_aggs: name -> aggregate over raw rows (per key+salt).
    final_aggs:   name -> aggregate over the partial columns (per key).
    salt_source:  columns whose hash spreads the hot key (use a
                  high-cardinality payload column, not the group key).

    ``sum``/``count`` decompose as sum-of-sums / sum-of-counts;
    ``collect_list`` as flatten(collect_list(lists)); exact distinct as
    two-stage distinct. The caller picks the decomposition — the helper
    owns the salting plumbing.
    """
    keys = list(keys)
    salted = df.withColumn("__salt", _salt_col(salt_source, n_salts))
    partial = salted.groupBy(*keys, "__salt").agg(
        *[expr.alias(name) for name, expr in partial_aggs.items()]
    )
    return partial.groupBy(*keys).agg(
        *[expr.alias(name) for name, expr in final_aggs.items()]
    )


def salted_replicate_join(
    probe: DataFrame,
    build: DataFrame,
    key: str,
    n_salts: int = 8,
    probe_salt_source: Sequence[str] | None = None,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join: build side replicated ×n_salts, probe side
    salted, join on (key, salt). Row-identical to ``probe.join(build,
    key, how)`` for inner/left joins (each probe row meets exactly one
    replica of each matching build row). Right/full joins are REFUSED:
    an unmatched build row exists as n_salts replicas and would emit
    n_salts null-padded duplicates."""
    if how not in ("inner", "left", "leftouter", "left_outer"):
        raise ValueError(
            f"salted_replicate_join: how={how!r} would duplicate "
            "unmatched build rows x n_salts; only inner/left joins are "
            "row-identical to the unsalted join"
        )
    if probe_salt_source is None:
        probe_salt_source = [c for c in probe.columns if c != key]
        if not probe_salt_source:
            raise ValueError(
                "salted_replicate_join: probe has no non-key columns to "
                "salt on — salting on the key alone gives every row of "
                "a hot key the SAME salt (one reducer still takes the "
                "whole key while paying full build replication); pass "
                "probe_salt_source explicitly"
            )
    salts = F.explode(
        F.sequence(F.lit(0), F.lit(n_salts - 1))
    ).alias("__salt")
    build_rep = build.select("*", salts)
    probe_salted = probe.withColumn(
        "__salt", _salt_col(probe_salt_source, n_salts)
    )
    return (
        probe_salted.join(build_rep, on=[key, "__salt"], how=how)
        .drop("__salt")
    )


def range_partitioned_ntile(
    df: DataFrame,
    part_col: str,
    order_cols: Sequence[str],
    n_tiles: int,
    num_ranges: int | None = None,
) -> DataFrame:
    """Exact ``NTILE(n_tiles) OVER (PARTITION BY part_col ORDER BY
    order_cols)`` WITHOUT a low-cardinality full-data sort.

    The naive Window shuffles the whole table onto ``|part_col|``
    reducers — with a 5-value partition key at 100 TB that is five
    reducers each sorting 20 TB. This variant computes the identical
    band assignment with every sort bounded by a range-partition:

    1. ``repartitionByRange(part_col, *order_cols)`` — each task holds
       a contiguous slice of the global order; partition size is set by
       ``num_ranges`` (default: input partition count), not by key
       cardinality. ``localCheckpoint`` pins the sampled range
       boundaries so the count branch and the rank branch below see
       the SAME partition ids.
    2. Per (range-partition, part_col) row counts — a tiny aggregate
       (num_ranges x |part_col| rows); a window over THAT table yields
       each slice's global-rank offset and the partition total n
       (aggregate-first discipline: the analytic window runs over
       slice-counts, never over data).
    3. Local ``row_number`` within (slice, part_col) + broadcast
       offset = exact global rank; the standard NTILE split (first
       ``n mod k`` bands get ``n div k + 1`` rows) is then pure
       per-row integer arithmetic.

    ``order_cols`` must be a TOTAL order (include a unique tiebreak)
    or band membership at ties is nondeterministic — same contract as
    the window it replaces.
    """
    from pyspark.sql import Window

    order_cols = list(order_cols)
    if num_ranges is None:
        # cluster parallelism, NOT df.rdd.getNumPartitions() — see
        # range_partitioned_running_max (AQE eager-execution + empty-
        # child 0-partition hazards)
        num_ranges = df.sparkSession.sparkContext.defaultParallelism
    ranged = df.repartitionByRange(
        num_ranges, F.col(part_col), *[F.col(c) for c in order_cols]
    ).withColumn("__pid", F.spark_partition_id())
    # pin the sampled range boundaries: both branches below re-read this
    ranged = ranged.localCheckpoint(eager=True)
    per_slice = ranged.groupBy("__pid", part_col).agg(
        F.count(F.lit(1)).alias("__c")
    )
    w_off = (
        Window.partitionBy(part_col)
        .orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = per_slice.select(
        "__pid",
        part_col,
        F.coalesce(F.sum("__c").over(w_off), F.lit(0)).alias("__off"),
        F.sum("__c").over(Window.partitionBy(part_col)).alias("__n"),
    )
    w_loc = Window.partitionBy("__pid", part_col).orderBy(*order_cols)
    rr = F.row_number().over(w_loc) + F.col("__off")
    n, k = F.col("__n"), F.lit(n_tiles)
    q = F.floor(n / k).cast("long")
    r = (n % k).cast("long")
    thr = r * (q + 1)
    # ceil(a/b) over positive ints = (a + b - 1) div b; the q == 0
    # branch (n < k: every row its own band) is fully covered by
    # rr <= thr, so the guarded greatest() keeps the idle divisor
    # nonzero for ANSI mode
    band = F.when(
        rr <= thr, F.floor((rr + (q + 1) - 1) / (q + 1))
    ).otherwise(r + F.floor((rr - thr + q - 1) / F.greatest(q, F.lit(1))))
    return (
        ranged.join(F.broadcast(offsets), ["__pid", part_col])
        .withColumn("band", band.cast("int"))
        .drop("__pid", "__off", "__n")
    )


def range_partitioned_running_max(
    df: DataFrame,
    order_cols: Sequence[Column | str],
    val_col: str,
    num_ranges: int | None = None,
    out_col: str = "run_max",
) -> DataFrame:
    """EXCLUSIVE running ``MAX(val_col)`` over the GLOBAL total order
    of ``order_cols`` (each may be a sort expression like
    ``F.col(c).desc()``) — without the single-reducer Window a plain
    ``Window.orderBy(...)`` with no PARTITION BY compiles to.

    Same slice-offset discipline as [[range_partitioned_ntile]]:
    ``repartitionByRange`` bounds every sort by a range-partition
    (``localCheckpoint`` pins the sampled boundaries so both branches
    see the same partition ids), one tiny per-slice MAX aggregate, an
    exclusive prefix-max window over THAT (num_ranges rows, the
    aggregate-first rule), broadcast back, and a slice-local exclusive
    cummax combined via null-skipping ``greatest``. First row of the
    global order gets NULL, exactly like the window it replaces.

    ``order_cols`` must be a total order if ties must resolve
    deterministically — same contract as the window form.
    """
    order_cols = [
        F.col(c) if isinstance(c, str) else c for c in order_cols
    ]
    from pyspark.sql import Window

    if num_ranges is None:
        # cluster parallelism, NOT df.rdd.getNumPartitions(): under AQE
        # the RDD conversion eagerly EXECUTES the child's query stages
        # (the _fan_out probe comment, queries.py), and an empty
        # AQE-coalesced child reports 0 partitions, which
        # repartitionByRange rejects
        num_ranges = df.sparkSession.sparkContext.defaultParallelism
    ranged = df.repartitionByRange(num_ranges, *order_cols).withColumn(
        "__pid", F.spark_partition_id()
    )
    ranged = ranged.localCheckpoint(eager=True)
    per_slice = ranged.groupBy("__pid").agg(F.max(val_col).alias("__m"))
    w_off = (
        Window.orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = per_slice.select(
        "__pid", F.max("__m").over(w_off).alias("__off")
    )
    w_loc = (
        Window.partitionBy("__pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = F.max(val_col).over(w_loc)
    return (
        ranged.join(F.broadcast(offsets), "__pid")
        .withColumn(out_col, F.greatest(local, F.col("__off")))
        .drop("__pid", "__off")
    )
