"""Iterative computation (SURVEY.md §2.11 M2).

The reference's IterateExample.java:56-108 builds a streaming feedback
edge (Fibonacci steps until value >= 100, emitting iteration counts).
Spark has no streaming feedback loop. The iteration is independent
across rows, so it runs *inside* the row pipeline: ``fib_steps`` folds
each row's fixed point with one ``aggregate`` higher-order function —
no shuffle, no driver round trips, no Python. Iterations that need
cross-row operators each round run as driver loops
(``graph.walk_mass``, ``dedup.connected_components``).

Documented divergence: batch-only (SURVEY.md §7.4.6, DIVERGENCES D6).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def fib_steps(pairs: DataFrame, x_col: str, y_col: str, limit: int = 100,
              max_iter: int = 64) -> DataFrame:
    """For each (x, y) row: apply (x, y) -> (y, x+y) until y >= limit;
    return ``x0, y0`` (the original columns as longs) plus ``n_steps``
    (IterateExample.java:114-187 semantics). A row still below
    ``limit`` after ``max_iter`` steps retires with ``n_steps ==
    max_iter``.

    One ``aggregate(sequence(1, max_iter), struct(x, y, n), step)`` per
    row; the step advances only while ``y < limit``. A NULL ``x`` or
    ``y`` fails the job, and so does a step whose ``x + y`` overflows a
    long (the session's ANSI arithmetic).
    """
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    x, y = F.col(x_col).cast("long"), F.col(y_col).cast("long")
    x0 = F.when(x.isNotNull() & y.isNotNull(), x).otherwise(
        F.raise_error(F.lit(f"fib_steps: NULL {x_col} or {y_col}")))

    def step(acc: Column, _: Column) -> Column:
        return F.when(acc["y"] < limit, F.struct(
            acc["y"].alias("x"), (acc["x"] + acc["y"]).alias("y"),
            (acc["n"] + 1).alias("n"),
        )).otherwise(acc)

    start = F.struct(F.col("x0").alias("x"), F.col("y0").alias("y"),
                     F.lit(0).cast("long").alias("n"))
    return pairs.select(x0.alias("x0"), y.alias("y0")).select(
        "x0", "y0",
        F.aggregate(F.sequence(F.lit(1), F.lit(max_iter)), start, step)["n"]
        .alias("n_steps"),
    )
