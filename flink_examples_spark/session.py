"""SparkSession factory with scale-oriented defaults.

The reference configures its environment per job (parallelism, state
backend, checkpointing — e.g. Checkpointing.java:28-67,
StateMachineExample.java:92-104). Here the equivalent engine-level knobs
are centralized: AQE for runtime re-planning (skew joins, partition
coalescing), UTC session time so event-time windows are epoch-aligned and
reproducible, Arrow for every pandas-UDF boundary, and a shuffle
partition count sized to the local core count (on a real cluster this is
overridden to ~2-3x total cores; AQE coalesces down). Streaming state is
sized apart from batch shuffles: one state partition per core.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def local_cpus() -> str:
    """Local core count: ``SPARK_GRAFT_CPUS``, ``"32"`` when unset.
    ``get_spark`` sizes ``local[N]`` from it and ``bench.py`` records
    it, so an artifact always names the core count its session ran on."""
    return os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(
    app_name: str = "flink-examples-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    ``extra_conf`` doubles as the global-job-parameter channel (M4/S11,
    TransferGlobalParam.java:11-37 / WordCount.java:24-29): values set
    here are visible to every operator via ``spark.conf.get`` — the
    ``GlobalJobParameters`` equivalent; closure captures and broadcast
    variables cover per-operator constants.

    Honors ``SPARK_GRAFT_CPUS`` for local core count (``local_cpus``).
    All settings are chosen to survive a 100 TB / 1000-executor
    scale-up: AQE handles skew + partition sizing at runtime, and the
    broadcast threshold lets small dimension tables avoid shuffles.
    Streaming state uses Spark's default state store provider; no
    state-backend config is set here. A new streaming checkpoint gets
    ``min(spark.sql.shuffle.partitions, defaultParallelism)`` state
    partitions, not the shuffle partition count: a stateful stage then
    runs in one wave on the session's cores, and each partition's
    state-store commit has a fixed cost whatever its size. Spark records
    the count in the checkpoint's ``offsets/0`` and a resumed checkpoint
    keeps it; batch shuffles keep ``shuffle_partitions``.
    """
    cpus = int(local_cpus())
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # --- deterministic, reproducible semantics ---
        .config("spark.sql.session.timeZone", "UTC")
        # --- adaptive execution: runtime re-planning at scale ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # --- broadcast joins for dimension tables (BroadcastDimension.java:100) ---
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # --- Arrow for all pandas-UDF boundaries (vectorized, not per-row) ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- scan sizing: keep file-split partitions memory-friendly ---
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # A Spark-internal conf (no public one splits state from shuffle
    # partitions); tests/test_streaming.py fails if Spark stops honouring it.
    state_partitions = min(
        int(spark.conf.get("spark.sql.shuffle.partitions")),
        spark.sparkContext.defaultParallelism,
    )
    spark.conf.set(
        "spark.sql.streaming.internal.stateStore.partitions", str(state_partitions)
    )
    return spark
