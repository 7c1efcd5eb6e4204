"""Streaming semantics tests (SURVEY.md §5.2.3).

Each test replays a deterministic fixture through a directory file
stream (one file per trigger, ordered by mtime) and asserts the
streaming operator's output equals its batch formulation — the
reference's embedded-fixture strategy (SessionWindow.java:63-77 etc.)
adapted to micro-batch replay.
"""

import json
import os
import time

import pandas as pd
import pytest

from pyspark.sql import functions as F

from flink_examples_spark.catalog import load_table
from flink_examples_spark.streaming.sources import file_stream

SF = "/root/testdata/sf0.001"


def write_chunks(pdf: pd.DataFrame, directory: str, n_chunks: int) -> str:
    """Write a pandas frame as n ts-ordered parquet chunks with
    increasing mtimes so the file source replays them in order."""
    os.makedirs(directory, exist_ok=True)
    size = (len(pdf) + n_chunks - 1) // n_chunks
    now = time.time() - n_chunks - 5
    for i in range(n_chunks):
        chunk = pdf.iloc[i * size : (i + 1) * size]
        if chunk.empty:
            continue
        path = os.path.join(directory, f"{i:03d}.parquet")
        chunk.to_parquet(path, index=False)
        os.utime(path, (now + i, now + i))
    return directory


def drain_and_stop(q, expected_input_rows, timeout=60):
    """Stop an availableNow query that can never self-terminate because
    an armed ProcessingTimeTimeout keeps it alive (Spark waits for the
    timer indefinitely): wait until the expected input rows are
    committed, give the timer batch one beat, then stop."""
    t0 = time.time()
    while time.time() - t0 < timeout:
        if sum(p["numInputRows"] for p in q.recentProgress) >= expected_input_rows:
            break
        time.sleep(0.2)
    time.sleep(0.7)
    q.stop()
    q.awaitTermination(30)


def run_to_memory(df, spark, name, mode, ckpt):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.awaitTermination(180)
    return spark.sql(f"SELECT * FROM {name}")


@pytest.fixture()
def events_pdf(spark):
    return (
        load_table(spark, "events", SF)
        .orderBy("ts", "event_id")
        .toPandas()
    )


def test_streaming_tumbling_counts_match_batch(spark, tmp_path, events_pdf):
    d = write_chunks(events_pdf, str(tmp_path / "in"), 3)
    src = file_stream(spark, d, os.path.join(d, "000.parquet"))
    agg = (
        src.withWatermark("ts", "0 seconds")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "event_type", "n")
    )
    out = run_to_memory(agg, spark, "tumbling", "update", str(tmp_path / "ck"))
    # update mode re-emits refined counts; keep the last emission per group
    stream_rows = {
        (r.ws, r.event_type): r.n
        for r in out.withColumn("ord", F.monotonically_increasing_id())
        .orderBy("ord")
        .collect()
    }
    batch_rows = {
        (r.ws, r.event_type): r.n
        for r in load_table(spark, "events", SF)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "event_type", "n")
        .collect()
    }
    assert stream_rows == batch_rows


def test_streaming_fraud_matches_batch(spark, tmp_path, events_pdf):
    from flink_examples_spark.operators.stateful import fraud_pairs
    from flink_examples_spark.streaming.stateful import streaming_fraud_detector

    d = write_chunks(events_pdf, str(tmp_path / "in"), 4)
    src = file_stream(spark, d, os.path.join(d, "000.parquet"))
    out = run_to_memory(
        streaming_fraud_detector(src),
        spark,
        "fraud",
        "append",
        str(tmp_path / "ck"),
    )
    stream_alerts = {(r.user_id, r.small_id, r.large_id) for r in out.collect()}
    batch_alerts = {
        (r.user_id, r.small_id, r.large_id)
        for r in fraud_pairs(
            load_table(spark, "events", SF),
            key="user_id", ts_col="ts", amount_col="value", id_col="event_id",
            small=10.0, large=400.0, within="'60' minutes",
        ).collect()
    }
    assert stream_alerts == batch_alerts


def test_streaming_count_window_matches_batch(spark, tmp_path, events_pdf):
    from flink_examples_spark.operators.windows import count_window_agg
    from flink_examples_spark.streaming.stateful import streaming_count_window

    d = write_chunks(events_pdf, str(tmp_path / "in"), 4)
    src = file_stream(spark, d, os.path.join(d, "000.parquet"))
    out = run_to_memory(
        streaming_count_window(src),
        spark,
        "cw",
        "append",
        str(tmp_path / "ck"),
    )
    stream_fires = {
        (r.user_id, r.fire_at_row, r.window_count): r.window_sum
        for r in out.collect()
    }
    batch = count_window_agg(
        load_table(spark, "events", SF),
        "ts", ["user_id"], size=10, slide=5,
        value_col="value", order_tiebreak="event_id",
    ).collect()
    batch_fires = {
        (r.user_id, r.fire_at_row, r.window_count): r.window_sum for r in batch
    }
    assert stream_fires.keys() == batch_fires.keys()
    for k, v in stream_fires.items():
        assert abs(v - batch_fires[k]) < 0.02, (k, v, batch_fires[k])


def test_streaming_double_stream_match(spark, tmp_path):
    from flink_examples_spark.streaming.stateful import (
        streaming_double_stream_match,
    )

    base = pd.Timestamp("2024-01-01 00:00:00")
    rows = []
    # 3 matched pairs, 1 big-only, 1 small-only (DoubleStreamMatch shape)
    for i in range(3):
        rows.append(("o%d" % i, "big", base + pd.Timedelta(seconds=i)))
        rows.append(("o%d" % i, "small", base + pd.Timedelta(seconds=i + 1)))
    rows.append(("only_big", "big", base + pd.Timedelta(seconds=10)))
    rows.append(("only_small", "small", base + pd.Timedelta(seconds=11)))
    data = pd.DataFrame(rows, columns=["order_id", "side", "ts"])
    d = str(tmp_path / "in")
    os.makedirs(d)
    now = time.time() - 10
    data.to_parquet(os.path.join(d, "000.parquet"), index=False)
    os.utime(os.path.join(d, "000.parquet"), (now, now))
    # finalize sentinel (D1): advances the watermark so every pending
    # timeout fires; dropped before the match state, so the output is
    # EXACTLY the expected set — no sentinel artifacts
    from flink_examples_spark.streaming.finalize import (
        drop_finalize,
        write_finalize_sentinel,
    )

    write_finalize_sentinel(d, data, "ts")

    src = drop_finalize(
        file_stream(spark, d, os.path.join(d, "000.parquet"))
        .withWatermark("ts", "5 seconds"),
        "ts",
    )
    out = run_to_memory(
        streaming_double_stream_match(src, timeout_ms=60_000),
        spark,
        "dsm",
        "append",
        str(tmp_path / "ck"),
    )
    got = {(r.order_id, r.status) for r in out.collect()}
    expected = {
        ("o0", "matched"),
        ("o1", "matched"),
        ("o2", "matched"),
        ("only_big", "unmatched_big"),
        ("only_small", "unmatched_small"),
    }
    assert got == expected, got


def test_streaming_dedup_ttl_first_occurrence(spark, tmp_path):
    from flink_examples_spark.streaming.stateful import streaming_dedup_ttl

    pdf = pd.DataFrame(
        {"fp": ["a", "b", "a", "c", "b", "a"], "n": [1, 2, 3, 4, 5, 6]}
    )
    d = write_chunks(pdf, str(tmp_path / "in"), 2)
    src = file_stream(spark, d, os.path.join(d, "000.parquet"))
    out = run_to_memory(
        streaming_dedup_ttl(src, ["fp"]),
        spark,
        "dedup",
        "append",
        str(tmp_path / "ck"),
    )
    assert sorted(r.fp for r in out.collect()) == ["a", "b", "c"]


# duplicates within a chunk (rows 0-1, 7-8, 10-11 share a chunk at 1,
# 2 and 4 chunks) and across chunks (rows 3/6 and 4/9 straddle the 2-
# and 4-chunk cuts), a null in the string key column
_DEDUP_TAPE = pd.DataFrame({
    "uid": [1, 1, 2, 2, 3, 1, 2, 4, 4, 3, 5, 5],
    "kind": ["a", "a", "b", None, "a", "a", None, "c", "c", "a", "b", "b"],
    "n": list(range(12)),
})


@pytest.mark.parametrize("n_chunks", [1, 2, 4])
def test_streaming_dedup_native_matches_batch_distinct(
    spark, tmp_path, n_chunks
):
    """Without a TTL the dedup is Spark's native streaming dedup: each
    (long, string) key is emitted exactly once whatever the chunking,
    the rows equal the batch distinct of the whole tape, and the key
    columns keep their input types."""
    from flink_examples_spark.streaming.stateful import streaming_dedup_ttl

    keys = ["uid", "kind"]
    d = write_chunks(_DEDUP_TAPE, str(tmp_path / "in"), n_chunks)
    src = file_stream(spark, d, os.path.join(d, "000.parquet"))
    out = streaming_dedup_ttl(src, keys)
    assert [(f.name, f.dataType) for f in out.schema.fields] == [
        (f.name, f.dataType) for f in src.select(*keys).schema.fields
    ]
    got = [tuple(r) for r in run_to_memory(
        out, spark, f"dedup_native_{n_chunks}", "append", str(tmp_path / "ck")
    ).collect()]
    assert len(got) == len(set(got))

    def order(r):
        return (r[0], r[1] is None, r[1] or "")

    want = spark.read.parquet(d).select(*keys).distinct().collect()
    assert sorted(got, key=order) == sorted(map(tuple, want), key=order)


def test_streaming_dedup_plans_native_without_ttl_python_with(spark, tmp_path):
    """The no-TTL dedup plans Spark's Deduplicate state operator and no
    Python; the TTL emulation (D8) still plans the GroupState node."""
    from flink_examples_spark.plans.inspect import formatted_plan
    from flink_examples_spark.streaming.stateful import streaming_dedup_ttl

    d = write_chunks(_DEDUP_TAPE, str(tmp_path / "in"), 1)
    src = file_stream(spark, d, os.path.join(d, "000.parquet"))
    native = formatted_plan(streaming_dedup_ttl(src, ["uid", "kind"]))
    assert "Deduplicate" in native
    assert "FlatMapGroupsInPandasWithState" not in native
    ttl = formatted_plan(streaming_dedup_ttl(src, ["uid", "kind"], ttl_ms=100))
    assert "FlatMapGroupsInPandasWithState" in ttl
    assert "Deduplicate" not in ttl


def _recorded_state_partitions(ck: str) -> int:
    """The state partition count a checkpoint was begun with: Spark
    records it in ``offsets/0`` under the shuffle-partition key."""
    with open(os.path.join(ck, "offsets", "0")) as f:
        meta = json.loads(f.read().splitlines()[1])
    return int(meta["conf"]["spark.sql.shuffle.partitions"])


def _state_shards(ck: str) -> list[int]:
    """The state-store shard dirs of a checkpoint's first operator."""
    root = os.path.join(ck, "state", "0")
    return sorted(int(n) for n in os.listdir(root) if n.isdigit())


def _dedup_rows(spark, d, ck):
    """Run the native dedup of ``d`` on checkpoint ``ck`` (a foreachBatch
    sink, so it can resume); returns the rows it emitted."""
    from flink_examples_spark.streaming.stateful import streaming_dedup_ttl

    rows: list = []
    src = file_stream(spark, d, os.path.join(d, "000.parquet"))
    q = (
        streaming_dedup_ttl(src, ["uid", "kind"])
        .writeStream.foreachBatch(
            lambda bdf, bid: rows.extend(tuple(r) for r in bdf.collect()))
        .trigger(availableNow=True)
        .option("checkpointLocation", ck)
        .start()
    )
    q.awaitTermination(180)
    return rows


def test_new_checkpoint_gets_one_state_partition_per_core(spark, tmp_path):
    """``get_spark`` sizes a new checkpoint's state to the session's
    cores: on ``local[4]`` with 8 shuffle partitions the native dedup
    keeps 4 state shards and ``offsets/0`` records 4. Fails if Spark
    stops honouring the state partition conf."""
    assert spark.sparkContext.defaultParallelism == 4
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
    d = write_chunks(_DEDUP_TAPE, str(tmp_path / "in"), 2)
    ck = str(tmp_path / "ck")
    _dedup_rows(spark, d, ck)
    assert _state_shards(ck) == [0, 1, 2, 3]
    assert _recorded_state_partitions(ck) == 4


def test_resumed_checkpoint_keeps_its_state_partition_count(spark, tmp_path):
    """A checkpoint begun with 8 state shards (the state conf unset, so
    the shuffle partition count) keeps 8 when resumed under the
    per-core rule, and the dedup across the restart stays exact."""
    conf = "spark.sql.streaming.internal.stateStore.partitions"
    staged = write_chunks(_DEDUP_TAPE, str(tmp_path / "staged"), 2)
    d, ck = str(tmp_path / "in"), str(tmp_path / "ck")
    os.makedirs(d)
    os.rename(os.path.join(staged, "000.parquet"), os.path.join(d, "000.parquet"))
    rule = spark.conf.get(conf)
    spark.conf.unset(conf)
    try:
        first = _dedup_rows(spark, d, ck)
    finally:
        spark.conf.set(conf, rule)
    assert _state_shards(ck) == list(range(8))

    os.rename(os.path.join(staged, "001.parquet"), os.path.join(d, "001.parquet"))
    second = _dedup_rows(spark, d, ck)
    assert _state_shards(ck) == list(range(8))
    assert _recorded_state_partitions(ck) == 8

    def order(r):
        return (r[0], r[1] is None, r[1] or "")

    got = first + second
    assert len(got) == len(set(got))
    want = spark.read.parquet(d).select("uid", "kind").distinct().collect()
    assert sorted(got, key=order) == sorted(map(tuple, want), key=order)


def test_batch_shuffles_keep_the_shuffle_partition_count(spark):
    """The per-core state rule leaves batch shuffles alone: with AQE
    off a ``groupBy`` runs one reduce task per shuffle partition."""
    sc = spark.sparkContext
    dag = sc._jsc.sc().dagScheduler()
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        first = dag.nextJobId()
        spark.range(100).groupBy((F.col("id") % 7).alias("k")).count().collect()
        last = dag.nextJobId()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    st = sc.statusTracker()
    tasks = sorted(
        st.getStageInfo(sid).numCompletedTasks
        for j in range(first, last)
        for sid in st.getJobInfo(j).stageIds
    )
    assert tasks == [sc.defaultParallelism, 8]


def _dedup_into_staged_face(spark, tmp_path, face):
    """Stream the dedup tape, in two chunks, through the native
    streaming dedup into the staged ingest ``face(root)``. Returns the
    staged root and the tasks each stage of the stream's jobs ran."""
    from flink_examples_spark.streaming.stateful import streaming_dedup_ttl

    d = write_chunks(_DEDUP_TAPE, str(tmp_path / "in"), 2)
    root = str(tmp_path / "staged")
    src = file_stream(spark, d, os.path.join(d, "000.parquet"))
    sc = spark.sparkContext
    first = sc._jsc.sc().dagScheduler().nextJobId()
    q = (
        streaming_dedup_ttl(src, ["uid", "kind"])
        .writeStream.foreachBatch(face(root))
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.awaitTermination(180)
    st = sc.statusTracker()
    tasks = [
        si.numCompletedTasks
        for j in range(first, sc._jsc.sc().dagScheduler().nextJobId())
        for sid in (st.getJobInfo(j).stageIds if st.getJobInfo(j) else [])
        if (si := st.getStageInfo(sid)) is not None
    ]
    subs = sorted(f for f in os.listdir(root) if f.startswith("batch="))
    assert subs == ["batch=0", "batch=1"]
    for sub in subs:
        parts = [
            f for f in os.listdir(os.path.join(root, sub))
            if f.startswith("part-")
        ]
        assert len(parts) == 1, (sub, parts)
    return root, tasks


def test_countmin_streaming_ingest_writes_one_file_per_batch(spark, tmp_path):
    """Each micro-batch's Count-Min partial (at most depth x width rows)
    is one parquet file, not one per shuffle partition, and the staged
    sketch still folds to the sketch of the whole input. The batches
    come out of a stateful operator, as in a dedup-then-sketch stream:
    there the sketch's shuffle is not coalesced."""
    from flink_examples_spark.operators.sketches import countmin_table
    from flink_examples_spark.streaming.sinks import (
        countmin_ingest_foreach_batch,
        read_countmin_sketch,
    )

    root, _ = _dedup_into_staged_face(
        spark, tmp_path, lambda r: countmin_ingest_foreach_batch(r, "uid"))

    def cells(df):
        return {(r.j, r.bucket): r.cnt for r in df.collect()}

    d = str(tmp_path / "in")
    whole = countmin_table(
        spark.read.parquet(d).select("uid", "kind").distinct(), "uid"
    )
    assert cells(read_countmin_sketch(spark, root)) == cells(whole)


def test_hll_streaming_ingest_writes_one_file_per_batch(spark, tmp_path):
    """An aggregate partial behind a stateful operator is written by one
    task as one file per batch, while the stateful dedup stage before
    it still runs one task per state partition; the staged registers
    fold to the registers of the whole deduplicated input."""
    from flink_examples_spark.operators.sketches import hll_registers
    from flink_examples_spark.streaming.sinks import (
        hll_ingest_foreach_batch,
        read_hll_registers,
    )

    root, tasks = _dedup_into_staged_face(
        spark, tmp_path,
        lambda r: hll_ingest_foreach_batch(r, "uid", ["kind"]))
    assert _recorded_state_partitions(str(tmp_path / "ck")) in tasks

    def regs(df):
        return {(r.kind, r.bucket): r.reg for r in df.collect()}

    whole = hll_registers(
        spark.read.parquet(str(tmp_path / "in")).select("uid", "kind")
        .distinct(), "uid", ["kind"],
    )
    got = read_hll_registers(spark, root, ["kind"], "kind string")
    assert regs(got) == regs(whole)


def test_streaming_dfa_matches_batch_alert_counts(spark, tmp_path, events_pdf):
    from flink_examples_spark.operators.stateful import dfa_alerts
    from flink_examples_spark.queries import _DFA_TRANSITIONS
    from flink_examples_spark.streaming.stateful import streaming_dfa_alerts

    d = write_chunks(events_pdf, str(tmp_path / "in"), 4)
    src = file_stream(spark, d, os.path.join(d, "000.parquet"))
    out = run_to_memory(
        streaming_dfa_alerts(src, _DFA_TRANSITIONS),
        spark,
        "dfa",
        "append",
        str(tmp_path / "ck"),
    )
    stream_counts = (
        out.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_alerts")).collect()
    )
    stream_map = {r.user_id: r.n_alerts for r in stream_counts}
    batch_map = {
        r.user_id: r.n_alerts
        for r in dfa_alerts(
            load_table(spark, "events", SF),
            key="user_id", order_cols=["ts", "event_id"],
            symbol_col="event_type", transitions=_DFA_TRANSITIONS,
        ).collect()
        if r.n_alerts > 0
    }
    assert stream_map == batch_map


def test_streaming_session_window_matches_batch(spark, tmp_path, events_pdf):
    """W4 streaming: session_window agg under availableNow replay equals
    the batch formulation EXACTLY, open tail sessions included
    (SessionWindow.java:36-44 — the reference's expected session set
    exists only because the end-of-stream MAX watermark fires the open
    sessions; the finalize sentinel is that watermark as data, D1)."""
    from flink_examples_spark.streaming.finalize import (
        drop_finalize,
        write_finalize_sentinel,
    )

    d = write_chunks(events_pdf, str(tmp_path / "in"), 3)
    write_finalize_sentinel(d, events_pdf, "ts")
    src = file_stream(spark, d, os.path.join(d, "000.parquet"))
    agg = (
        drop_finalize(src.withWatermark("ts", "0 seconds"), "ts")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "user_id", "n")
    )
    out = run_to_memory(agg, spark, "sess", "append", str(tmp_path / "ck"))
    stream_rows = {(r.ws, r.user_id): r.n for r in out.collect()}
    batch_rows = {
        (r.ws, r.user_id): r.n
        for r in load_table(spark, "events", SF)
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "user_id", "n")
        .collect()
    }
    assert stream_rows == batch_rows


def test_streaming_interval_join_matches_batch(spark, tmp_path, events_pdf):
    """J2 streaming: stream-stream inner join with a time-range condition
    and watermarks on both sides (IntervalJoin.java:40-54, [-2s,+1s]
    scaled to the fixture's minutes)."""
    clicks_pdf = events_pdf[events_pdf["event_type"] == "click"]
    purch_pdf = events_pdf[events_pdf["event_type"] == "purchase"]
    d1 = write_chunks(clicks_pdf, str(tmp_path / "c"), 2)
    d2 = write_chunks(purch_pdf, str(tmp_path / "p"), 2)
    clicks = (
        file_stream(spark, d1, os.path.join(d1, "000.parquet"))
        .withWatermark("ts", "10 minutes")
        .select(F.col("user_id").alias("cu"), F.col("event_id").alias("click_id"),
                F.col("ts").alias("cts"))
    )
    purchases = (
        file_stream(spark, d2, os.path.join(d2, "000.parquet"))
        .withWatermark("ts", "10 minutes")
        .select(F.col("user_id").alias("pu"), F.col("event_id").alias("purchase_id"),
                F.col("ts").alias("pts"))
    )
    cond = (
        (F.col("cu") == F.col("pu"))
        & (F.col("pts") >= F.col("cts"))
        & (F.col("pts") <= F.col("cts") + F.expr("INTERVAL 30 MINUTES"))
    )
    out = run_to_memory(
        clicks.join(purchases, cond).select("cu", "click_id", "purchase_id"),
        spark, "ij", "append", str(tmp_path / "ck"),
    )
    stream_pairs = {(r.click_id, r.purchase_id) for r in out.collect()}

    ev = load_table(spark, "events", SF)
    bc = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("event_id").alias("click_id"),
        F.col("ts").alias("cts"))
    bp = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("pts"))
    batch_pairs = {
        (r.click_id, r.purchase_id)
        for r in bc.join(bp, cond).select("click_id", "purchase_id").collect()
    }
    assert stream_pairs == batch_pairs


def test_streaming_late_rows_dropped_after_watermark(spark, tmp_path):
    """E4/E7: rows older than the watermark are dropped from windowed
    aggregation (Spark does not re-fire closed windows; the reference's
    allowedLateness re-fire is a documented divergence, SURVEY.md §7.4.4)."""
    frames = [
        pd.DataFrame({
            "ts": pd.to_datetime(["2024-01-01 00:01:00", "2024-01-01 02:00:00"]),
            "k": ["a", "a"],
        }),
        pd.DataFrame({"ts": pd.to_datetime(["2024-01-01 02:30:00"]), "k": ["a"]}),
        # 2.5 h behind the stream head — far past the 10 min threshold.
        # (The watermark filter lags one batch: batch N filters with the
        # watermark computed after batch N-1, hence the middle batch.)
        pd.DataFrame({"ts": pd.to_datetime(["2024-01-01 00:02:00"]), "k": ["a"]}),
    ]
    d = str(tmp_path / "in")
    os.makedirs(d)
    now = time.time() - 10
    for i, f in enumerate(frames):
        p = os.path.join(d, f"{i:03d}.parquet")
        f.to_parquet(p, index=False)
        os.utime(p, (now + i, now + i))

    src = file_stream(spark, d, os.path.join(d, "000.parquet"))
    agg = (
        src.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "k")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    out = run_to_memory(agg, spark, "late", "append", str(tmp_path / "ck"))
    rows = {r.ws.hour: r.n for r in out.collect()}
    # the 00:00 window closed once the watermark passed 01:50; the late
    # 00:02 row must NOT appear (count stays 1, no re-fire)
    assert rows.get(0) == 1


def test_streaming_cep_matches_batch_exactly(spark, tmp_path, events_pdf):
    """C1-C5 streaming: the GroupState NFA over chunked replay finds
    EXACTLY the batch NFA's strict A<B<C-purchase match set — including
    starts still inside the ``within`` horizon of the stream head,
    which the per-key finalize sentinels drain at end-of-input (the
    reference's final MAX watermark; D1 closed for bounded runs)."""
    from flink_examples_spark.operators.cep import Pat, match_recognize
    from flink_examples_spark.streaming.finalize import (
        write_finalize_sentinel,
    )
    from flink_examples_spark.streaming.stateful import streaming_cep

    def b_where(row, ctx):
        prev = ctx.last(1)
        return prev is not None and row["value"] > prev["value"]

    def c_where(row, ctx):
        prev = ctx.last(1)
        return (prev is not None and row["value"] > prev["value"]
                and row["event_type"] == "purchase")

    pattern = [
        Pat("A"),
        Pat("B", where=b_where, contiguity="strict"),
        Pat("C", where=c_where, contiguity="strict"),
    ]
    within_ms = 6 * 3600 * 1000

    def s_measures(vars_map):
        return {"a_id": int(vars_map["A"][0]["event_id"]),
                "a_ts": int(vars_map["A"][0]["ts"]),
                "c_id": int(vars_map["C"][0]["event_id"])}

    d = write_chunks(events_pdf, str(tmp_path / "in"), 4)
    # streaming_cep tracks its horizon per key, not via the query
    # watermark: one sentinel row per key drains every key's buffer
    write_finalize_sentinel(
        d, events_pdf, "ts",
        key_col="user_id", keys=sorted(events_pdf["user_id"].unique()),
    )
    src = file_stream(spark, d, os.path.join(d, "000.parquet")).select(
        "user_id", "event_id", "ts", "value", "event_type"
    )
    out = run_to_memory(
        streaming_cep(
            src, key="user_id", ts_col="ts", pattern=pattern,
            measures=s_measures,
            output_schema="user_id long, a_id long, a_ts long, c_id long",
            within_ms=within_ms, order_cols=["ts", "event_id"],
        ),
        spark, "cep_stream", "append", str(tmp_path / "ck"),
    )
    stream_matches = {(r.user_id, r.a_id, r.c_id) for r in out.collect()}

    def b_measures(vars_map):
        return {"a_id": int(vars_map["A"][0]["event_id"]),
                "a_ts": int(vars_map["A"][0]["ts"].value // 1_000_000),
                "c_id": int(vars_map["C"][0]["event_id"])}

    ev = load_table(spark, "events", SF).select(
        "user_id", "event_id", "ts", "value", "event_type"
    )
    batch = match_recognize(
        ev, partition_by=["user_id"], order_by=["ts", "event_id"],
        pattern=pattern, measures=b_measures,
        output_schema="user_id long, a_id long, a_ts long, c_id long",
        within=f"{within_ms} ms", ts_col="ts",
    ).collect()
    batch_all = {(r.user_id, r.a_id, r.c_id) for r in batch}
    assert stream_matches == batch_all
    assert stream_matches  # non-vacuous


def test_stream_static_broadcast_dim_join(spark, tmp_path, events_pdf):
    """J3 streaming: stream-static join — the streaming fact side joins
    the (re-read-per-batch) static dimension, Spark's native form of the
    broadcast MapState dimension (BroadcastDimension.java:92-126)."""
    d = write_chunks(events_pdf.head(200), str(tmp_path / "in"), 2)
    src = file_stream(spark, d, os.path.join(d, "000.parquet"))
    nation = load_table(spark, "nation", SF).select(
        (F.col("n_nationkey") % 25).alias("nk"), "n_name"
    )
    joined = src.withColumn("nk", F.col("user_id") % 25).join(
        F.broadcast(nation), "nk"
    ).select("event_id", "n_name")
    out = run_to_memory(joined, spark, "ssj", "append", str(tmp_path / "ck"))
    got = {(r.event_id, r.n_name) for r in out.collect()}
    nmap = {r.nk: r.n_name for r in nation.collect()}
    expected = {
        (int(r.event_id), nmap[int(r.user_id) % 25])
        for r in events_pdf.head(200).itertuples(index=False)
    }
    assert got == expected


def test_rate_events_columns_are_functions_of_event_id(spark, tmp_path):
    """S6: a short run of ``rate_events`` into a memory sink. Every
    column but the tick's own ``ts`` is a pure function of ``event_id``,
    so a replayed tick yields the same row; ``ts`` rises with the tick."""
    from flink_examples_spark.streaming.sources import rate_events

    kinds = ["view", "click", "purchase", "signup", "error"]
    q = (
        rate_events(spark, rows_per_second=200, n_users=7)
        .writeStream.format("memory").queryName("rate_events")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        drain_and_stop(q, 100)
    finally:
        q.stop()
    rows = sorted(spark.sql("SELECT * FROM rate_events").collect(),
                  key=lambda r: r.event_id)
    assert len(rows) >= 100
    assert [r.event_id for r in rows] == list(range(len(rows)))
    for r in rows:
        e = r.event_id
        assert (r.user_id, r.event_type, r.value) == (
            e % 7,
            kinds[e * 2654435761 % 5],
            (e * 1103515245 + 12345) % 50000 / 100.0,
        )
    assert all(a.ts <= b.ts for a, b in zip(rows, rows[1:]))


def test_checkpoint_recovery_processes_only_new_files(spark, tmp_path):
    """ST8: restarting a query on the same checkpointLocation resumes
    from committed offsets — the second run must process only files
    added after the first run (Checkpointing.java:28-47 externalized
    retain semantics are Spark's default)."""
    d = str(tmp_path / "in")
    os.makedirs(d)
    now = time.time() - 10
    for i in range(2):
        pd.DataFrame({"v": [i]}).to_parquet(os.path.join(d, f"{i:03d}.parquet"))
        os.utime(os.path.join(d, f"{i:03d}.parquet"), (now + i, now + i))
    ck = str(tmp_path / "ck")

    def run_once(run_rows):
        src = file_stream(spark, d, os.path.join(d, "000.parquet"))
        q = (
            src.writeStream.foreachBatch(
                lambda bdf, bid: run_rows.extend(r.v for r in bdf.collect())
            )
            .trigger(availableNow=True)
            .option("checkpointLocation", ck)
            .start()
        )
        q.awaitTermination(120)

    first: list = []
    run_once(first)
    assert sorted(first) == [0, 1]

    pd.DataFrame({"v": [2]}).to_parquet(os.path.join(d, "002.parquet"))
    os.utime(os.path.join(d, "002.parquet"), (now + 5, now + 5))
    second: list = []
    run_once(second)
    # same checkpoint -> the restarted query sees only the new file
    assert sorted(second) == [2]


def test_streaming_windowed_topn_foreach_batch(spark, tmp_path, events_pdf):
    """T1 streaming: windowed counts in append mode, ranked per closed
    window inside foreachBatch (HotItems.java:79-147's timer-at-
    windowEnd+1 == rank rows arriving after the watermark closes the
    window)."""
    from flink_examples_spark.operators.topn import top_n_per_group
    from flink_examples_spark.streaming.finalize import (
        drop_finalize,
        write_finalize_sentinel,
    )

    d = write_chunks(events_pdf, str(tmp_path / "in"), 3)
    write_finalize_sentinel(d, events_pdf, "ts")
    src = file_stream(spark, d, os.path.join(d, "000.parquet"))
    agg = (
        drop_finalize(src.withWatermark("ts", "0 seconds"), "ts")
        .groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.end").alias("window_end"), "event_type", "n")
    )
    collected: list = []

    def rank_batch(batch_df, batch_id):
        top = top_n_per_group(
            batch_df, ["window_end"], [F.desc("n"), F.asc("event_type")],
            n=2, rank_col="rnk",
        )
        collected.extend(
            (r.window_end, r.event_type, r.n, r.rnk) for r in top.collect()
        )

    q = (
        agg.writeStream.foreachBatch(rank_batch)
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.awaitTermination(180)

    batch_top = {
        (r.window_end, r.event_type, r.n, r.rnk)
        for r in top_n_per_group(
            load_table(spark, "events", SF)
            .groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.end").alias("window_end"), "event_type", "n"),
            ["window_end"], [F.desc("n"), F.asc("event_type")],
            n=2, rank_col="rnk",
        ).collect()
    }
    got = set(collected)
    # append mode emits each closed window exactly once; the finalize
    # sentinel closes the tail windows too (D1) — exact equality
    assert got == batch_top


def test_rolling_file_sink_buckets_by_hour(spark, tmp_path, events_pdf):
    """K2/K3: the rolling file sink partitions part files by event-time
    bucket (DateTimeBucketAssigner yyyy-MM-dd--HH,
    FsRowFormatSink.java:44-64); files finalize per micro-batch commit;
    the bucket column makes downstream scans partition-prunable."""
    from flink_examples_spark.streaming.sinks import rolling_file_sink

    d = write_chunks(events_pdf.head(500), str(tmp_path / "in"), 2)
    src = file_stream(spark, d, os.path.join(d, "000.parquet"))
    out_dir = str(tmp_path / "out")
    q = (
        rolling_file_sink(
            src.select("event_id", "ts"),
            out_dir,
            str(tmp_path / "ck"),
            fmt="parquet",
            bucket_by_time="yyyy-MM-dd--HH",
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    buckets = sorted(
        f.split("=")[1] for f in os.listdir(out_dir) if f.startswith("bucket=")
    )
    expected = sorted(
        events_pdf.head(500)["ts"].dt.strftime("%Y-%m-%d--%H").unique()
    )
    assert buckets == expected
    back = spark.read.parquet(out_dir)
    assert back.count() == 500
    # partition pruning: a single-bucket read scans one directory
    one = back.filter(F.col("bucket") == buckets[0])
    from flink_examples_spark.plans import formatted_plan
    assert f"bucket = {buckets[0]}" in formatted_plan(one) \
        or "PartitionFilters" in formatted_plan(one)


def test_rolling_file_sink_writes_lz4_orc(spark, tmp_path, events_pdf):
    """K3 bulk format (FsBulkFormatSink.java:46-50): ``fmt='orc',
    compression='lz4'`` writes LZ4-compressed ORC part files under
    event-time hour buckets, and the rows read back equal the input."""
    import pyarrow.orc as orc

    from flink_examples_spark.streaming.sinks import rolling_file_sink

    pdf = events_pdf.head(500)
    d = write_chunks(pdf, str(tmp_path / "in"), 2)
    src = file_stream(spark, d, os.path.join(d, "000.parquet"))
    out_dir = str(tmp_path / "out")
    q = (
        rolling_file_sink(
            src.select("event_id", "ts"),
            out_dir,
            str(tmp_path / "ck"),
            fmt="orc",
            compression="lz4",
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    parts = [
        os.path.join(root, f)
        for root, _, files in os.walk(out_dir)
        for f in files
        if f.startswith("part-") and f.endswith(".orc")
    ]
    assert parts
    assert {orc.ORCFile(p).compression for p in parts} == {"LZ4"}

    stamp = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    back = spark.read.orc(out_dir)
    got = sorted(
        (r.event_id, r.ts, r.bucket)
        for r in back.select(
            "event_id",
            F.date_format("ts", stamp).alias("ts"),
            "bucket",
        ).collect()
    )
    want = sorted(
        zip(
            pdf["event_id"].tolist(),
            pdf["ts"].dt.strftime("%Y-%m-%d %H:%M:%S.%f").tolist(),
            pdf["ts"].dt.strftime("%Y-%m-%d--%H").tolist(),
        )
    )
    assert got == want
    buckets = {
        f.split("=", 1)[1] for f in os.listdir(out_dir)
        if f.startswith("bucket=")
    }
    assert buckets == {b for _, _, b in want}


def test_streaming_dedup_ttl_expires_and_re_emits(spark, tmp_path):
    """ST6 TTL semantics (StateTtl.java OnCreateAndWrite): when the TTL
    fires with no data the key's state is dropped — not re-created — so
    a later re-occurrence is treated as brand new and re-emitted
    (ADVICE r1 stateful.py:228)."""
    from flink_examples_spark.streaming.stateful import streaming_dedup_ttl

    d = str(tmp_path / "in")
    os.makedirs(d)
    ck = str(tmp_path / "ck")

    def emit_run(name, n_new_rows):
        # memory sink can't recover from a checkpoint; foreachBatch can,
        # and runs on the driver so collecting into a local list is fine.
        rows: list = []
        src = file_stream(spark, d, os.path.join(d, "000.parquet"))
        q = (
            streaming_dedup_ttl(src, ["fp"], ttl_ms=100)
            .writeStream.foreachBatch(
                lambda bdf, _bid: rows.extend(bdf.collect())
            )
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", ck)
            .start()
        )
        drain_and_stop(q, n_new_rows)
        return sorted(r.fp for r in rows)

    pd.DataFrame({"fp": ["a", "b", "a"]}).to_parquet(
        os.path.join(d, "000.parquet"), index=False
    )
    assert emit_run("ttl_r1", 3) == ["a", "b"]

    time.sleep(0.5)  # let the 100 ms TTL lapse in wall clock
    pd.DataFrame({"fp": ["zz"]}).to_parquet(
        os.path.join(d, "001.parquet"), index=False
    )
    # this run's batch fires the expired timeouts for a/b (no data rows)
    assert emit_run("ttl_r2", 1) == ["zz"]

    pd.DataFrame({"fp": ["a"]}).to_parquet(
        os.path.join(d, "002.parquet"), index=False
    )
    # the expired key re-occurs -> brand new -> re-emitted
    assert emit_run("ttl_r3", 1) == ["a"]


def test_streaming_cep_timed_out_partial_across_trigger_boundary(
    spark, tmp_path
):
    """C4 streaming (cep/CEPTimeout.java:59-103): a begun-but-incomplete
    match whose ``within`` horizon passes in a LATER trigger emits as a
    timed-out partial (discriminator column side output) instead of
    silently evicting — mirroring the batch timeout_measures contract
    (tests/test_cep.py::test_within_timeout_partial_match_side_output)."""
    from flink_examples_spark.operators.cep import Pat
    from flink_examples_spark.streaming.stateful import streaming_cep

    base = pd.Timestamp("2020-01-01 00:00:00")
    m = pd.Timedelta(minutes=1)
    d = str(tmp_path / "in")
    os.makedirs(d)
    now = time.time() - 10
    # trigger 0: order_1 completes; order_2 begins (never pays);
    # order_3 begins and pays too late WITHIN the same trigger.
    pd.DataFrame(
        {
            "order_id": ["order_1", "order_1", "order_2", "order_3",
                         "order_3"],
            "action": ["create", "pay", "create", "create", "pay"],
            "ts": [base, base + 5 * m, base, base, base + 20 * m],
        }
    ).to_parquet(os.path.join(d, "000.parquet"), index=False)
    os.utime(os.path.join(d, "000.parquet"), (now, now))
    # trigger 1: an unrelated later event on order_2's key advances its
    # horizon past create+10min -> the partial times out HERE.
    pd.DataFrame(
        {
            "order_id": ["order_2"],
            "action": ["ship"],
            "ts": [base + 20 * m],
        }
    ).to_parquet(os.path.join(d, "001.parquet"), index=False)
    os.utime(os.path.join(d, "001.parquet"), (now + 1, now + 1))

    pattern = [
        Pat("create", where=lambda r, c: r["action"] == "create",
            contiguity="strict"),
        Pat("pay", where=lambda r, c: r["action"] == "pay",
            contiguity="relaxed"),
    ]

    def measures(vars_map):
        return {"timed_out": False}

    def timeout_measures(vars_map):
        return {"timed_out": True}

    batches: list = []
    src = file_stream(spark, d, os.path.join(d, "000.parquet"))
    q = (
        streaming_cep(
            src, key="order_id", ts_col="ts", pattern=pattern,
            measures=measures,
            output_schema="order_id string, timed_out boolean",
            within_ms=10 * 60 * 1000,
            order_cols=["ts"],
            timeout_measures=timeout_measures,
        )
        .writeStream.foreachBatch(
            lambda bdf, bid: batches.append((bid, bdf.collect()))
        )
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.awaitTermination(180)

    rows = {(r.order_id, r.timed_out) for _, b in batches for r in b}
    assert rows == {
        ("order_1", False),   # paid in time -> real match
        ("order_2", True),    # never paid -> timed-out partial
        ("order_3", True),    # paid too late -> timed-out partial
    }
    # order_2's timeout must fire in the SECOND trigger (its horizon
    # only passes when the later event arrives across the boundary).
    by_batch = {bid: {(r.order_id, r.timed_out) for r in b}
                for bid, b in batches if b}
    late_batches = [bid for bid, s in by_batch.items()
                    if ("order_2", True) in s]
    assert late_batches and min(late_batches) >= 1, by_batch


def test_idle_aware_union_windows_fire_despite_idle_leg(
    spark, tmp_path, events_pdf
):
    """E5 (Flink Window.md §2.4 withIdleness): under Spark's default
    ``min`` multiple-watermark policy an idle union leg pins the global
    watermark at zero and append-mode windows never finalize; the
    idle_aware_union helper (policy=max) lets the active leg drive the
    watermark so windows fire."""
    from flink_examples_spark.streaming.watermarks import (
        idle_aware_union,
        multiple_watermark_policy,
    )

    head = events_pdf.head(400)
    active_dir = write_chunks(head, str(tmp_path / "active"), 2)
    idle_dir = str(tmp_path / "idle")
    os.makedirs(idle_dir)
    schema_file = os.path.join(active_dir, "000.parquet")

    def windowed(policy, name):
        legs = [
            file_stream(spark, d, schema_file).select("ts", "value")
            for d in (active_dir, idle_dir)
        ]
        agg = (
            idle_aware_union(legs, "ts", "0 seconds")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
        )
        with multiple_watermark_policy(spark, policy):
            return run_to_memory(
                agg, spark, name, "append", str(tmp_path / f"ck_{name}")
            ).collect()

    assert windowed("min", "idle_min") == []  # stalled: the D4 problem
    fired = windowed("max", "idle_max")
    # the context manager restored the session conf on exit
    assert spark.conf.get(
        "spark.sql.streaming.multipleWatermarkPolicy", None
    ) is None
    assert fired  # idle leg no longer stalls emission
    # every hour window strictly below the final watermark fired
    max_ts = head["ts"].max()
    expected = {
        (ts.floor("h"), n)
        for ts, n in head.groupby(head["ts"].dt.floor("h"))["ts"].count().items()
        if ts.floor("h") + pd.Timedelta(hours=1) <= max_ts
    }
    got = {(pd.Timestamp(r.w.start), r.n) for r in fired}
    assert expected <= got


def test_lateness_classifier_three_way_split(spark, tmp_path):
    """E7/D2 (Flink Window.md §2.5 allowed lateness): rows label
    on_time / late (within grace) / expired (Flink's late side output)
    against the running watermark, which lags one batch like Spark's
    own filter."""
    from flink_examples_spark.streaming.watermarks import lateness_classifier

    t = lambda m: pd.Timestamp("2020-01-01 10:00:00") + pd.Timedelta(minutes=m)
    d = str(tmp_path / "in")
    os.makedirs(d)
    now = time.time() - 10
    # batch 0: seeds the max (watermark still unset -> all on_time)
    pd.DataFrame({"rid": [0, 1], "ts": [t(0), t(5)]}).to_parquet(
        os.path.join(d, "000.parquet"), index=False
    )
    # batch 1: wm = 10:05 - 1min = 10:04; grace floor = 09:59
    #   rid 2 @10:06 on_time, rid 3 @10:03 late, rid 4 @09:30 expired
    pd.DataFrame({"rid": [2, 3, 4], "ts": [t(6), t(3), t(-30)]}).to_parquet(
        os.path.join(d, "001.parquet"), index=False
    )
    # batch 2: wm = 10:06 - 1min = 10:05; grace floor = 10:00
    #   rid 5 @10:04 late, rid 6 @09:59 expired, rid 7 @10:05 on_time
    pd.DataFrame({"rid": [5, 6, 7], "ts": [t(4), t(-1), t(5)]}).to_parquet(
        os.path.join(d, "002.parquet"), index=False
    )
    for i in range(3):
        os.utime(os.path.join(d, f"{i:03d}.parquet"), (now + i, now + i))

    labels: dict[int, str] = {}

    def collect(batch_df, batch_id):
        for r in batch_df.collect():
            labels[r.rid] = r.lateness

    src = file_stream(spark, d, os.path.join(d, "000.parquet"))
    q = (
        src.writeStream.foreachBatch(
            lateness_classifier("ts", 60_000, 5 * 60_000, collect)
        )
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.awaitTermination(180)

    assert labels == {
        0: "on_time", 1: "on_time",
        2: "on_time", 3: "late", 4: "expired",
        5: "late", 6: "expired", 7: "on_time",
    }


def test_run_with_restarts_resumes_from_checkpoint(spark, tmp_path):
    """ST10 (Checkpointing.java:72-90 fixedDelayRestart): a query that
    fails mid-run is restarted against the same checkpoint and resumes
    from the last committed batch — committed batches are not
    re-delivered, the failed batch replays, nothing is lost."""
    from flink_examples_spark.streaming.watermarks import run_with_restarts

    d = str(tmp_path / "in")
    os.makedirs(d)
    now = time.time() - 10
    for i, vals in enumerate(([1, 2], [3, 4])):
        p = os.path.join(d, f"{i:03d}.parquet")
        pd.DataFrame({"v": vals}).to_parquet(p, index=False)
        os.utime(p, (now + i, now + i))

    seen: list[int] = []
    flaky = {"armed": True}

    def sink(bdf, bid):
        rows = [r.v for r in bdf.collect()]
        if flaky["armed"] and bid == 1:
            flaky["armed"] = False
            raise RuntimeError("injected failure before commit")
        seen.extend(rows)

    def build():
        src = file_stream(spark, d, os.path.join(d, "000.parquet"))
        return (
            src.writeStream.foreachBatch(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ck"))
            .start()
        )

    q, n_restarts = run_with_restarts(build, max_restarts=2, delay_s=0.2)
    assert n_restarts == 1
    assert sorted(seen) == [1, 2, 3, 4]  # batch 0 once, batch 1 replayed

    # exhausted budget re-raises (NoRestart fallback)
    always = {"armed": True}

    def bad_sink(bdf, bid):
        raise RuntimeError("always fails")

    def build_bad():
        src = file_stream(spark, d, os.path.join(d, "000.parquet"))
        return (
            src.writeStream.foreachBatch(bad_sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ck_bad"))
            .start()
        )

    with pytest.raises(Exception):
        run_with_restarts(build_bad, max_restarts=1, delay_s=0.1)


def test_streaming_cep_relaxed_anchor_not_falsely_timed_out(
    spark, tmp_path
):
    """A greedy partial whose RELAXED first element anchors at a later
    row (the dead head row matched nothing) must stay buffered while its
    own horizon is open: no spurious timed_out row, and the match still
    completes when the closing row arrives in a later trigger."""
    from flink_examples_spark.operators.cep import Pat
    from flink_examples_spark.streaming.stateful import streaming_cep

    base = pd.Timestamp("2020-01-01 00:00:00")
    s = lambda x: base + pd.Timedelta(seconds=x)
    d = str(tmp_path / "in")
    os.makedirs(d)
    now = time.time() - 10
    frames = [
        # head row 'x' never matches; 'a' anchors at t=5
        pd.DataFrame({"k": ["g", "g"], "action": ["x", "a"],
                      "ts": [s(0), s(5)]}),
        # t=12 passes the head row's horizon (0+10<12) but NOT the
        # anchor's (5+10=15) -> buggy code emitted a timeout here
        pd.DataFrame({"k": ["g"], "action": ["noise"], "ts": [s(12)]}),
        # closing row within the anchor's window (13-5=8 <= 10)
        pd.DataFrame({"k": ["g"], "action": ["b"], "ts": [s(13)]}),
    ]
    for i, f in enumerate(frames):
        p = os.path.join(d, f"{i:03d}.parquet")
        f.to_parquet(p, index=False)
        os.utime(p, (now + i, now + i))

    pattern = [
        Pat("A", where=lambda r, c: r["action"] == "a", contiguity="relaxed"),
        Pat("B", where=lambda r, c: r["action"] == "b", contiguity="relaxed"),
    ]
    out_rows: list = []
    q = (
        streaming_cep(
            file_stream(spark, d, os.path.join(d, "000.parquet")),
            key="k", ts_col="ts", pattern=pattern,
            measures=lambda v: {"timed_out": False},
            output_schema="k string, timed_out boolean",
            within_ms=10_000, order_cols=["ts"],
            timeout_measures=lambda v: {"timed_out": True},
        )
        .writeStream.foreachBatch(
            lambda bdf, bid: out_rows.extend(bdf.collect())
        )
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.awaitTermination(180)
    assert [(r.k, r.timed_out) for r in out_rows] == [("g", False)]


def test_streaming_dedup_ttl_read_time_expiry(spark, tmp_path):
    """NeverReturnExpired's READ-time check: a key whose marker is older
    than the TTL re-emits even when no intermediate trigger fired its
    timeout (the stale state is ignored, not returned)."""
    from flink_examples_spark.streaming.stateful import streaming_dedup_ttl

    d = str(tmp_path / "in")
    os.makedirs(d)
    ck = str(tmp_path / "ck")

    def emit_run(fname, vals):
        p = os.path.join(d, fname)
        pd.DataFrame({"fp": vals}).to_parquet(p, index=False)
        rows: list = []
        src = file_stream(spark, d, p)
        q = (
            streaming_dedup_ttl(src, ["fp"], ttl_ms=100)
            .writeStream.foreachBatch(
                lambda bdf, _bid: rows.extend(bdf.collect())
            )
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", ck)
            .start()
        )
        drain_and_stop(q, len(vals))
        return sorted(r.fp for r in rows)

    assert emit_run("000.parquet", ["a", "a"]) == ["a"]
    time.sleep(0.5)  # TTL (100 ms) long expired, no trigger ran
    # same key arrives WITH data in the same trigger its timer would
    # fire: the read path must treat the stale marker as absent
    assert emit_run("001.parquet", ["a"]) == ["a"]


def test_parquet_upsert_recovers_from_crashed_overwrite(spark, tmp_path):
    """K6 crash recovery: if a crash between the target delete and
    rewrite leaves only the tmp stage, the replayed batch merges against
    that rescue copy — no pre-crash rows are lost."""
    import shutil

    from flink_examples_spark.streaming.sinks import (
        parquet_upsert_foreach_batch,
    )

    target = str(tmp_path / "tbl")
    write = parquet_upsert_foreach_batch(target, ["k"])
    write(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"), 0)

    # simulate the crash window of batch 1: the merged stage exists,
    # the target overwrite never completed (target destroyed)
    crash_tmp = target + ".tmp-1-deadbeef"
    shutil.copytree(target, crash_tmp)
    shutil.rmtree(target)

    # replay of batch 1 must recover the rescue copy, not clobber it
    write(spark.createDataFrame([(2, "b2"), (3, "c")], "k long, v string"), 1)
    got = {(r.k, r.v) for r in spark.read.parquet(target).collect()}
    assert got == {(1, "a"), (2, "b2"), (3, "c")}
    assert [p for p in os.listdir(tmp_path) if ".tmp-" in p] == []

    # harder crash: the target is PARTIALLY committed (part files moved
    # but no _SUCCESS marker) — the committed rescue copy must win over
    # the half-written target
    crash_tmp2 = target + ".tmp-2-cafebabe"
    shutil.copytree(target, crash_tmp2)
    os.remove(os.path.join(target, "_SUCCESS"))
    parts = [f for f in os.listdir(target) if f.endswith(".parquet")]
    os.remove(os.path.join(target, parts[0]))  # half-moved commit
    write(spark.createDataFrame([(4, "d")], "k long, v string"), 2)
    got2 = {(r.k, r.v) for r in spark.read.parquet(target).collect()}
    assert got2 == {(1, "a"), (2, "b2"), (3, "c"), (4, "d")}


def test_streaming_corpus_hygiene_matches_batch(spark, tmp_path):
    """Corpus-hygiene ops compose with Structured Streaming: the
    stateless quality gate + PII scrub run per-microbatch unchanged,
    and decontamination becomes a stream-static broadcast semi-join
    (eval shingles are static/tiny) + streaming dropDuplicates — the
    same verdicts the batch operators produce."""
    from flink_examples_spark.functions import text as T
    from flink_examples_spark.functions.pii import pii_scrub
    from flink_examples_spark.operators.decontam import ngram_decontaminate
    from flink_examples_spark.operators.dedup import shingles
    from flink_examples_spark.operators.sampling import hash_split

    docs = load_table(spark, "documents", SF)
    split = hash_split(
        docs, "doc_id", weights=(("eval", 0.1), ("train", 0.9)),
        salt="decontam",
    )
    train_pdf = split.filter(F.col("split") == "train") \
        .select("doc_id", "text").toPandas()
    eval_df = split.filter(F.col("split") == "eval").select("doc_id", "text")

    # batch truth
    batch = {
        r["doc_id"]: r["verdict"]
        for r in ngram_decontaminate(
            split.filter(F.col("split") == "train"), eval_df,
            "doc_id", "text", n=3,
        ).collect()
    }
    batch_contaminated = {k for k, v in batch.items() if v == "contaminated"}

    d = write_chunks(train_pdf, str(tmp_path / "in"), 3)
    src = file_stream(spark, d, os.path.join(d, "000.parquet"))

    # stateless leg: quality verdict + scrub hash per micro-batch row
    stateless = src.select(
        "doc_id",
        (T.token_count("text") >= 10).alias("long_enough"),
        F.md5(pii_scrub("text")).alias("scrub_hash"),
    )
    out1 = run_to_memory(stateless, spark, "hyg1", "append",
                         str(tmp_path / "ck1"))
    got1 = {r.doc_id: (r.long_enough, r.scrub_hash) for r in out1.collect()}
    exp1 = {
        r["doc_id"]: (r["long_enough"], r["scrub_hash"])
        for r in split.filter(F.col("split") == "train").select(
            "doc_id",
            (T.token_count("text") >= 10).alias("long_enough"),
            F.md5(pii_scrub("text")).alias("scrub_hash"),
        ).collect()
    }
    assert got1 == exp1

    # decontam leg: static eval shingle set, stream-static semi-join,
    # streaming dropDuplicates for the distinct contaminated ids
    ev_sh = F.broadcast(
        shingles(eval_df, "doc_id", "text", 3).select("shingle").distinct()
    )
    contaminated_stream = (
        shingles(src, "doc_id", "text", 3)
        .join(ev_sh, "shingle")
        .select("doc_id")
        .dropDuplicates(["doc_id"])
    )
    out2 = run_to_memory(contaminated_stream, spark, "hyg2", "append",
                         str(tmp_path / "ck2"))
    assert {r.doc_id for r in out2.collect()} == batch_contaminated


def test_streaming_sequence_pack_matches_batch(spark, tmp_path):
    """Streaming twin of sequence_pack: the per-key token prefix lives
    in GroupState across micro-batches, so an append-only id-ordered
    ingest packs row-for-row identically to the batch window
    formulation."""
    from flink_examples_spark.operators.packing import sequence_pack
    from flink_examples_spark.streaming.stateful import (
        streaming_sequence_pack,
    )

    docs = load_table(spark, "documents", SF)
    batch = {
        r["doc_id"]: (r["source"], r["n_tokens"], r["pack_id"])
        for r in sequence_pack(docs, "doc_id", "text", 128, "source").collect()
    }

    pdf = docs.select("source", "doc_id", "text").toPandas() \
        .sort_values("doc_id")  # append-only id-ordered ingest
    d = write_chunks(pdf, str(tmp_path / "in"), 4)
    src = file_stream(spark, d, os.path.join(d, "000.parquet"))
    packed = streaming_sequence_pack(src, "doc_id", "text", 128, "source")
    out = run_to_memory(packed, spark, "spack", "append",
                        str(tmp_path / "ck"))
    got = {r.doc_id: (r.source, r.n_tokens, r.pack_id)
           for r in out.collect()}
    assert got == batch
    # cross-batch state actually mattered: some key spans multiple bins
    assert len({(s, p) for s, _, p in got.values()}) > len(
        {s for s, _, _ in got.values()}
    )


def test_streaming_sharded_pack_matches_batch(spark, tmp_path):
    """The sharded (source × hash-shard) packing shape also streams:
    composite GroupState keys, one running prefix per (source, shard),
    row-identical to batch sequence_pack_sharded under an id-ordered
    replay."""
    from flink_examples_spark.operators.packing import sequence_pack_sharded
    from flink_examples_spark.streaming.stateful import (
        streaming_sequence_pack,
    )

    docs = load_table(spark, "documents", SF)
    batch = {
        r["doc_id"]: (r["source"], r["pack_shard"], r["n_tokens"], r["pack_id"])
        for r in sequence_pack_sharded(
            docs, "doc_id", "text", 128, "source", n_shards=4
        ).collect()
    }

    # shard assignment is a narrow deterministic expression — compute it
    # on the stream exactly as the batch operator does
    from pyspark.sql import functions as _F

    from flink_examples_spark.functions.text import hash60

    shard = _F.pmod(
        hash60(_F.concat(_F.col("doc_id").cast("string"), _F.lit("#pack"))),
        _F.lit(4),
    )
    pdf = docs.select("source", "doc_id", "text").toPandas() \
        .sort_values("doc_id")
    d = write_chunks(pdf, str(tmp_path / "in"), 4)
    src = file_stream(spark, d, os.path.join(d, "000.parquet")) \
        .withColumn("pack_shard", shard)
    packed = streaming_sequence_pack(
        src, "doc_id", "text", 128, ["source", "pack_shard"]
    )
    out = run_to_memory(packed, spark, "sspack", "append",
                        str(tmp_path / "ck"))
    got = {r.doc_id: (r.source, r.pack_shard, r.n_tokens, r.pack_id)
           for r in out.collect()}
    assert got == batch


def test_streaming_temperature_mixture_matches_batch(spark, tmp_path):
    """Streaming twin of temperature_mixture_sample: the per-stratum
    keep-rates are a tiny static aggregate (computed once from the
    corpus census, broadcast into the stream-static join); the per-row
    salted-hash decision is stateless — streamed keep set == batch."""
    from flink_examples_spark.operators.sampling import (
        _BUCKETS,
        _null_safe,
        _strata_bucket,
        temperature_mixture_sample,
    )

    docs = load_table(spark, "documents", SF)
    batch_kept = {r.doc_id for r in
                  temperature_mixture_sample(docs, "lang", "doc_id",
                                             alpha=0.7).collect()}

    # static rate table: same arithmetic as the batch operator
    counts = docs.select(_null_safe(F.col("lang")).alias("_sv")) \
        .groupBy("_sv").agg(F.count(F.lit(1)).alias("_n_s"))
    n_min = counts.agg(F.min("_n_s").alias("_n_min"))
    rates = counts.crossJoin(F.broadcast(n_min)).select(
        "_sv",
        F.round(F.pow(F.col("_n_s") / F.col("_n_min"), F.lit(0.7 - 1.0))
                * _BUCKETS, 0).cast("int").alias("_t"),
    )

    pdf = docs.select("doc_id", "lang").toPandas()
    d = write_chunks(pdf, str(tmp_path / "in"), 3)
    src = file_stream(spark, d, os.path.join(d, "000.parquet"))
    kept_stream = (
        src.withColumn("_b", _strata_bucket("doc_id", "lang", "temp"))
        .withColumn("_sv", _null_safe(F.col("lang")))
        .join(F.broadcast(rates), "_sv")
        .filter(F.col("_b") < F.col("_t"))
        .select("doc_id")
    )
    out = run_to_memory(kept_stream, spark, "smix", "append",
                        str(tmp_path / "ck"))
    assert {r.doc_id for r in out.collect()} == batch_kept
    assert batch_kept  # non-vacuous


def test_streaming_incremental_ingest_matches_batch(spark, tmp_path):
    """The daily-ingest dedup runs as a STREAM: delta documents arrive
    in micro-batches, their LSH band keys are computed per-row (the
    narrow array_min/transform formulation — no aggregation state), and
    a stream-static join against the staged corpus band index emits
    candidate pairs incrementally. Must equal the batch
    incremental_lsh_pairs 'corpus' family pair-for-pair."""
    from flink_examples_spark.operators.dedup import (
        incremental_lsh_pairs,
        minhash_band_keys,
    )
    from flink_examples_spark.operators.sampling import _bucket

    docs = load_table(spark, "documents", SF)
    b = _bucket("doc_id", "incr")
    corpus = docs.filter(b < 9000).select("doc_id", "text")
    delta = docs.filter(b >= 9000).select("doc_id", "text")
    corpus_bands = minhash_band_keys(corpus, "doc_id", "text") \
        .localCheckpoint()

    batch = {
        (r.doc_a, r.doc_b)
        for r in incremental_lsh_pairs(corpus_bands, delta,
                                       "doc_id", "text").collect()
        if r.against == "corpus"
    }

    d = write_chunks(delta.toPandas(), str(tmp_path / "in"), 3)
    src = file_stream(spark, d, os.path.join(d, "000.parquet"))
    sbands = minhash_band_keys(src, "doc_id", "text")  # narrow: stream-safe
    pairs = (
        sbands.alias("d")
        .join(
            corpus_bands.alias("c"),
            (F.col("c.band") == F.col("d.band"))
            & (F.col("c.band_key") == F.col("d.band_key"))
            & (F.col("c.doc_id") != F.col("d.doc_id")),
        )
        .select(
            F.least("c.doc_id", "d.doc_id").alias("doc_a"),
            F.greatest("c.doc_id", "d.doc_id").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    out = run_to_memory(pairs, spark, "sincr", "append",
                        str(tmp_path / "ck"))
    got = {(r.doc_a, r.doc_b) for r in out.collect()}
    assert got == batch
    assert batch  # non-vacuous: the fixture has cross-snapshot dups


def test_streaming_snapshot_diff_matches_batch(spark, tmp_path):
    """Streaming twin of snapshot_diff: v2 (today) streams against the
    static v1 fingerprint table via a stream-static left join —
    added/changed/unchanged verdicts per streamed row; 'removed' is
    inherently an absence (no v2 row ever arrives) so it's closed
    batch-side by anti-joining v1 against the streamed ids, mirroring
    how a daily job closes the books after the ingest drains."""
    from flink_examples_spark.functions.text import fingerprint_md5
    from flink_examples_spark.operators.diff import snapshot_diff
    from flink_examples_spark.operators.sampling import _bucket

    docs = load_table(spark, "documents", SF)
    b = _bucket("doc_id", "snap")
    v1 = docs.filter(b < 9500).select("doc_id", "text")
    v2 = docs.filter(b >= 500).select(
        "doc_id",
        F.when(F.col("doc_id") % 7 == 0,
               F.concat(F.col("text"), F.lit(" v2")))
        .otherwise(F.col("text")).alias("text"),
    )
    batch = {r.doc_id: r.verdict
             for r in snapshot_diff(v1, v2, "doc_id", "text").collect()}

    old_fp = v1.select("doc_id", fingerprint_md5("text").alias("_fp_old"))
    pdf = v2.toPandas()
    d = write_chunks(pdf, str(tmp_path / "in"), 3)
    src = file_stream(spark, d, os.path.join(d, "000.parquet"))
    verdicts = (
        src.withColumn("_fp_new", fingerprint_md5("text"))
        .join(old_fp, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("_fp_old").isNull(), "added")
            .when(F.col("_fp_old") != F.col("_fp_new"), "changed")
            .otherwise("unchanged").alias("verdict"),
        )
    )
    out = run_to_memory(verdicts, spark, "sdiff", "append",
                        str(tmp_path / "ck"))
    streamed = {r.doc_id: r.verdict for r in out.collect()}

    seen = spark.createDataFrame(
        [(i,) for i in streamed], "doc_id long"
    )
    removed = {r.doc_id for r in
               v1.join(seen, "doc_id", "left_anti").select("doc_id").collect()}
    combined = dict(streamed)
    combined.update({i: "removed" for i in removed})
    assert combined == batch
    assert set(batch.values()) == {"added", "removed", "changed", "unchanged"}


def test_streaming_image_phash_matches_batch(spark, tmp_path):
    """Streaming twin of the multimodal pHash stage: FIMG payload rows
    arriving as file-source micro-batches hash to exactly the batch
    values (image_phash is a stateless narrow mapInPandas, so the same
    operator object serves both planes untouched)."""
    from flink_examples_spark.operators.multimodal import (
        encode_fake_images,
        image_phash,
    )

    docs = load_table(spark, "documents", SF)
    imgs = encode_fake_images(
        docs, "doc_id", "text",
        width_expr="4 + doc_id % 4",
        height_expr="4 + n_chars % 4",
    )
    batch = {r.media_id: r.phash for r in image_phash(imgs).collect()}

    pdf = imgs.toPandas()
    d = write_chunks(pdf, str(tmp_path / "in"), 3)
    src = file_stream(spark, d, os.path.join(d, "000.parquet"))
    out = run_to_memory(
        image_phash(src), spark, "sphash", "append", str(tmp_path / "ck")
    )
    streamed = {r.media_id: r.phash for r in out.collect()}
    assert streamed == batch
    assert len(batch) == docs.count()


def test_streaming_nb_scoring_matches_batch(spark, tmp_path):
    """Streaming twin of the NB quality classifier in its production
    shape: the model (class-conditional token counts) trains OFFLINE on
    the full corpus, then each streaming micro-batch is scored against
    the static weight table inside foreachBatch — scoring is per-doc
    and the model is frozen, so streaming verdicts must equal the batch
    scorer's exactly."""
    from flink_examples_spark.operators.classify import (
        nb_score,
        nb_train_weights,
    )

    docs = load_table(spark, "documents", SF)
    weights = nb_train_weights(docs, "doc_id", "text")
    batch = {
        r["doc_id"]: (r["n_tokens"], r["good_sum"], r["bad_sum"],
                      r["verdict"])
        for r in nb_score(docs, weights, "doc_id", "text").collect()
    }

    pdf = docs.select("doc_id", "text").toPandas()
    d = write_chunks(pdf, str(tmp_path / "in"), 3)
    src = file_stream(spark, d, os.path.join(d, "000.parquet"))
    collected: dict = {}

    def score_batch(batch_df, batch_id):
        for r in nb_score(batch_df, weights, "doc_id", "text").collect():
            collected[r["doc_id"]] = (
                r["n_tokens"], r["good_sum"], r["bad_sum"], r["verdict"]
            )

    q = (
        src.writeStream.foreachBatch(score_batch)
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.awaitTermination(180)
    assert collected == batch


def test_streaming_dsir_scoring_matches_batch(spark, tmp_path):
    """Streaming twin of DSIR importance selection: the bucket table
    trains offline, each micro-batch scores against the frozen static
    weights in foreachBatch — verdicts must equal the batch scorer's."""
    from flink_examples_spark.operators.classify import (
        dsir_score,
        dsir_train_weights,
    )

    docs = load_table(spark, "documents", SF)
    weights = dsir_train_weights(
        docs, "doc_id", "text", F.col("lang") == "en"
    )
    batch = {
        r["doc_id"]: (r["n_feats"], r["target_sum"], r["raw_sum"],
                      r["selected"])
        for r in dsir_score(docs, weights, "doc_id", "text").collect()
    }

    pdf = docs.select("doc_id", "text").toPandas()
    d = write_chunks(pdf, str(tmp_path / "in"), 3)
    src = file_stream(spark, d, os.path.join(d, "000.parquet"))
    collected: dict = {}

    def score_batch(batch_df, batch_id):
        for r in dsir_score(batch_df, weights, "doc_id", "text").collect():
            collected[r["doc_id"]] = (
                r["n_feats"], r["target_sum"], r["raw_sum"], r["selected"]
            )

    q = (
        src.writeStream.foreachBatch(score_batch)
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.awaitTermination(180)
    assert collected == batch


def test_streaming_incremental_substring_strip_matches_batch(spark, tmp_path):
    """Streaming twin of incremental substring strip: the corpus chunk
    index is static (staged), delta docs arrive as a stream and are
    stripped per micro-batch. Within-delta canonical selection only
    sees its own micro-batch here, so the test streams the delta as a
    single chunk — cross-batch within-delta dedup is the corpus-index
    update's job between ingests (documented contract)."""
    from flink_examples_spark.operators.dedup import (
        incremental_substring_strip,
        substring_chunk_index,
    )
    from flink_examples_spark.operators.sampling import hash_split

    docs = hash_split(
        load_table(spark, "documents", SF), "doc_id",
        weights=(("corpus", 0.9), ("delta", 0.1)), salt="incr",
    )
    corpus = docs.filter(F.col("split") == "corpus")
    delta = docs.filter(F.col("split") == "delta").select("doc_id", "text")
    idx = substring_chunk_index(corpus, "doc_id", "text", k=16)
    batch = {
        r["doc_id"]: (r["n_chunks"], r["n_dropped"], r["kept_text"])
        for r in incremental_substring_strip(
            idx, delta, "doc_id", "text", k=16
        ).collect()
    }

    pdf = delta.toPandas()
    d = write_chunks(pdf, str(tmp_path / "in"), 1)
    src = file_stream(spark, d, os.path.join(d, "000.parquet"))
    collected: dict = {}

    def strip_batch(batch_df, batch_id):
        for r in incremental_substring_strip(
            idx, batch_df, "doc_id", "text", k=16
        ).collect():
            collected[r["doc_id"]] = (
                r["n_chunks"], r["n_dropped"], r["kept_text"]
            )

    q = (
        src.writeStream.foreachBatch(strip_batch)
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.awaitTermination(180)
    assert collected == batch


def test_streaming_dedup_ttl_long_keys(spark, tmp_path):
    """Review regression: dedup key columns keep their input types (a
    long key used to be declared string in the state schema and crash
    Arrow conversion on first emit)."""
    from flink_examples_spark.streaming.stateful import streaming_dedup_ttl

    pdf = pd.DataFrame({"uid": [7, 7, 9, 9, 9]})
    d = write_chunks(pdf, str(tmp_path / "in"), 1)
    src = file_stream(spark, d, os.path.join(d, "000.parquet"))
    out = run_to_memory(
        streaming_dedup_ttl(src, ["uid"]), spark, "ddlk", "append",
        str(tmp_path / "ck"),
    )
    assert sorted(r.uid for r in out.collect()) == [7, 9]


def test_streaming_asof_enrich_matches_batch(spark, tmp_path):
    """Streaming as-of (latest prior click enriches each purchase via
    per-key ValueState) == batch sorted-union asof_join when the input
    replays in event-time order."""
    from flink_examples_spark.operators.joins import asof_join
    from flink_examples_spark.streaming.stateful import streaming_asof_enrich

    events = load_table(spark, "events", SF)
    c = events.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.lit(0).alias("side"),
        F.lit(None).cast("long").alias("left_id"),
        F.col("event_id").alias("payload"),
        F.col("event_id").alias("ord"),
    )
    p = events.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(1).alias("side"),
        F.col("event_id").alias("left_id"),
        F.lit(None).cast("long").alias("payload"),
        F.lit(None).cast("long").alias("ord"),
    )
    tagged_pdf = (
        c.unionByName(p)
        .orderBy("ts", "side", F.asc_nulls_last("ord"))
        .toPandas()
    )
    d = write_chunks(tagged_pdf, str(tmp_path / "in"), 4)
    src = file_stream(spark, d, os.path.join(d, "000.parquet"))
    out = run_to_memory(
        streaming_asof_enrich(src, "user_id"),
        spark,
        "asof_stream",
        "append",
        str(tmp_path / "ck"),
    )
    got = {r["left_id"]: r["payload"] for r in out.collect()}

    pb = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    cb = events.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("cts"), F.col("event_id").alias("click_id")
    )
    want = {
        r["purchase_id"]: r["click_id"]
        for r in asof_join(
            pb, cb, "user_id", "ts", "cts", ["click_id"],
            right_order="click_id",
        ).collect()
    }
    assert got == want and len(got) > 0


def test_streaming_funnel_matches_batch(spark, tmp_path):
    """Streaming ordered-funnel state machine == batch cascaded-window
    funnel: same per-user first-completion times for every step, at
    full microsecond precision."""
    from flink_examples_spark.operators.journey import funnel_first_times
    from flink_examples_spark.streaming.stateful import (
        streaming_funnel_first_times,
    )

    steps = ["view", "click", "purchase"]
    events = load_table(spark, "events", SF)
    pdf = (
        events.select("user_id", "ts", "event_type")
        .orderBy("ts", "event_type")
        .toPandas()
    )
    d = write_chunks(pdf, str(tmp_path / "in"), 4)
    src = file_stream(spark, d, os.path.join(d, "000.parquet"))
    out = run_to_memory(
        streaming_funnel_first_times(src, "user_id", "ts", "event_type", steps),
        spark,
        "funnel_stream",
        "append",
        str(tmp_path / "ck"),
    )
    got = {
        (r["user_key"], r["step"]): r["first_ts_us"] for r in out.collect()
    }

    batch = funnel_first_times(events, "user_id", "ts", "event_type", steps)
    want = {}
    for r in batch.collect():
        for s in steps:
            t = r[f"t_{s}"]
            if t is not None:
                want[(r["user_key"], s)] = int(
                    pd.Timestamp(t).value // 1_000
                )
    assert got == want and len(got) > 0
    # a step's first time never precedes the prior step's
    for (u, s), t in got.items():
        i = steps.index(s)
        if i:
            assert t > got[(u, steps[i - 1])]


def test_streaming_asof_state_survives_restart(spark, tmp_path):
    """The as-of ValueState must survive a query restart (ST8 x as-of):
    feed the first half of the tagged stream, stop, feed the second
    half on the SAME checkpoint — the union of outputs must equal the
    single-run batch asof_join, including matches whose click arrived
    before the restart and purchase after it."""
    from flink_examples_spark.operators.joins import asof_join
    from flink_examples_spark.streaming.stateful import streaming_asof_enrich

    events = load_table(spark, "events", SF)
    c = events.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.lit(0).alias("side"),
        F.lit(None).cast("long").alias("left_id"),
        F.col("event_id").alias("payload"),
        F.col("event_id").alias("ord"),
    )
    p = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.lit(1).alias("side"),
        F.col("event_id").alias("left_id"),
        F.lit(None).cast("long").alias("payload"),
        F.lit(None).cast("long").alias("ord"),
    )
    tagged = (
        c.unionByName(p)
        .orderBy("ts", "side", F.asc_nulls_last("ord"))
        .toPandas()
    )
    d = str(tmp_path / "in")
    os.makedirs(d)
    now = time.time() - 10
    half = len(tagged) // 2
    tagged.iloc[:half].to_parquet(os.path.join(d, "000.parquet"), index=False)
    os.utime(os.path.join(d, "000.parquet"), (now, now))
    ck = str(tmp_path / "ck")

    def run_once():
        # foreachBatch, not the memory sink: memory-sink queries refuse
        # checkpoint recovery, and recovery is the point of this test
        rows: list = []
        src = file_stream(spark, d, os.path.join(d, "000.parquet"))
        q = (
            streaming_asof_enrich(src, "user_id")
            .writeStream.foreachBatch(
                lambda bdf, bid: rows.extend(bdf.collect())
            )
            .trigger(availableNow=True)
            .option("checkpointLocation", ck)
            .start()
        )
        q.awaitTermination(120)
        return rows

    out1 = run_once()

    tagged.iloc[half:].to_parquet(os.path.join(d, "001.parquet"), index=False)
    os.utime(os.path.join(d, "001.parquet"), (now + 3, now + 3))
    out2 = run_once()

    got = {r["left_id"]: r["payload"] for r in [*out1, *out2]}

    pb = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    cb = events.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("cts"), F.col("event_id").alias("click_id")
    )
    want = {
        r["purchase_id"]: r["click_id"]
        for r in asof_join(pb, cb, "user_id", "ts", "cts", ["click_id"],
                           right_order="click_id").collect()
    }
    assert got == want
    # the restart must not re-emit first-run rows
    assert len(out1) + len(out2) == len(want)


def test_streaming_asof_submillisecond_ordering(spark, tmp_path):
    """Two right rows 800 µs apart with DESCENDING ord: the later
    timestamp must win (full-microsecond state), not the higher ord —
    millisecond truncation would bucket them together and let the ord
    tiebreak override true event-time order."""
    from flink_examples_spark.streaming.stateful import streaming_asof_enrich

    rows = pd.DataFrame(
        {
            "user_id": [1, 1, 1],
            "ts": pd.to_datetime(
                [
                    "2024-01-01 10:00:00.000100",
                    "2024-01-01 10:00:00.000900",
                    "2024-01-01 10:00:01.000000",
                ]
            ),
            "side": [0, 0, 1],
            "left_id": [None, None, 7],
            "payload": [500, 400, None],
            "ord": [500, 400, None],  # later ts has LOWER ord
        }
    )
    d = str(tmp_path / "in")
    os.makedirs(d)
    rows.to_parquet(os.path.join(d, "000.parquet"), index=False)
    src = file_stream(spark, d, os.path.join(d, "000.parquet"))
    out = run_to_memory(
        streaming_asof_enrich(src, "user_id"), spark, "asof_subms",
        "append", str(tmp_path / "ck"),
    )
    assert [(r["left_id"], r["payload"]) for r in out.collect()] == [(7, 400)]


def test_streaming_sequence_pack_multi_chunk_group(spark, tmp_path):
    """A key whose micro-batch exceeds arrow.maxRecordsPerBatch arrives
    as MULTIPLE Arrow chunks (order not guaranteed): the packer must
    concatenate before its single sort, or the running prefix diverges
    from the batch window's global ORDER BY id. Forced here with a
    3-row Arrow batch size over one 20-row key."""
    from flink_examples_spark.operators.packing import sequence_pack
    from flink_examples_spark.streaming.stateful import (
        streaming_sequence_pack,
    )

    rows = pd.DataFrame(
        {
            "doc_id": range(20),
            "source": ["s"] * 20,
            "text": [" ".join(["w"] * (3 + i % 5)) for i in range(20)],
        }
    )
    d = str(tmp_path / "in")
    os.makedirs(d)
    rows.to_parquet(os.path.join(d, "000.parquet"), index=False)
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
    try:
        src = file_stream(spark, d, os.path.join(d, "000.parquet"))
        out = run_to_memory(
            streaming_sequence_pack(src, "doc_id", "text", 16, "source"),
            spark,
            "pack_chunks",
            "append",
            str(tmp_path / "ck"),
        )
        got = {r["doc_id"]: r["pack_id"] for r in out.collect()}
    finally:
        spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch", prev
        )
    batch = spark.createDataFrame(rows)
    want = {
        r["doc_id"]: r["pack_id"]
        for r in sequence_pack(batch, "doc_id", "text", 16, "source").collect()
    }
    assert got == want and len(got) == 20


def test_streaming_cdc_merge_is_partition_scoped_and_lww(spark, tmp_path):
    """Streaming face of the versioned-corpus MERGE: CDC events
    (upsert/delete + seq) stream through cdc_merge_foreach_batch into a
    hive-partitioned corpus table. Pins: last-write-wins per id within
    a batch with ties broken toward delete; later batches overwrite
    earlier ones; an all-deleted partition's directory disappears; and
    a partition no event ever touches keeps byte-identical files across
    all three micro-batches."""
    import pandas as pd

    from flink_examples_spark.streaming.sinks import cdc_merge_foreach_batch

    path = str(tmp_path / "corpus")
    spark.createDataFrame(
        [(i, f"doc {i}", f"s{i % 4}") for i in range(40)],
        "doc_id long, text string, source string",
    ).write.partitionBy("source").parquet(path)

    s3_ids = [i for i in range(40) if i % 4 == 3]
    chunks = [
        # batch 0: edit+add in s1, one s3 delete, and a same-seq
        # upsert/delete tie on doc 5 (delete must win)
        [(1, "doc 1 EDITED", "s1", 1, "upsert"),
         (101, "brand new", "s1", 1, "upsert"),
         (s3_ids[0], None, "s3", 1, "delete"),
         (5, "doc 5 EDITED", "s1", 1, "upsert"),
         (5, None, "s1", 1, "delete")],
        # batch 1: delete the rest of s3; resurrect doc 5
        [(i, None, "s3", 2, "delete") for i in s3_ids[1:]]
        + [(5, "doc 5 BACK", "s1", 2, "upsert")],
        # batch 2: edit one s2 doc
        [(2, "doc 2 EDITED", "s2", 3, "upsert")],
    ]
    d = str(tmp_path / "cdc")
    os.makedirs(d)
    now = time.time() - 10
    for i, rows in enumerate(chunks):
        pdf = pd.DataFrame(
            rows, columns=["doc_id", "text", "source", "seq", "op"]
        )
        f = os.path.join(d, f"{i:03d}.parquet")
        pdf.to_parquet(f, index=False)
        os.utime(f, (now + i, now + i))

    def s0_listing():
        p = os.path.join(path, "source=s0")
        return sorted(
            (f, os.path.getsize(os.path.join(p, f)),
             os.path.getmtime(os.path.join(p, f)))
            for f in os.listdir(p) if f.endswith(".parquet")
        )

    before_s0 = s0_listing()
    src = file_stream(spark, d, os.path.join(d, "000.parquet"))
    q = (
        src.writeStream.foreachBatch(
            cdc_merge_foreach_batch(path, "doc_id", "source", "seq")
        )
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.awaitTermination(180)

    got = {r.doc_id: (r.text, r.source)
           for r in spark.read.parquet(path).collect()}
    expected = {i: (f"doc {i}", f"s{i % 4}")
                for i in range(40) if i % 4 != 3 and i not in (1, 2, 5)}
    expected.update({1: ("doc 1 EDITED", "s1"), 101: ("brand new", "s1"),
                     5: ("doc 5 BACK", "s1"), 2: ("doc 2 EDITED", "s2")})
    assert got == expected
    assert not os.path.isdir(os.path.join(path, "source=s3"))
    assert s0_listing() == before_s0


def test_streaming_cdc_merge_cross_partition_move_and_seq_guard(
    spark, tmp_path
):
    """Two contracts beyond the basic CDC test: (1) a cross-partition
    move encoded as delete-in-old + upsert-in-new survives LWW when
    both legs share one micro-batch (resolution is per (id, partition),
    not per id); (2) with guard_seq=True the table carries seq and a
    later batch's LOWER-seq events (late upsert, late delete) are
    no-ops while a higher-seq delete still applies."""
    import pandas as pd

    from flink_examples_spark.streaming.sinks import cdc_merge_foreach_batch

    path = str(tmp_path / "corpus")
    spark.createDataFrame(
        [(1, "one", "s0", 5), (2, "two", "s0", 5), (3, "three", "s0", 5),
         (7, "seven", "s1", 5)],
        "doc_id long, text string, source string, seq long",
    ).write.partitionBy("source").parquet(path)

    chunks = [
        # batch 0: move doc 7 from s1 to s2 (delete + upsert, one batch)
        # and a fresh upsert of doc 1
        [(7, None, "s1", 10, "delete"),
         (7, "seven moved", "s2", 11, "upsert"),
         (1, "one v10", "s0", 10, "upsert")],
        # batch 1: all LATE (below stored seq) except the doc-3 delete
        [(1, "one STALE", "s0", 9, "upsert"),   # stale upsert: no-op
         (2, None, "s0", 4, "delete"),          # stale delete: no-op
         (3, None, "s0", 99, "delete")],        # fresh delete: applies
    ]
    d = str(tmp_path / "cdc")
    os.makedirs(d)
    now = time.time() - 10
    for i, rows in enumerate(chunks):
        pdf = pd.DataFrame(
            rows, columns=["doc_id", "text", "source", "seq", "op"]
        )
        f = os.path.join(d, f"{i:03d}.parquet")
        pdf.to_parquet(f, index=False)
        os.utime(f, (now + i, now + i))

    src = file_stream(spark, d, os.path.join(d, "000.parquet"))
    q = (
        src.writeStream.foreachBatch(
            cdc_merge_foreach_batch(path, "doc_id", "source", "seq",
                                    guard_seq=True)
        )
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.awaitTermination(180)

    got = {r.doc_id: (r.text, r.source, r.seq)
           for r in spark.read.parquet(path).collect()}
    assert got == {
        1: ("one v10", "s0", 10),       # batch-1 stale upsert ignored
        2: ("two", "s0", 5),            # stale delete ignored
        7: ("seven moved", "s2", 11),   # move: s1 leg deleted, s2 added
    }
    assert not os.path.isdir(os.path.join(path, "source=s1"))


def test_cdc_seq_guard_tombstone_blocks_resurrection(spark, tmp_path):
    """ADVICE r3 repro, pinned: delete (seq 10) then a LATER batch's
    lower-seq upsert (seq 7) must stay deleted — the delete's tombstone
    carries the seq the removed row can no longer hold. A genuinely
    newer upsert (seq 11) still re-creates the doc, and table reads
    never see the _tombstones sidecar as rows."""
    from flink_examples_spark.streaming.sinks import cdc_merge_foreach_batch

    path = str(tmp_path / "corpus")
    spark.createDataFrame(
        [(1, "one", "s0", 5)],
        "doc_id long, text string, source string, seq long",
    ).write.partitionBy("source").parquet(path)
    apply = cdc_merge_foreach_batch(
        path, "doc_id", "source", "seq", guard_seq=True
    )
    ev = "doc_id long, text string, source string, seq long, op string"
    tbl = "doc_id long, text string, seq long, source string"

    def count():  # schema-pinned read: the table can be empty
        return spark.read.schema(tbl).parquet(path).count()

    apply(spark.createDataFrame([(1, None, "s0", 10, "delete")], ev), 0)
    assert count() == 0

    # the hole: stale upsert after delete used to resurrect 'one STALE'
    apply(spark.createDataFrame([(1, "one STALE", "s0", 7, "upsert")], ev), 1)
    assert count() == 0

    # tie goes to the delete (same rule as in-batch LWW)
    apply(spark.createDataFrame([(1, "one TIE", "s0", 10, "upsert")], ev), 2)
    assert count() == 0

    # genuinely newer upsert legitimately re-creates the doc
    apply(spark.createDataFrame([(1, "one v11", "s0", 11, "upsert")], ev), 3)
    got = spark.read.schema(tbl).parquet(path).collect()
    assert [(r.doc_id, r.text, r.seq) for r in got] == [(1, "one v11", 11)]


def test_cdc_chaos_replay_matches_batch_merge(spark, tmp_path):
    """Chaos drill (VERDICT r3 next-round #7): guard_seq=True under an
    out-of-order, cross-batch, REPLAYED feed including a partition move
    encoded as delete+upsert. The final table must equal the batch
    merge_apply_partitioned of the same event set resolved globally
    (per (id, partition) max-seq winner, delete wins ties) — streaming
    apply order and replays must not be observable."""
    from pyspark.sql import Window

    from flink_examples_spark.operators.diff import merge_apply_partitioned
    from flink_examples_spark.streaming.sinks import cdc_merge_foreach_batch

    initial = [(i, f"doc {i}", f"s{i % 2}", 5) for i in range(1, 7)]
    schema = "doc_id long, text string, source string, seq long"
    cdc_path = str(tmp_path / "cdc_table")
    spark.createDataFrame(initial, schema).write.partitionBy(
        "source"
    ).parquet(cdc_path)

    ev = "doc_id long, text string, source string, seq long, op string"
    batches = [
        # batch 0: delete doc1; edit doc2; move doc3 s1->s0
        [(1, None, "s1", 10, "delete"),
         (2, "two v10", "s0", 10, "upsert"),
         (3, None, "s1", 10, "delete"),
         (3, "three moved", "s0", 11, "upsert")],
        # batch 1 (late): stale resurrection attempt on doc1, stale
        # edit on doc2, stale re-insert of doc3's old partition, and
        # one genuinely fresh delete of doc4
        [(1, "one STALE", "s1", 7, "upsert"),
         (2, "two STALE", "s0", 8, "upsert"),
         (3, "three STALE", "s1", 9, "upsert"),
         (4, None, "s0", 9, "delete")],
        # batch 2: legit resurrection of doc1 above its tombstone
        [(1, "one REBORN", "s1", 12, "upsert")],
    ]
    apply = cdc_merge_foreach_batch(
        cdc_path, "doc_id", "source", "seq", guard_seq=True
    )
    dfs = [spark.createDataFrame(rows, ev) for rows in batches]
    apply(dfs[0], 0)
    apply(dfs[0], 0)  # same-batch replay (checkpoint recovery)
    apply(dfs[1], 1)
    apply(dfs[2], 2)
    apply(dfs[1], 1)  # out-of-order replay AFTER newer data landed

    # batch twin: resolve the full event set globally, then one
    # partition-scoped MERGE onto a fresh copy of the initial table
    batch_path = str(tmp_path / "batch_table")
    spark.createDataFrame(initial, schema).write.partitionBy(
        "source"
    ).parquet(batch_path)
    events = spark.createDataFrame(
        [r for rows in batches for r in rows], ev
    )
    w = Window.partitionBy("doc_id", "source").orderBy(
        F.col("seq").desc(),
        F.when(F.col("op") == "delete", 0).otherwise(1),
    )
    winners = (
        events.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    delta = winners.select(
        "doc_id", "source",
        F.when(F.col("op") == "delete", "removed")
        .otherwise("changed").alias("verdict"),
    )
    new = winners.filter(F.col("op") != "delete").drop("op")
    merge_apply_partitioned(
        spark, batch_path, new, delta, "doc_id", "source"
    )

    def snap(p):
        return {
            (r.doc_id, r.text, r.source, r.seq)
            for r in spark.read.parquet(p).collect()
        }

    want = snap(batch_path)
    assert snap(cdc_path) == want
    assert (1, "one REBORN", "s1", 12) in want
    assert not any(d == 4 for d, _, _, _ in want)


def test_cdc_tombstone_compaction_preserves_guard(spark, tmp_path):
    """compact_tombstones folds the delete history to one max-seq row
    per (id, partition) without changing any guard decision: stale
    upserts stay blocked, newer ones still pass, and the log shrinks
    from per-batch history to distinct-deleted-ids."""
    from flink_examples_spark.streaming.sinks import (
        cdc_merge_foreach_batch,
        compact_tombstones,
    )

    path = str(tmp_path / "corpus")
    spark.createDataFrame(
        [(1, "one", "s0", 1), (2, "two", "s0", 1), (3, "three", "s1", 1)],
        "doc_id long, text string, source string, seq long",
    ).write.partitionBy("source").parquet(path)
    apply = cdc_merge_foreach_batch(
        path, "doc_id", "source", "seq", guard_seq=True
    )
    ev = "doc_id long, text string, source string, seq long, op string"
    tbl = "doc_id long, text string, seq long, source string"

    # delete doc 1 twice across batches (seq 5 then 9) and doc 2 once
    apply(spark.createDataFrame([(1, None, "s0", 5, "delete")], ev), 0)
    apply(spark.createDataFrame(
        [(1, "one v7", "s0", 7, "upsert"),   # passes seq-5 tombstone...
         (2, None, "s0", 6, "delete")], ev), 1)
    apply(spark.createDataFrame([(1, None, "s0", 9, "delete")], ev), 2)

    kept = compact_tombstones(spark, path, "doc_id", "source", "seq")
    assert kept == 2  # (1,s0) max 9 and (2,s0) max 6 — history folded

    # guard still enforces the folded maxima
    apply(spark.createDataFrame(
        [(1, "one STALE", "s0", 8, "upsert"),   # below folded max: no-op
         (2, "two STALE", "s0", 6, "upsert")],  # tie: delete wins
        ev), 3)
    assert spark.read.schema(tbl).parquet(path).where(
        "doc_id in (1, 2)"
    ).count() == 0
    apply(spark.createDataFrame(
        [(1, "one BACK", "s0", 10, "upsert")], ev), 4)
    rows = {(r.doc_id, r.text) for r in
            spark.read.schema(tbl).parquet(path).collect()}
    assert rows == {(1, "one BACK"), (3, "three")}


def test_streaming_cep_quantified_matches_batch(spark, tmp_path, events_pdf):
    """r4 quantifiers in the STREAMING NFA: PATTERN (V C{2,3} P) over
    chunked replay equals the batch NFA (settled-horizon caveat as in
    the A<B<C parity test). Kind-disjoint defines make the greedy
    choice data-determined, so eager emission can't diverge from batch
    greediness even though the repetition is variable-length."""
    from flink_examples_spark.operators.cep import Pat, match_recognize
    from flink_examples_spark.streaming.stateful import streaming_cep

    def kind(k):
        def where(row, ctx):
            return row["event_type"] == k

        return where

    pattern = [
        Pat("V", where=kind("view")),
        Pat("C", where=kind("click"), min_times=2, max_times=3),
        Pat("P", where=kind("purchase")),
    ]
    within_ms = 12 * 3600 * 1000

    def s_measures(vars_map):
        return {"v_id": int(vars_map["V"][0]["event_id"]),
                "v_ts": int(vars_map["V"][0]["ts"]),
                "n_clicks": int(len(vars_map["C"])),
                "p_id": int(vars_map["P"][-1]["event_id"])}

    d = write_chunks(events_pdf, str(tmp_path / "in"), 4)
    src = file_stream(spark, d, os.path.join(d, "000.parquet")).select(
        "user_id", "event_id", "ts", "event_type"
    )
    out = run_to_memory(
        streaming_cep(
            src, key="user_id", ts_col="ts", pattern=pattern,
            measures=s_measures,
            output_schema="user_id long, v_id long, v_ts long, "
                          "n_clicks long, p_id long",
            within_ms=within_ms, order_cols=["ts", "event_id"],
        ),
        spark, "cep_quant_stream", "append", str(tmp_path / "ck"),
    )
    stream_matches = {(r.user_id, r.v_id, r.n_clicks, r.p_id)
                      for r in out.collect()}

    def b_measures(vars_map):
        return {"v_id": int(vars_map["V"][0]["event_id"]),
                "v_ts": int(vars_map["V"][0]["ts"].value // 1_000_000),
                "n_clicks": int(len(vars_map["C"])),
                "p_id": int(vars_map["P"][-1]["event_id"])}

    ev = load_table(spark, "events", SF).select(
        "user_id", "event_id", "ts", "event_type"
    )
    batch = match_recognize(
        ev, partition_by=["user_id"], order_by=["ts", "event_id"],
        pattern=pattern, measures=b_measures,
        output_schema="user_id long, v_id long, v_ts long, "
                      "n_clicks long, p_id long",
        within=f"{within_ms} ms", ts_col="ts",
    ).collect()
    max_ts_ms = int(events_pdf["ts"].max().value // 1_000_000)
    batch_all = {(r.user_id, r.v_id, r.n_clicks, r.p_id) for r in batch}
    batch_settled = {
        (r.user_id, r.v_id, r.n_clicks, r.p_id)
        for r in batch
        if r.v_ts + within_ms < max_ts_ms
    }
    assert batch_settled <= stream_matches <= batch_all
    assert any(n == 2 for _, _, n, _ in batch_all) or any(
        n == 3 for _, _, n, _ in batch_all
    )  # quantifier actually exercised


def test_streaming_paragraph_dedup_ingest_matches_batch(spark, tmp_path):
    """Paragraph dedup as an ingest STREAM: micro-batches of documents
    strip against the accumulated fingerprint index via foreachBatch,
    growing it with each batch's survivors. Under id-ordered arrival
    the union of batch outputs equals one incremental run over the
    whole delta; a replayed batch overwrites itself (idempotent)."""
    import pandas as pd

    from flink_examples_spark.operators.dedup import (
        incremental_paragraph_dedup,
        paragraph_fp_index,
    )
    from flink_examples_spark.streaming.sinks import (
        paragraph_dedup_ingest_foreach_batch,
    )

    sep = "\n\n"
    corpus = spark.createDataFrame(
        [(100 + i, sep.join([f"corpus para {i}", "LICENSE BLOCK"]))
         for i in range(4)],
        "doc_id long, text string",
    )
    idx_path = str(tmp_path / "idx")
    paragraph_fp_index(corpus, "doc_id", "text").write.parquet(
        os.path.join(idx_path, "batch=-1")
    )

    delta_rows = [
        (1, sep.join(["LICENSE BLOCK", "delta one"])),   # corpus dup
        (2, sep.join(["delta shared", "delta two"])),
        (3, sep.join(["delta shared", "delta three"])),  # cross-batch dup
        (4, sep.join(["delta shared", "corpus para 0"])),
        (5, "delta five"),
        (6, sep.join(["delta five", "delta six"])),
    ]
    schema = "doc_id long, text string"
    out_path = str(tmp_path / "out")
    apply = paragraph_dedup_ingest_foreach_batch(
        idx_path, out_path, "doc_id", "text", sep=sep
    )
    # 3 id-ordered micro-batches + a replay of the middle one
    dfs = [spark.createDataFrame(delta_rows[i:i + 2], schema)
           for i in (0, 2, 4)]
    apply(dfs[0], 0)
    apply(dfs[1], 1)
    apply(dfs[1], 1)  # replay: must overwrite, not duplicate
    apply(dfs[2], 2)

    got = {r.doc_id: (r.text, r.n_removed)
           for r in spark.read.parquet(out_path).collect()}

    # one-shot incremental over the full delta (same corpus index)
    want = {r.doc_id: (r.text, r.n_removed)
            for r in incremental_paragraph_dedup(
                paragraph_fp_index(corpus, "doc_id", "text"),
                spark.createDataFrame(delta_rows, schema),
                "doc_id", "text").collect()}
    assert got == want
    assert got[1] == ("delta one", 1)            # corpus wins
    assert got[3][0] == "delta three"            # cross-batch dup dropped
    assert got[6] == ("delta six", 1)            # cross-batch via index


def test_paragraph_index_compaction_long_ingest(spark, tmp_path):
    """VERDICT r4 #4: a long-running ingest folds its per-batch index
    subdirs via compact_paragraph_index (here auto-run through the
    compact_every_n_batches hook) and subsequent batches strip
    IDENTICALLY — the folded set answers the same membership probes.
    The newest batch subdir is spared so replays stay self-excluding."""
    import os as _os

    from flink_examples_spark.streaming.sinks import (
        compact_paragraph_index,
        paragraph_dedup_ingest_foreach_batch,
    )

    sep = "\n\n"
    schema = "doc_id long, text string"
    idx_path = str(tmp_path / "idx")
    out_path = str(tmp_path / "out")
    apply = paragraph_dedup_ingest_foreach_batch(
        idx_path, out_path, "doc_id", "text", sep=sep,
        compact_every_n_batches=2,
    )
    # batches 0..3; the hook compacts at the top of batches 2 (folding
    # 0, sparing 1) — batch text reuses earlier paragraphs so the
    # membership probe must survive the fold
    batches = [
        [(0, sep.join(["boiler", "alpha"]))],
        [(1, sep.join(["boiler", "beta"]))],       # dup via index
        [(2, sep.join(["alpha", "gamma"]))],       # dup via FOLDED index
        [(3, sep.join(["beta", "gamma", "delta"]))],  # dup via both sides
    ]
    for i, rows in enumerate(batches):
        apply(spark.createDataFrame(rows, schema), i)

    got = {r.doc_id: (r.text, r.n_removed)
           for r in spark.read.parquet(out_path).collect()}
    assert got[0] == (sep.join(["boiler", "alpha"]), 0)
    assert got[1] == ("beta", 1)
    assert got[2] == ("gamma", 1)   # 'alpha' found in the compacted set
    assert got[3] == ("delta", 2)   # 'beta' spared subdir, 'gamma' folded

    # explicit compaction after the run: everything folds except the
    # newest subdir; re-running is a no-op; a replayed last batch still
    # strips identically against the compacted + spared index
    n = compact_paragraph_index(spark, idx_path)
    assert n > 0
    subs = sorted(d for d in _os.listdir(idx_path)
                  if not d.startswith((".", "_")))
    assert subs == ["batch=3", "batch=compacted"]
    apply(spark.createDataFrame(batches[3], schema), 3)  # replay
    got2 = {r.doc_id: (r.text, r.n_removed)
            for r in spark.read.parquet(out_path).collect()}
    assert got2 == got
    assert compact_paragraph_index(spark, idx_path) == 0 or sorted(
        d for d in _os.listdir(idx_path) if not d.startswith((".", "_"))
    ) == ["batch=3", "batch=compacted"]


def test_compaction_swap_is_crash_safe(spark, tmp_path):
    """ADVICE r4: compact_tombstones must never leave the log absent on
    disk — the rewrite stages to a sibling and swaps via renames, and
    _recover_swap heals every crash window (root missing with .old
    present; stale staging). A 'crash' between the two renames followed
    by recovery must preserve the full guard history."""
    import os as _os
    import shutil as _shutil

    from flink_examples_spark.streaming.sinks import (
        _recover_swap,
        _staging_of,
        _tombstone_root,
        cdc_merge_foreach_batch,
        compact_tombstones,
    )

    path = str(tmp_path / "corpus")
    spark.createDataFrame(
        [(1, "one", "s0", 1), (2, "two", "s0", 1)],
        "doc_id long, text string, source string, seq long",
    ).write.partitionBy("source").parquet(path)
    apply = cdc_merge_foreach_batch(
        path, "doc_id", "source", "seq", guard_seq=True
    )
    ev = "doc_id long, text string, source string, seq long, op string"
    apply(spark.createDataFrame([(1, None, "s0", 9, "delete")], ev), 0)
    root = _tombstone_root(path)

    # crash window: root renamed aside, staging incomplete — recovery
    # must restore the retired copy and drop the partial staging
    _os.rename(root, root + ".old")
    _os.makedirs(_staging_of(root))
    assert not _os.path.isdir(root)
    _recover_swap(root)
    assert _os.path.isdir(root)
    assert not _os.path.isdir(root + ".old")
    assert not _os.path.isdir(_staging_of(root))

    # guard intact after recovery: stale upsert still blocked
    apply(spark.createDataFrame(
        [(1, "one STALE", "s0", 8, "upsert")], ev), 1)
    tbl = "doc_id long, text string, seq long, source string"
    assert spark.read.schema(tbl).parquet(path).where(
        "doc_id = 1").count() == 0

    # stale staging leftover must not break a real compaction
    _os.makedirs(_staging_of(root))
    assert compact_tombstones(spark, path, "doc_id", "source", "seq") == 1
    assert _os.path.isdir(root)

    # compaction is called from the batch hook too
    apply2 = cdc_merge_foreach_batch(
        path, "doc_id", "source", "seq", guard_seq=True,
        compact_every_n_batches=2,
    )
    apply2(spark.createDataFrame([(2, None, "s0", 5, "delete")], ev), 2)
    names = set()
    for dirpath, dirnames, _ in _os.walk(root):
        names.update(dirnames)
    assert any(d == "batch=compacted" for d in names)

    # r5 review: the ORDINARY batch path (no compaction hook) must heal
    # an interrupted swap by itself — before this fix, the next batch
    # saw no log (stale upserts resurrected) and a delete-carrying
    # batch would recreate the root, orphaning the retired history
    _os.rename(root, root + ".old")
    assert not _os.path.isdir(root)
    apply(spark.createDataFrame(
        [(1, "one STALE2", "s0", 8, "upsert")], ev), 3)  # plain apply
    assert _os.path.isdir(root)          # healed before the read
    assert not _os.path.isdir(root + ".old")
    assert spark.read.schema(tbl).parquet(path).where(
        "doc_id = 1").count() == 0       # seq-9 tombstone still guards


def test_streaming_span_dedup_ingest_matches_batch(spark, tmp_path):
    """Span dedup as an ingest STREAM (the span-family twin of the
    paragraph ingest): micro-batches mask against the accumulated
    span-fingerprint index; under id-ordered arrival the union of
    batch outputs equals one incremental run over the whole delta, a
    replayed batch overwrites itself, and the compaction hook folds
    the index without changing subsequent verdicts."""
    from flink_examples_spark.operators.dedup import (
        incremental_span_dedup,
        span_fp_index,
    )
    from flink_examples_spark.streaming.sinks import (
        span_dedup_ingest_foreach_batch,
    )

    corpus = spark.createDataFrame(
        [(100, "c1. c2. c3. c4")], "doc_id long, text string"
    )
    idx_path = str(tmp_path / "idx")
    span_fp_index(corpus, "doc_id", "text").write.parquet(
        os.path.join(idx_path, "batch=-1")
    )

    delta_rows = [
        (1, "a1. a2. a3. a4"),   # unique: ships whole
        (2, "c1. c2. c3. x"),    # corpus span: 3 sentences masked
        (3, "a2. a3. a4. z"),    # dup of batch-0 doc 1's span, via index
        (4, "x. y. w"),          # unique (single span, fresh)
    ]
    schema = "doc_id long, text string"
    out_path = str(tmp_path / "out")
    apply = span_dedup_ingest_foreach_batch(
        idx_path, out_path, "doc_id", "text",
        compact_every_n_batches=2,
    )
    dfs = [spark.createDataFrame(delta_rows[i:i + 2], schema)
           for i in (0, 2)]
    apply(dfs[0], 0)
    apply(dfs[1], 1)
    apply(dfs[1], 1)  # replay: must overwrite, not duplicate
    apply(spark.createDataFrame([(5, "a1. a2. a3")], schema), 2)  # compacts

    got = {r.doc_id: (r.text, r.n_removed)
           for r in spark.read.parquet(out_path).collect()}

    want = {r.doc_id: (r.text, r.n_removed)
            for r in incremental_span_dedup(
                span_fp_index(corpus, "doc_id", "text"),
                spark.createDataFrame(
                    delta_rows + [(5, "a1. a2. a3")], schema
                ),
                "doc_id", "text").collect()}
    assert got == want
    assert got[1] == ("a1. a2. a3. a4", 0)
    assert got[2] == ("x", 3)            # corpus wins
    assert got[3] == ("z", 3)            # cross-batch dup via index
    assert got[4] == ("x. y. w", 0)
    assert got[5] == ("", 3)             # dup of doc 1's first span
    subs = sorted(d for d in os.listdir(idx_path)
                  if not d.startswith((".", "_")))
    assert "batch=compacted" in subs     # the hook actually folded


def test_streaming_banded_range_join_matches_batch(spark, tmp_path):
    """banded_range_join in stream-static form: a stream of points
    probed against a static interval table is a cell EQUI-join, so it
    rides the supported (and efficient) stream-static hash-join path —
    per-micro-batch output equals the batch operator on the union of
    batches."""
    import pandas as pd

    from flink_examples_spark.operators.joins import banded_range_join

    ivals = spark.createDataFrame(
        [(100, 0.0, 10.0), (101, 5.0, 25.0), (102, 40.0, 41.0)],
        "iid int, lo double, hi double",
    )
    pts_pdf = pd.DataFrame(
        {"pid": list(range(8)),
         "v": [0.0, 7.5, 10.0, 10.1, 24.9, 39.9, 40.5, 99.0]}
    )
    d = write_chunks(pts_pdf, str(tmp_path / "in"), 3)
    src = file_stream(spark, d, os.path.join(d, "000.parquet"))
    out = run_to_memory(
        banded_range_join(src, ivals, "v", "lo", "hi", 10.0),
        spark, "banded_stream", "append", str(tmp_path / "ck"),
    )
    got = sorted((r.pid, r.iid) for r in out.collect())
    want = sorted(
        (r.pid, r.iid)
        for r in banded_range_join(
            spark.createDataFrame(pts_pdf), ivals, "v", "lo", "hi", 10.0
        ).collect()
    )
    assert got == want
    assert (0, 100) in got and (1, 100) in got and (1, 101) in got
    assert (6, 102) in got and not any(p == 7 for p, _ in got)


def test_streaming_hot_items_matches_batch_exactly(
    spark, tmp_path, events_pdf
):
    """Flagship streaming parity: sliding-window counts under
    availableNow replay + the batch top-N rank over finalized windows
    equal hot_items_sliding_topn EXACTLY — the finalize sentinel (a
    copied 'view' template row, so it survives the operator's pushed
    pre-filter and drives the watermark) closes the tail windows that
    previously stayed pending (D1)."""
    from flink_examples_spark.operators.topn import (
        hot_items,
        top_n_per_group,
    )
    from flink_examples_spark.streaming.finalize import (
        write_finalize_sentinel,
    )
    from flink_examples_spark.streaming.stateful import (
        streaming_hot_items_counts,
    )

    d = write_chunks(events_pdf, str(tmp_path / "in"), 3)
    write_finalize_sentinel(
        d, events_pdf[events_pdf["event_type"] == "view"], "ts"
    )
    src = file_stream(spark, d, os.path.join(d, "000.parquet"))
    counts = streaming_hot_items_counts(src, duration="60 minutes")
    out = run_to_memory(
        counts, spark, "hot_counts", "append", str(tmp_path / "ck")
    )
    ranked = top_n_per_group(
        out, ["window_end"], [F.desc("view_count"), F.asc("user_id")], 3
    ).select("window_end", "user_id", "view_count", "rank")
    stream_rows = {tuple(r) for r in ranked.collect()}
    batch_rows = {
        tuple(r)
        for r in hot_items(
            load_table(spark, "events", SF), duration="60 minutes"
        ).collect()
    }
    assert stream_rows == batch_rows
    assert len(batch_rows) > 0


def test_streaming_outer_interval_join_emits_unmatched(
    spark, tmp_path, events_pdf
):
    """J2/J4 declarative outer variant: LEFT OUTER stream-stream join
    with watermarks — clicks that never see a purchase in their window
    emit a NULL-extended row once the watermark closes the window (the
    timeout-emission semantics J4 implements imperatively with
    GroupState, here expressed as a native outer join). Matched pairs
    must equal the batch join; with finalize sentinels advancing BOTH
    streams' watermarks (the global watermark is their min), unmatched
    clicks equal the batch anti set EXACTLY (D1)."""
    from flink_examples_spark.streaming.finalize import (
        drop_finalize,
        write_finalize_sentinel,
    )

    clicks_pdf = events_pdf[events_pdf["event_type"] == "click"]
    purch_pdf = events_pdf[events_pdf["event_type"] == "purchase"]
    d1 = write_chunks(clicks_pdf, str(tmp_path / "c"), 2)
    d2 = write_chunks(purch_pdf, str(tmp_path / "p"), 2)
    write_finalize_sentinel(d1, clicks_pdf, "ts")
    write_finalize_sentinel(d2, purch_pdf, "ts")
    clicks = (
        drop_finalize(
            file_stream(spark, d1, os.path.join(d1, "000.parquet"))
            .withWatermark("ts", "0 seconds"),
            "ts",
        )
        .select(F.col("user_id").alias("cu"),
                F.col("event_id").alias("click_id"),
                F.col("ts").alias("cts"))
    )
    purchases = (
        drop_finalize(
            file_stream(spark, d2, os.path.join(d2, "000.parquet"))
            .withWatermark("ts", "0 seconds"),
            "ts",
        )
        .select(F.col("user_id").alias("pu"),
                F.col("event_id").alias("purchase_id"),
                F.col("ts").alias("pts"))
    )
    cond = (
        (F.col("cu") == F.col("pu"))
        & (F.col("pts") >= F.col("cts"))
        & (F.col("pts") <= F.col("cts") + F.expr("INTERVAL 30 MINUTES"))
    )
    out = run_to_memory(
        clicks.join(purchases, cond, "leftOuter")
        .select("click_id", "purchase_id"),
        spark, "oij", "append", str(tmp_path / "ck"),
    )
    rows = out.collect()
    stream_matched = {(r.click_id, r.purchase_id) for r in rows
                      if r.purchase_id is not None}
    stream_unmatched = {r.click_id for r in rows if r.purchase_id is None}

    ev = load_table(spark, "events", SF)
    bc = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("event_id").alias("click_id"),
        F.col("ts").alias("cts"))
    bp = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("pts"))
    batch = bc.join(bp, cond, "left_outer").select(
        "click_id", "purchase_id", "cts").collect()
    batch_matched = {(r.click_id, r.purchase_id) for r in batch
                     if r.purchase_id is not None}
    assert stream_matched == batch_matched
    # sentinels on both streams push the global min watermark past every
    # click's window end — the unmatched set equals the batch anti set
    batch_unmatched = {
        r.click_id for r in batch if r.purchase_id is None
    }
    assert stream_unmatched == batch_unmatched
    assert stream_unmatched.isdisjoint({m[0] for m in batch_matched})
    assert len(stream_matched) > 0 and len(batch_unmatched) > 0


def test_streaming_cep_concurrent_partials_agree_with_batch(
    spark, tmp_path
):
    """D9 closure, streaming twin: the loop-take vs proceed-take fork
    (a row satisfying both B+ and C) emits BOTH timed-out partials —
    one row per live NFA computation, exactly the batch
    match_recognize(timeout_measures=...) output on the same fixture
    (tests/test_cep.py::test_two_concurrent_partials_each_time_out_individually),
    with the horizon crossed at a LATER trigger."""
    from flink_examples_spark.operators.cep import Pat
    from flink_examples_spark.streaming.stateful import streaming_cep

    base = pd.Timestamp("2020-01-01 00:00:00")
    m = pd.Timedelta(minutes=1)
    d = str(tmp_path / "in")
    os.makedirs(d)
    now = time.time() - 10
    # trigger 0: the a / b / bc prefix (no d ever arrives)
    pd.DataFrame({
        "k": ["k"] * 3,
        "action": ["a", "b", "bc"],
        "ts": [base, base + m, base + 2 * m],
    }).to_parquet(os.path.join(d, "000.parquet"), index=False)
    os.utime(os.path.join(d, "000.parquet"), (now, now))
    # trigger 1: a much later event on the same key advances max_ts
    # past a's horizon -> both partials time out HERE
    pd.DataFrame({
        "k": ["k"], "action": ["zzz"], "ts": [base + 60 * m],
    }).to_parquet(os.path.join(d, "001.parquet"), index=False)
    os.utime(os.path.join(d, "001.parquet"), (now + 1, now + 1))

    pattern = [
        Pat("A", lambda r, c: r["action"] == "a", contiguity="strict"),
        Pat("B", lambda r, c: r["action"] in ("b", "bc"),
            quantifier="plus", contiguity="strict"),
        Pat("C", lambda r, c: r["action"] in ("bc", "c"),
            contiguity="strict"),
        Pat("D", lambda r, c: r["action"] == "d", contiguity="strict"),
    ]

    def timeout_measures(v):
        return {"n_b": len(v.get("B", [])),
                "c_action": (v["C"][0]["action"]
                             if "C" in v else None)}

    batches: list = []
    src = file_stream(spark, d, os.path.join(d, "000.parquet"))
    q = (
        streaming_cep(
            src, key="k", ts_col="ts", pattern=pattern,
            measures=lambda v: {"n_b": -1, "c_action": "MATCH"},
            output_schema="k string, n_b int, c_action string",
            within_ms=10 * 60 * 1000,
            order_cols=["ts"],
            timeout_measures=timeout_measures,
        )
        .writeStream.foreachBatch(
            lambda bdf, bid: batches.append((bid, bdf.collect()))
        )
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.awaitTermination(180)

    rows = sorted(
        ((r.n_b, r.c_action) for _, b in batches for r in b),
        key=lambda t: (t[0], t[1] or ""),
    )
    # identical pair to the batch golden: [A,B=b,C=bc] and [A,B=b,B=bc]
    assert rows == [(1, "bc"), (2, None)], rows
    # and they fire only once the horizon passes (trigger >= 1)
    early = [bid for bid, b in batches if b and bid == 0]
    assert not early, batches


def test_streaming_cep_trailing_greedy_plus_spans_trigger_boundary(
    spark, tmp_path
):
    """D10 closure: a pattern ENDING in greedy B+ whose repetitions
    span a trigger boundary emits ONE maximal match identical to the
    batch run — the completed-but-extendable match is held at the
    buffer edge while its horizon is open, instead of emitting [A,B]
    eagerly in trigger 0 and a fragment later."""
    from flink_examples_spark.operators.cep import Pat
    from flink_examples_spark.streaming.stateful import streaming_cep

    base = pd.Timestamp("2020-01-01 00:00:00")
    s = pd.Timedelta(seconds=1)
    d = str(tmp_path / "in")
    os.makedirs(d)
    now = time.time() - 10
    # trigger 0: a b b  — [A,B,B] is complete AND extendable
    pd.DataFrame({
        "k": ["k"] * 3, "action": ["a", "b", "b"],
        "ts": [base, base + s, base + 2 * s],
    }).to_parquet(os.path.join(d, "000.parquet"), index=False)
    os.utime(os.path.join(d, "000.parquet"), (now, now))
    # trigger 1: two more b's — still extendable, still held
    pd.DataFrame({
        "k": ["k"] * 2, "action": ["b", "b"],
        "ts": [base + 3 * s, base + 4 * s],
    }).to_parquet(os.path.join(d, "001.parquet"), index=False)
    os.utime(os.path.join(d, "001.parquet"), (now + 1, now + 1))
    # trigger 2: a non-b row blocks extension -> the maximal match
    # [A, B x4] emits (same as one batch over the whole log)
    pd.DataFrame({
        "k": ["k"], "action": ["x"], "ts": [base + 5 * s],
    }).to_parquet(os.path.join(d, "002.parquet"), index=False)
    os.utime(os.path.join(d, "002.parquet"), (now + 2, now + 2))

    pattern = [
        Pat("A", lambda r, c: r["action"] == "a", contiguity="strict"),
        Pat("B", lambda r, c: r["action"] == "b",
            quantifier="plus", contiguity="strict"),
    ]

    batches: list = []
    src = file_stream(spark, d, os.path.join(d, "000.parquet"))
    q = (
        streaming_cep(
            src, key="k", ts_col="ts", pattern=pattern,
            measures=lambda v: {"n_b": len(v["B"])},
            output_schema="k string, n_b int",
            within_ms=60_000,
            order_cols=["ts"],
        )
        .writeStream.foreachBatch(
            lambda bdf, bid: batches.append((bid, bdf.collect()))
        )
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.awaitTermination(180)

    rows = [(bid, r.n_b) for bid, b in batches for r in b]
    # exactly ONE match, maximal (4 B's), emitted when extension was
    # blocked in trigger 2 — never the eager [A,B,B] fragment
    assert [n for _, n in rows] == [4], rows
    assert all(bid >= 2 for bid, _ in rows), rows


def test_streaming_cep_held_match_emits_when_horizon_closes(
    spark, tmp_path
):
    """D10, the other release path: no row ever BLOCKS the greedy tail
    — instead a later event pushes max_ts past the anchor's horizon,
    after which no in-order row can extend the match, so the held
    [A, B, B] emits maximal (and exactly once)."""
    from flink_examples_spark.operators.cep import Pat
    from flink_examples_spark.streaming.stateful import streaming_cep

    base = pd.Timestamp("2020-01-01 00:00:00")
    s = pd.Timedelta(seconds=1)
    d = str(tmp_path / "in")
    os.makedirs(d)
    now = time.time() - 10
    pd.DataFrame({
        "k": ["k"] * 3, "action": ["a", "b", "b"],
        "ts": [base, base + s, base + 2 * s],
    }).to_parquet(os.path.join(d, "000.parquet"), index=False)
    os.utime(os.path.join(d, "000.parquet"), (now, now))
    # far-future event on the same key: closes the horizon, matches
    # nothing itself (pattern anchor 'a' only opens on action='a')
    pd.DataFrame({
        "k": ["k"], "action": ["zzz"],
        "ts": [base + pd.Timedelta(minutes=5)],
    }).to_parquet(os.path.join(d, "001.parquet"), index=False)
    os.utime(os.path.join(d, "001.parquet"), (now + 1, now + 1))

    pattern = [
        Pat("A", lambda r, c: r["action"] == "a", contiguity="strict"),
        Pat("B", lambda r, c: r["action"] == "b",
            quantifier="plus", contiguity="strict"),
    ]
    batches: list = []
    src = file_stream(spark, d, os.path.join(d, "000.parquet"))
    q = (
        streaming_cep(
            src, key="k", ts_col="ts", pattern=pattern,
            measures=lambda v: {"n_b": len(v["B"])},
            output_schema="k string, n_b int",
            within_ms=60_000,
            order_cols=["ts"],
        )
        .writeStream.foreachBatch(
            lambda bdf, bid: batches.append((bid, bdf.collect()))
        )
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.awaitTermination(180)
    rows = [(bid, r.n_b) for bid, b in batches for r in b]
    assert [n for _, n in rows] == [2], rows
    assert all(bid >= 1 for bid, _ in rows), rows


def test_streaming_series_pattern_scan_matches_batch(spark, tmp_path):
    """The streaming subsequence scan == the batch operator over the
    whole log, with 4-row windows straddling both trigger boundaries
    (the m-1 tail carry), NULL values skipped, and distances
    IEEE-identical (same left-assoc addition order)."""
    from flink_examples_spark.operators.windows import series_pattern_scan
    from flink_examples_spark.streaming.stateful import (
        streaming_series_pattern_scan,
    )

    base = pd.Timestamp("2020-01-01 00:00:00")
    s = pd.Timedelta(seconds=1)
    vals = [5.0, 14.0, 31.0, 58.0, 6.0, None, 29.0, 61.0,
            4.0, 16.0, 30.0, 59.0]
    rows = {
        "user_id": [7] * 12,
        "ts": [base + i * s for i in range(12)],
        "event_id": list(range(12)),
        "value": vals,
    }
    d = str(tmp_path / "in")
    os.makedirs(d)
    now = time.time() - 10
    for b in range(3):  # 4 rows per trigger
        pd.DataFrame({k: v[b * 4:(b + 1) * 4] for k, v in rows.items()}) \
            .to_parquet(os.path.join(d, f"00{b}.parquet"), index=False)
        os.utime(os.path.join(d, f"00{b}.parquet"), (now + b, now + b))

    got_rows: list = []
    src = file_stream(spark, d, os.path.join(d, "000.parquet"))
    q = (
        streaming_series_pattern_scan(
            src, "user_id", "ts", "value",
            pattern=[5.0, 15.0, 30.0, 60.0], max_dist=500.0,
            order_cols=["ts", "event_id"],
        )
        .writeStream.foreachBatch(
            lambda bdf, bid: got_rows.extend(bdf.collect())
        )
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.awaitTermination(180)
    got = {(r.user_id, r.ts, r.event_id, r.dist) for r in got_rows}

    bdf = spark.createDataFrame(pd.DataFrame(rows))
    want = {
        (r.user_id, int(r.ts.timestamp() * 1000), r.event_id, r.dist)
        for r in series_pattern_scan(
            bdf, "user_id", ["ts", "event_id"], "value",
            pattern=[5.0, 15.0, 30.0, 60.0], max_dist=500.0,
        ).collect()
    }
    assert got == want and want, (got, want)
    # the straddling windows (starts at rows 1-3, 6-8) must be present
    # when within distance: row 8's start [4,16,30,59] surely is
    assert any(e == 8 for _, _, e, _ in got)


def test_spark_round6_helper_matches_engine_round(spark):
    """r7 (ADVICE): the streaming series scan's 6-dp rounding must be
    bit-identical to the batch twin's F.round(dist, 6) — including on
    exact 6-dp halfway representations, where Python's built-in round
    (binary half-to-even) disagrees with Spark's HALF_UP-over-shortest-
    repr. Vector includes both halfway and ordinary values."""
    from flink_examples_spark.streaming.stateful import _spark_round6

    vals = [
        0.1234565, 2.5e-06, 1.0000005, 7.3555555, 0.0000015,
        3.0000025, 123.4567895, 0.9999995, 0.0, 42.123456789,
        5e-07, 1.5e-06,
    ]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = [
        r.r
        for r in df.select(F.round("x", 6).alias("r"))
        .collect()
    ]
    assert got == [_spark_round6(v) for v in vals]
    # non-vacuous: at least one value must split the two roundings
    import builtins

    assert any(
        builtins.round(v, 6) != _spark_round6(v) for v in vals
    )


def test_streaming_cep_sentinel_drains_timeout_partials(spark, tmp_path):
    """D1 closure for the CEP timeout side output: the a/b/bc prefix
    never completes and NO later data row arrives — only the finalize
    sentinel. Both concurrent partials must still emit through
    timeout_measures (the reference's end-of-stream MAX watermark
    firing processTimedOutMatch; cep/CEPTimeout.java:59-103), and the
    sentinel row itself must never appear in any match buffer."""
    from flink_examples_spark.operators.cep import Pat
    from flink_examples_spark.streaming.finalize import (
        write_finalize_sentinel,
    )
    from flink_examples_spark.streaming.stateful import streaming_cep

    base = pd.Timestamp("2020-01-01 00:00:00")
    m = pd.Timedelta(minutes=1)
    d = str(tmp_path / "in")
    os.makedirs(d)
    now = time.time() - 10
    data = pd.DataFrame({
        "k": ["k"] * 3,
        "action": ["a", "b", "bc"],
        "ts": [base, base + m, base + 2 * m],
    })
    data.to_parquet(os.path.join(d, "000.parquet"), index=False)
    os.utime(os.path.join(d, "000.parquet"), (now, now))
    write_finalize_sentinel(d, data, "ts", key_col="k", keys=["k"])

    pattern = [
        Pat("A", lambda r, c: r["action"] == "a", contiguity="strict"),
        Pat("B", lambda r, c: r["action"] in ("b", "bc"),
            quantifier="plus", contiguity="strict"),
        Pat("C", lambda r, c: r["action"] in ("bc", "c"),
            contiguity="strict"),
        Pat("D", lambda r, c: r["action"] == "d", contiguity="strict"),
    ]

    def timeout_measures(v):
        return {"n_b": len(v.get("B", [])),
                "c_action": (v["C"][0]["action"]
                             if "C" in v else None)}

    src = file_stream(spark, d, os.path.join(d, "000.parquet"))
    out = run_to_memory(
        streaming_cep(
            src, key="k", ts_col="ts", pattern=pattern,
            measures=lambda v: {"n_b": -1, "c_action": "MATCH"},
            output_schema="k string, n_b int, c_action string",
            within_ms=10 * 60 * 1000,
            order_cols=["ts"],
            timeout_measures=timeout_measures,
        ),
        spark, "cep_sentinel_drain", "append", str(tmp_path / "ck"),
    )
    rows = sorted(
        ((r.n_b, r.c_action) for r in out.collect()),
        key=lambda t: (t[0], t[1] or ""),
    )
    # identical pair to the batch golden: [A,B=b,C=bc] and [A,B=b,B=bc]
    assert rows == [(1, "bc"), (2, None)], rows


def test_streaming_cep_sentinel_drains_held_greedy_match(spark, tmp_path):
    """D1 closure for the D10 hold: a pattern ENDING in greedy B+ whose
    complete-but-extendable match sits at the buffer edge on a key that
    NEVER receives another data row — exactly the residual VERDICT r6
    named. The sentinel closes the horizon; the held match emits once,
    maximal, identical to the batch run."""
    from flink_examples_spark.operators.cep import Pat
    from flink_examples_spark.streaming.finalize import (
        write_finalize_sentinel,
    )
    from flink_examples_spark.streaming.stateful import streaming_cep

    base = pd.Timestamp("2020-01-01 00:00:00")
    s = pd.Timedelta(seconds=1)
    d = str(tmp_path / "in")
    os.makedirs(d)
    now = time.time() - 10
    data = pd.DataFrame({
        "k": ["k"] * 3, "action": ["a", "b", "b"],
        "ts": [base, base + s, base + 2 * s],
    })
    data.to_parquet(os.path.join(d, "000.parquet"), index=False)
    os.utime(os.path.join(d, "000.parquet"), (now, now))
    write_finalize_sentinel(d, data, "ts", key_col="k", keys=["k"])

    pattern = [
        Pat("A", lambda r, c: r["action"] == "a", contiguity="strict"),
        Pat("B", lambda r, c: r["action"] == "b",
            quantifier="plus", contiguity="strict"),
    ]
    src = file_stream(spark, d, os.path.join(d, "000.parquet"))
    out = run_to_memory(
        streaming_cep(
            src, key="k", ts_col="ts", pattern=pattern,
            measures=lambda v: {"n_b": len(v["B"])},
            output_schema="k string, n_b int",
            within_ms=10 * 60 * 1000,
            order_cols=["ts"],
        ),
        spark, "cep_sentinel_hold", "append", str(tmp_path / "ck"),
    )
    rows = [(r.k, r.n_b) for r in out.collect()]
    assert rows == [("k", 2)], rows  # ONE maximal match, not fragments


def test_write_finalize_sentinel_contract(tmp_path):
    """Unit contract: sentinel copies row-0 values, preserves dtypes,
    fans out per key, mtime sorts last, and validates its inputs."""
    import pyarrow.parquet as pq
    import pytest

    from flink_examples_spark.streaming.finalize import (
        FINALIZE_TS,
        write_finalize_sentinel,
    )

    d = str(tmp_path / "in")
    os.makedirs(d)
    pdf = pd.DataFrame({
        "k": pd.array([7, 8], dtype="int64"),
        "ts": pd.to_datetime(["2024-01-01", "2024-01-02"]),
        "v": [1.5, 2.5],
    })
    early = os.path.join(d, "000.parquet")
    pdf.to_parquet(early, index=False)
    t0 = time.time() - 100
    os.utime(early, (t0, t0))

    path = write_finalize_sentinel(d, pdf, "ts", key_col="k", keys=[7, 8, 9])
    got = pd.read_parquet(path)
    assert list(got["k"]) == [7, 8, 9]
    assert got["k"].dtype == pdf["k"].dtype
    assert (got["ts"] == FINALIZE_TS).all()
    assert (got["v"] == 1.5).all()  # template row-0 payload
    assert os.path.getmtime(path) > os.path.getmtime(early)
    # schema must match the chunk files (same column order + types)
    assert [f.name for f in pq.read_schema(path)] == \
        [f.name for f in pq.read_schema(early)]

    with pytest.raises(ValueError, match="empty template"):
        write_finalize_sentinel(d, pdf.iloc[0:0], "ts")
    with pytest.raises(ValueError, match="go together"):
        write_finalize_sentinel(d, pdf, "ts", key_col="k")
    with pytest.raises(ValueError, match="empty keys"):
        write_finalize_sentinel(d, pdf, "ts", key_col="k", keys=[])

    # cleanup helper (ADVICE r7): removes exactly the sentinel file,
    # leaves data chunks intact, idempotent when nothing remains
    from flink_examples_spark.streaming.finalize import (
        remove_finalize_sentinel,
    )

    assert remove_finalize_sentinel(d) is True
    assert not os.path.exists(path)
    assert os.path.exists(early)  # real chunks untouched
    assert remove_finalize_sentinel(d) is False
    # a batch read of the directory now sees only real rows
    assert len(pd.read_parquet(d)) == len(pdf)


def test_finalize_sentinel_property_random_chunking(spark, tmp_path):
    """r7 D1 property: for randomized per-key event sequences split
    into a randomized number of replay chunks, the availableNow
    session-window aggregation WITH the finalize sentinel equals the
    batch aggregation EXACTLY — the sentinel never leaks rows into the
    output and never changes a closed window, only drains the tail.
    (Deterministic multi-seed loop rather than @given: each replay
    costs a streaming query, so examples are budgeted explicitly.)"""
    import random

    from flink_examples_spark.streaming.finalize import (
        drop_finalize,
        write_finalize_sentinel,
    )

    for seed in (7, 23):
        rng = random.Random(seed)
        base = pd.Timestamp("2024-03-01 00:00:00")
        rows = []
        eid = 0
        for user in range(6):
            t = base + pd.Timedelta(minutes=rng.randint(0, 90))
            for _ in range(rng.randint(1, 25)):
                rows.append((eid, user, t))
                eid += 1
                # mix of intra-session steps and session-breaking gaps
                t = t + pd.Timedelta(
                    minutes=rng.choice([1, 3, 9, 27, 45, 120])
                )
        pdf = pd.DataFrame(rows, columns=["event_id", "user_id", "ts"]) \
            .sort_values(["ts", "event_id"])
        d = write_chunks(
            pdf, str(tmp_path / f"in{seed}"), rng.randint(1, 5)
        )
        write_finalize_sentinel(d, pdf, "ts")
        src = file_stream(spark, d, os.path.join(d, "000.parquet"))
        agg = (
            drop_finalize(src.withWatermark("ts", "0 seconds"), "ts")
            .groupBy(
                F.session_window("ts", "30 minutes").alias("w"), "user_id"
            )
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("ws"), "user_id", "n")
        )
        out = run_to_memory(
            agg, spark, f"fin_prop_{seed}", "append",
            str(tmp_path / f"ck{seed}"),
        )
        stream_rows = {(r.ws, r.user_id): r.n for r in out.collect()}
        batch_rows = {
            (r.ws, r.user_id): r.n
            for r in spark.createDataFrame(pdf)
            .groupBy(
                F.session_window("ts", "30 minutes").alias("w"), "user_id"
            )
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("ws"), "user_id", "n")
            .collect()
        }
        assert stream_rows == batch_rows, seed
        assert stream_rows  # non-vacuous


def test_streaming_cep_with_sentinel_fuzz_equals_batch(spark, tmp_path):
    """r7 D1 fuzz: randomized event tapes on multiple keys, randomized
    replay chunking, a quantified pattern with mixed contiguity — the
    streaming NFA WITH per-key finalize sentinels must produce EXACTLY
    the batch match_recognize output INCLUDING the timeout side output
    (batch end-of-input acts as the final MAX watermark; the sentinel
    is that watermark for the stream). Three seeded cases (each costs
    a streaming query) on top of the 300-case batch-side fuzz."""
    import random

    from flink_examples_spark.operators.cep import Pat, match_recognize
    from flink_examples_spark.streaming.finalize import (
        write_finalize_sentinel,
    )
    from flink_examples_spark.streaming.stateful import streaming_cep

    for seed in (101, 202, 303):
        rng = random.Random(seed)
        base = pd.Timestamp("2021-06-01 00:00:00")
        rows = []
        eid = 0
        for key in (1, 2):
            t = base
            for _ in range(rng.randint(8, 18)):
                rows.append(
                    (key, eid, rng.choice(["a", "b", "bc", "c", "x"]), t)
                )
                eid += 1
                t = t + pd.Timedelta(minutes=rng.choice([1, 2, 5]))
        pdf = pd.DataFrame(rows, columns=["k", "event_id", "sym", "ts"])

        pattern = [
            Pat("A", lambda r, c: "a" in r["sym"], contiguity="strict"),
            Pat("B", lambda r, c: "b" in r["sym"],
                quantifier="plus",
                contiguity=rng.choice(["strict", "relaxed"]),
                internal_contiguity=rng.choice(["strict", "relaxed"])),
            Pat("C", lambda r, c: r["sym"] == "c", contiguity="relaxed"),
        ]
        within_ms = rng.choice([4, 7]) * 60 * 1000

        def measures(v):
            return {"a_id": int(v["A"][0]["event_id"]),
                    "n_b": len(v["B"]),
                    "c_id": int(v["C"][0]["event_id"]),
                    "timed_out": False}

        def timeout_measures(v):
            return {"a_id": int(v["A"][0]["event_id"]),
                    "n_b": len(v.get("B", [])),
                    "c_id": -1, "timed_out": True}

        schema = "k long, a_id long, n_b int, c_id long, timed_out boolean"
        batch = match_recognize(
            spark.createDataFrame(pdf),
            partition_by=["k"], order_by=["ts", "event_id"],
            pattern=pattern, measures=measures, output_schema=schema,
            within=f"{within_ms} ms", ts_col="ts",
            timeout_measures=timeout_measures,
        ).collect()
        batch_set = sorted(
            (r.k, r.a_id, r.n_b, r.c_id, r.timed_out) for r in batch
        )

        d = write_chunks(
            pdf.sort_values(["ts", "event_id"]),
            str(tmp_path / f"fz{seed}"), rng.randint(2, 4),
        )
        write_finalize_sentinel(d, pdf, "ts", key_col="k", keys=[1, 2])
        src = file_stream(spark, d, os.path.join(d, "000.parquet"))
        out = run_to_memory(
            streaming_cep(
                src, key="k", ts_col="ts", pattern=pattern,
                measures=measures, output_schema=schema,
                within_ms=within_ms, order_cols=["ts", "event_id"],
                timeout_measures=timeout_measures,
            ),
            spark, f"cep_fuzz_{seed}", "append",
            str(tmp_path / f"fzck{seed}"),
        )
        stream_set = sorted(
            (r.k, r.a_id, r.n_b, r.c_id, r.timed_out)
            for r in out.collect()
        )
        assert stream_set == batch_set, (seed, stream_set, batch_set)


def test_streaming_capped_sessions_matches_batch(spark, tmp_path, events_pdf):
    """r8 W4+: the capped-session GroupState fold under availableNow
    replay (3 ts-ordered chunks + per-key finalize sentinels) equals
    the registered capped_session_windows batch query EXACTLY — open
    tail sub-windows included, no subtraction (the D1 finalize
    contract). Money folds as integer cents, so the double sums are
    bit-identical to the batch DECIMAL(18,2) path."""
    from flink_examples_spark.streaming.finalize import (
        write_finalize_sentinel,
    )
    from flink_examples_spark.streaming.stateful import (
        streaming_capped_sessions,
    )
    import __spark_entry__ as E

    d = write_chunks(events_pdf, str(tmp_path / "in"), 3)
    write_finalize_sentinel(
        d, events_pdf, "ts",
        key_col="user_id", keys=sorted(events_pdf["user_id"].unique()),
    )
    src = file_stream(spark, d, os.path.join(d, "000.parquet"))
    out = run_to_memory(
        streaming_capped_sessions(src), spark, "capped_sess", "append",
        str(tmp_path / "ck"),
    )
    stream_rows = {
        (r.user_id, r.session_id, r.sub_idx):
            (r.window_start, r.window_end, r.n_events, r.sum_value)
        for r in out.collect()
    }
    batch_rows = {
        (r.user_id, r.session_id, r.sub_idx):
            (r.window_start, r.window_end, r.n_events, r.sum_value)
        for r in E.queries()["capped_session_windows"](spark, SF).collect()
    }
    assert stream_rows == batch_rows


def test_capped_sessions_property_random_chunking(spark, tmp_path):
    """r8 fuzz: for randomized per-user event tapes (mixed intra-window
    steps, cap-crossing runs, and session-breaking gaps; 2-decimal
    values) split into a randomized number of replay chunks, the
    streaming_capped_sessions GroupState fold with per-key finalize
    sentinels equals the declarative batch formulation (window
    functions + groupBy, the registered query's shape) EXACTLY —
    session ordinals, sub-window indices, bounds, counts, and money."""
    import random

    from pyspark.sql import Window

    from flink_examples_spark.streaming.finalize import (
        write_finalize_sentinel,
    )
    from flink_examples_spark.streaming.stateful import (
        streaming_capped_sessions,
    )

    gap_us = 30 * 60 * 1_000_000
    cap_us = 20 * 60 * 1_000_000

    def batch_ref(pdf):
        ev = spark.createDataFrame(pdf)
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        w2 = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        lag_us = F.unix_micros(F.lag("ts").over(w))
        marked = ev.select(
            "user_id", "event_id", "ts", "value",
            F.when(
                lag_us.isNull()
                | (F.unix_micros("ts") - lag_us > gap_us), 1
            ).otherwise(0).alias("new_session"),
        )
        return (
            marked.select(
                "user_id", "ts", "value",
                F.sum("new_session").over(w2).alias("session_id"),
                F.max(
                    F.when(F.col("new_session") == 1, F.unix_micros("ts"))
                ).over(w2).alias("start_us"),
            )
            .withColumn(
                "sub_idx",
                F.expr(f"(unix_micros(ts) - start_us) div {cap_us}"),
            )
            .groupBy("user_id", "session_id", "sub_idx")
            .agg(
                F.min("ts").alias("window_start"),
                F.max("ts").alias("window_end"),
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast("decimal(18,2)"))
                .cast("double").alias("sum_value"),
            )
        )

    for seed in (11, 42):
        rng = random.Random(seed)
        base = pd.Timestamp("2024-03-01 00:00:00")
        rows = []
        eid = 0
        for user in range(5):
            t = base + pd.Timedelta(minutes=rng.randint(0, 90))
            for _ in range(rng.randint(1, 30)):
                rows.append(
                    (eid, user, t, round(rng.uniform(0.01, 200.0), 2))
                )
                eid += 1
                # steps that stay in a sub-window, cross the 20-min
                # cap, and break the 30-min session gap
                t = t + pd.Timedelta(
                    minutes=rng.choice([1, 4, 12, 19, 21, 29, 31, 95])
                )
        pdf = pd.DataFrame(
            rows, columns=["event_id", "user_id", "ts", "value"]
        ).sort_values(["ts", "event_id"])
        d = write_chunks(
            pdf, str(tmp_path / f"cin{seed}"), rng.randint(1, 5)
        )
        write_finalize_sentinel(
            d, pdf, "ts",
            key_col="user_id", keys=sorted(pdf["user_id"].unique()),
        )
        src = file_stream(spark, d, os.path.join(d, "000.parquet"))
        out = run_to_memory(
            streaming_capped_sessions(src), spark,
            f"capped_prop_{seed}", "append", str(tmp_path / f"cck{seed}"),
        )
        key = lambda r: (r.user_id, r.session_id, r.sub_idx)
        val = lambda r: (r.window_start, r.window_end, r.n_events,
                         r.sum_value)
        stream_rows = {key(r): val(r) for r in out.collect()}
        batch_rows = {key(r): val(r) for r in batch_ref(pdf).collect()}
        assert stream_rows == batch_rows, seed
        # non-vacuous: the tape must actually exercise cap rollovers
        assert any(k[2] > 0 for k in batch_rows), seed


def test_capped_sessions_watermark_flush_without_sentinel(spark, tmp_path):
    """r9 (VERDICT #2): with watermark= set, a key that stops sending
    mid-stream emits its final sub-window when the watermark (advanced
    by OTHER keys' events) passes its gap deadline — no finalize
    sentinel anywhere in the input. The still-open tail of the key
    that keeps sending is NOT emitted (its deadline is past the final
    watermark), exactly the unbounded-stream semantics."""
    from flink_examples_spark.streaming.stateful import (
        streaming_capped_sessions,
    )

    t = lambda s: pd.Timestamp(f"2024-03-01 {s}")
    pdf = pd.DataFrame({
        "event_id": [1, 2, 3, 4, 5],
        "user_id":  [1, 1, 2, 2, 2],
        "ts": [t("00:00:00"), t("00:05:00"),   # user 1, then quiet
               t("00:10:00"), t("01:30:00"), t("01:40:00")],
        "value": [1.25, 2.50, 4.00, 8.00, 16.00],
    })
    # three single-file triggers: c0 = both users' early events,
    # c1/c2 = user 2 alone. After c1 the watermark (0s delay) is
    # 01:30 > user 1's gap deadline 00:35, so user 1's timer fires
    # during c2's batch.
    d = str(tmp_path / "in")
    os.makedirs(d)
    now = time.time() - 10
    for i, idx in enumerate([[0, 1, 2], [3], [4]]):
        p = os.path.join(d, f"{i:03d}.parquet")
        pdf.iloc[idx].to_parquet(p, index=False)
        os.utime(p, (now + i, now + i))
    src = file_stream(spark, d, os.path.join(d, "000.parquet"))
    out = run_to_memory(
        streaming_capped_sessions(src, watermark="0 seconds"), spark,
        "capped_wm_flush", "append", str(tmp_path / "ck"),
    )
    rows = {
        (r.user_id, r.session_id, r.sub_idx):
            (r.window_start, r.window_end, r.n_events, r.sum_value)
        for r in out.collect()
    }
    assert rows == {
        # user 1's whole session: flushed by the event-time timer
        (1, 1, 0): (t("00:00:00"), t("00:05:00"), 2, 3.75),
        # user 2's first session: closed by its own 80-min gap
        (2, 1, 0): (t("00:10:00"), t("00:10:00"), 1, 4.00),
        # user 2's open second session is correctly absent
    }


def test_capped_sessions_watermark_mode_sentinel_batch_parity(
    spark, tmp_path, events_pdf
):
    """r9: watermark mode + finalize sentinels together still equal the
    batch query EXACTLY — a window flushed early by a timer must not
    re-emit at the sentinel (the n=0 guard), and the sentinel still
    drains deadlines the final watermark never passes."""
    from flink_examples_spark.streaming.finalize import (
        write_finalize_sentinel,
    )
    from flink_examples_spark.streaming.stateful import (
        streaming_capped_sessions,
    )
    import __spark_entry__ as E

    d = write_chunks(events_pdf, str(tmp_path / "in"), 4)
    write_finalize_sentinel(
        d, events_pdf, "ts",
        key_col="user_id", keys=sorted(events_pdf["user_id"].unique()),
    )
    src = file_stream(spark, d, os.path.join(d, "000.parquet"))
    out = run_to_memory(
        streaming_capped_sessions(src, watermark="0 seconds"), spark,
        "capped_wm_sentinel", "append", str(tmp_path / "ck"),
    )
    stream_rows = {
        (r.user_id, r.session_id, r.sub_idx):
            (r.window_start, r.window_end, r.n_events, r.sum_value)
        for r in out.collect()
    }
    batch_rows = {
        (r.user_id, r.session_id, r.sub_idx):
            (r.window_start, r.window_end, r.n_events, r.sum_value)
        for r in E.queries()["capped_session_windows"](spark, SF).collect()
    }
    assert stream_rows == batch_rows


def test_capped_sessions_sentinel_only_key_emits_nothing(spark, tmp_path):
    """A finalize sentinel fanned out to a key that never produced data
    (the keys= superset case — e.g. a roster wider than the tape) must
    not emit a window or poison state; keys WITH data still drain."""
    from flink_examples_spark.streaming.finalize import (
        write_finalize_sentinel,
    )
    from flink_examples_spark.streaming.stateful import (
        streaming_capped_sessions,
    )

    pdf = pd.DataFrame({
        "event_id": [1, 2],
        "user_id": [7, 7],
        "ts": pd.to_datetime(["2024-03-01 00:00:00", "2024-03-01 00:05:00"]),
        "value": [1.25, 2.50],
    })
    d = write_chunks(pdf, str(tmp_path / "in"), 1)
    write_finalize_sentinel(d, pdf, "ts", key_col="user_id", keys=[7, 99])
    src = file_stream(spark, d, os.path.join(d, "000.parquet"))
    out = run_to_memory(
        streaming_capped_sessions(src), spark, "capped_sentinel_only",
        "append", str(tmp_path / "ck"),
    )
    rows = out.collect()
    assert {r.user_id for r in rows} == {7}
    assert len(rows) == 1
    assert rows[0].n_events == 2 and rows[0].sum_value == 3.75


def test_streaming_budget_admission_matches_batch(spark, tmp_path):
    """Streaming twin of budget_admission_flags: the per-key token
    prefix lives in GroupState across micro-batches, so an append-only
    id-ordered ingest admits row-for-row identically to the batch
    window formulation — and the admitted set is an id-prefix per
    key."""
    from flink_examples_spark.operators.sampling import (
        budget_admission_flags,
    )
    from flink_examples_spark.streaming.stateful import (
        streaming_budget_admission,
    )

    docs = load_table(spark, "documents", SF)
    batch = {
        r["doc_id"]: (r["source"], r["n_tokens"], r["kept"])
        for r in budget_admission_flags(
            docs, "source", "doc_id", "text", 700
        ).collect()
    }

    pdf = docs.select("source", "doc_id", "text").toPandas() \
        .sort_values("doc_id")  # append-only id-ordered ingest
    d = write_chunks(pdf, str(tmp_path / "in"), 4)
    src = file_stream(spark, d, os.path.join(d, "000.parquet"))
    out = run_to_memory(
        streaming_budget_admission(src, "doc_id", "text", 700, "source"),
        spark, "budget_adm", "append", str(tmp_path / "ck"),
    )
    got = {r.doc_id: (r.source, r.n_tokens, r.kept) for r in out.collect()}
    assert got == batch
    # the cap actually bit (both verdicts present) ...
    verdicts = {k for _, _, k in got.values()}
    assert verdicts == {True, False}
    # ... and per key the admitted set is an id-prefix
    by_src = {}
    for doc_id, (s, _, kept) in sorted(got.items()):
        by_src.setdefault(s, []).append(kept)
    for s, flags in by_src.items():
        assert flags == sorted(flags, reverse=True), s


def test_streaming_budget_admission_out_of_order_trigger_raises(
    spark, tmp_path
):
    """A trigger whose min id does not exceed the previous trigger's
    max id violates the id-ordered replay contract and must fail
    LOUDLY (ValueError -> StreamingQueryException), not silently admit
    against a stale prefix."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from flink_examples_spark.streaming.stateful import (
        streaming_budget_admission,
    )

    d = str(tmp_path / "in")
    os.makedirs(d)
    now = time.time() - 10
    a = pd.DataFrame({"source": ["h", "h"], "doc_id": [10, 11],
                      "text": ["a b", "c"]})
    b = pd.DataFrame({"source": ["h"], "doc_id": [5], "text": ["d"]})
    a.to_parquet(os.path.join(d, "000.parquet"), index=False)
    b.to_parquet(os.path.join(d, "001.parquet"), index=False)
    os.utime(os.path.join(d, "000.parquet"), (now, now))
    os.utime(os.path.join(d, "001.parquet"), (now + 1, now + 1))

    src = file_stream(spark, d, os.path.join(d, "000.parquet"))
    with pytest.raises(StreamingQueryException) as exc:
        run_to_memory(
            streaming_budget_admission(src, "doc_id", "text", 100, "source"),
            spark, "budget_adm_ooo", "append", str(tmp_path / "ck"),
        )
    assert "replay contract violated" in str(exc.value)


def test_streaming_budget_admission_fuzz_equals_batch(spark, tmp_path):
    """Differential fuzz: random tapes (random token counts, NULL
    texts, a zero-cap key never admitting) x random chunkings must
    equal the batch window formulation row-for-row."""
    import random

    from flink_examples_spark.operators.sampling import (
        budget_admission_flags,
    )
    from flink_examples_spark.streaming.stateful import (
        streaming_budget_admission,
    )

    for seed in (11, 23, 47):
        rng = random.Random(seed)
        rows = []
        for doc_id in range(rng.randrange(40, 80)):
            src = f"h{rng.randrange(3)}"
            if rng.random() < 0.1:
                text = None
            else:
                text = " ".join("w%d" % rng.randrange(9)
                                for _ in range(rng.randrange(0, 10)))
            rows.append((src, doc_id, text))
        pdf = pd.DataFrame(rows, columns=["source", "doc_id", "text"])
        cap = rng.randrange(10, 40)

        sdf = spark.createDataFrame(
            pdf, "source string, doc_id long, text string"
        )
        batch = {
            r["doc_id"]: (r["source"], r["n_tokens"], r["kept"])
            for r in budget_admission_flags(
                sdf, "source", "doc_id", "text", cap
            ).collect()
        }

        d = write_chunks(pdf, str(tmp_path / f"in{seed}"),
                         rng.randrange(1, 6))
        src_stream = file_stream(spark, d, os.path.join(d, "000.parquet"))
        out = run_to_memory(
            streaming_budget_admission(
                src_stream, "doc_id", "text", cap, "source"
            ),
            spark, f"budget_adm_fuzz_{seed}", "append",
            str(tmp_path / f"ck{seed}"),
        )
        got = {
            r.doc_id: (r.source, r.n_tokens, r.kept) for r in out.collect()
        }
        assert got == batch, f"seed {seed}"

    # cap = 0 admits nothing, in both formulations
    zp = pd.DataFrame(
        [("z", 1, "a b"), ("z", 2, "c")],
        columns=["source", "doc_id", "text"],
    )
    zdf = spark.createDataFrame(zp, "source string, doc_id long, text string")
    assert all(
        not r["kept"]
        for r in budget_admission_flags(
            zdf, "source", "doc_id", "text", 0
        ).collect()
    )
    d = write_chunks(zp, str(tmp_path / "in_zero"), 1)
    src_stream = file_stream(spark, d, os.path.join(d, "000.parquet"))
    out = run_to_memory(
        streaming_budget_admission(src_stream, "doc_id", "text", 0, "source"),
        spark, "budget_adm_zero", "append", str(tmp_path / "ck_zero"),
    )
    assert [r.kept for r in out.collect()] == [False, False]


def test_streaming_budget_admission_duplicate_id_in_trigger_raises(
    spark, tmp_path
):
    """A duplicate id WITHIN one trigger would silently inflate the
    prefix (the within-trigger sort masks it) — it must fail loudly
    like the cross-trigger check (r9 s5 review)."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from flink_examples_spark.streaming.stateful import (
        streaming_budget_admission,
    )

    pdf = pd.DataFrame({"source": ["h", "h"], "doc_id": [7, 7],
                        "text": ["a b", "a b"]})
    d = write_chunks(pdf, str(tmp_path / "in"), 1)
    src = file_stream(spark, d, os.path.join(d, "000.parquet"))
    with pytest.raises(StreamingQueryException) as exc:
        run_to_memory(
            streaming_budget_admission(src, "doc_id", "text", 100, "source"),
            spark, "budget_adm_dup", "append", str(tmp_path / "ck"),
        )
    assert "appears more than once" in str(exc.value)


def test_streaming_budget_admission_negative_cap_raises(spark):
    """Negative cap fails fast on BOTH twins (parity of the guard)."""
    from flink_examples_spark.operators.sampling import (
        budget_admission_flags,
    )
    from flink_examples_spark.streaming.stateful import (
        streaming_budget_admission,
    )

    df = spark.createDataFrame(
        [("h", 1, "a")], "source string, doc_id long, text string"
    )
    with pytest.raises(ValueError, match="cap must be >= 0"):
        budget_admission_flags(df, "source", "doc_id", "text", -1)
    with pytest.raises(ValueError, match="cap must be >= 0"):
        streaming_budget_admission(df, "doc_id", "text", -1, "source")


def test_batch_budget_admission_duplicate_id_raises(spark):
    """ADVICE r9: the batch twin's window frame over tied ids is
    nondeterministic — which duplicate 'comes first' (and so the kept
    verdicts near the cap) could flip run-to-run while the streaming
    twin raises. The batch side now raises the same loud failure, via
    a lag over the SAME window sort (no extra exchange)."""
    from flink_examples_spark.operators.sampling import (
        budget_admission_flags,
    )

    dup = spark.createDataFrame(
        [("h", 7, "a b"), ("h", 7, "c")],
        "source string, doc_id long, text string",
    )
    with pytest.raises(Exception, match="appears more than once"):
        budget_admission_flags(dup, "source", "doc_id", "text", 100).collect()

    # unique ids are unaffected (the guard branch never evaluates)
    ok = spark.createDataFrame(
        [("h", 1, "a b"), ("h", 2, "c"), ("g", 1, "d e f")],
        "source string, doc_id long, text string",
    )
    rows = {
        (r.source, r.doc_id): r.kept
        for r in budget_admission_flags(
            ok, "source", "doc_id", "text", 3
        ).collect()
    }
    assert rows == {("h", 1): True, ("h", 2): True, ("g", 1): True}


def test_batch_budget_admission_duplicate_null_ids_raise(spark):
    """r10 review: tied NULL ids slipped the first guard (NULL == NULL
    is NULL) while their window frame stayed nondeterministic. The
    null-safe guard (row_number > 1 AND eqNullSafe) catches them; a
    SINGLE NULL id per key — no tie — still passes."""
    from flink_examples_spark.operators.sampling import (
        budget_admission_flags,
    )

    dup = spark.createDataFrame(
        [("h", None, "a b"), ("h", None, "c")],
        "source string, doc_id long, text string",
    )
    with pytest.raises(Exception, match="appears more than once"):
        budget_admission_flags(dup, "source", "doc_id", "text", 100).collect()

    single = spark.createDataFrame(
        [("h", None, "a b"), ("h", 2, "c")],
        "source string, doc_id long, text string",
    )
    rows = budget_admission_flags(
        single, "source", "doc_id", "text", 100
    ).collect()
    assert len(rows) == 2 and all(r.kept for r in rows)


def test_streaming_budget_admission_missing_id_column_raises(spark):
    """r10 review: a typo'd id column must say 'not found', not
    misdirect toward casting a column that doesn't exist."""
    from flink_examples_spark.streaming.stateful import (
        streaming_budget_admission,
    )

    df = spark.createDataFrame(
        [("h", 1, "a")], "source string, doc_id long, text string"
    )
    with pytest.raises(TypeError, match="not found in the input schema"):
        streaming_budget_admission(df, "docid", "text", 10, "source")


def test_streaming_budget_admission_non_integral_id_raises(spark):
    """ADVICE r9: a string id column used to die mid-stream with an
    unrelated ValueError from the int(...) casts; it must fail at
    construction with the contract message (last_id state is a long)."""
    from flink_examples_spark.streaming.stateful import (
        streaming_budget_admission,
    )

    df = spark.createDataFrame(
        [("h", "k1", "a")], "source string, doc_id string, text string"
    )
    with pytest.raises(TypeError, match="must be an integral type"):
        streaming_budget_admission(df, "doc_id", "text", 10, "source")


def test_capped_sessions_timeout_state_retention_both_modes(
    spark, tmp_path
):
    """A key whose timer FIRES and that then RETURNS: by default its
    state survives the timer flush so session ordinals keep counting
    (batch parity — the batch query numbers a key's sessions over all
    its data); with clear_state_on_timeout=True the flush removes
    state entirely (Flink's clear-on-fire — bounds total state under
    unbounded key churn) and the returning key restarts at
    session_id 1 (r9 s5 review). The tape isolates the TIMER path:
    user 1's timer fires in a trigger where it has no data (u2-only
    events advance the watermark), and the return arrives two triggers
    later."""
    from flink_examples_spark.streaming.stateful import (
        streaming_capped_sessions,
    )

    t = lambda s: pd.Timestamp(f"2024-03-01 {s}")
    rows = [
        # c0: u1 session + u2 baseline          wm(after) = 00:10
        [(1, 1, "00:00:00", 1.0), (2, 1, "00:05:00", 2.0),
         (3, 2, "00:10:00", 4.0)],
        # c1: u2 advances wm to 01:30 (> u1 deadline 00:35)
        [(4, 2, "01:30:00", 8.0)],
        # c2: u1 TIMER fires here (no u1 data; wm in effect 01:30)
        [(5, 2, "01:35:00", 8.0)],
        # c3: u1 returns -> new session (deadline 02:30)
        [(6, 1, "02:00:00", 16.0)],
        # c4: u2 pushes wm to 05:00
        [(7, 2, "05:00:00", 32.0)],
        # c5: u1's second timer fires (wm in effect 05:00 > 02:30)
        [(8, 2, "05:05:00", 32.0)],
    ]
    d0 = str(tmp_path / "in")
    os.makedirs(d0)
    now = time.time() - 10
    for i, chunk in enumerate(rows):
        pdf = pd.DataFrame(
            chunk, columns=["event_id", "user_id", "ts", "value"]
        )
        pdf["ts"] = pdf["ts"].map(t)
        p = os.path.join(d0, f"{i:03d}.parquet")
        pdf.to_parquet(p, index=False)
        os.utime(p, (now + i, now + i))

    def run(clear, name):
        src = file_stream(spark, d0, os.path.join(d0, "000.parquet"))
        out = run_to_memory(
            streaming_capped_sessions(
                src, watermark="0 seconds",
                clear_state_on_timeout=clear,
            ),
            spark, name, "append", str(tmp_path / f"ck_{name}"),
        )
        return sorted(
            (r.session_id, r.sub_idx, r.n_events)
            for r in out.collect() if r.user_id == 1
        )

    # default: ordinal continuity across the timer flush
    assert run(False, "capped_keep_state") == [(1, 0, 2), (2, 0, 1)]
    # clear-on-fire: the returning key restarts at session_id 1
    assert run(True, "capped_clear_state") == [(1, 0, 1), (1, 0, 2)]


def _face_tape() -> pd.DataFrame:
    """One key's four events in (ts, event_id) order: each face's output
    follows that order; the 43-min gap closes one capped session."""
    base = pd.Timestamp("2024-03-01 00:00:00")
    return pd.DataFrame({
        "user_id": [7, 7, 7, 7],
        "order_id": ["7"] * 4,
        "event_id": [1, 2, 3, 4],
        "ts": [base + pd.Timedelta(minutes=m) for m in (0, 1, 2, 45)],
        "value": [5.0, 500.0, 3.0, 450.0],
        "event_type": ["view", "click", "purchase", "view"],
        "leg": ["small", "small", "big", "big"],
    })


def _cep_face(S, src):
    from flink_examples_spark.operators.cep import Pat

    def rises(row, ctx):
        prev = ctx.last(1)
        return prev is not None and row["value"] > prev["value"]

    return S.streaming_cep(
        src, key="user_id", ts_col="ts",
        pattern=[Pat("A"), Pat("B", where=rises, contiguity="strict")],
        measures=lambda vm: {
            "a_id": int(vm["A"][0]["event_id"]),
            "b_id": int(vm["B"][0]["event_id"]),
        },
        output_schema="user_id long, a_id long, b_id long",
        within_ms=3_600_000, order_cols=["ts", "event_id"],
    )


# the 11 row-ordered GroupState faces (every one but dedup TTL), each
# built over a file stream of _face_tape's columns
_ORDERED_FACES = {
    "fraud": lambda S, src: S.streaming_fraud_detector(src),
    "count_window": lambda S, src: S.streaming_count_window(src, size=2, slide=1),
    "double_stream": lambda S, src: S.streaming_double_stream_match(
        src.withWatermark("ts", "0 seconds"), side_col="leg"
    ),
    "asof": lambda S, src: S.streaming_asof_enrich(src.selectExpr(
        "user_id", "ts", "if(event_type = 'view', 0, 1) AS side",
        "event_id AS left_id", "event_id AS payload", "event_id AS ord",
    ), "user_id"),
    "dfa": lambda S, src: S.streaming_dfa_alerts(
        src, {"view": {"click"}, "click": {"purchase"}}),
    "cep": _cep_face,
    "funnel": lambda S, src: S.streaming_funnel_first_times(
        src, "user_id", "ts", "event_type", ["view", "click", "purchase"]
    ),
    "sequence_pack": lambda S, src: S.streaming_sequence_pack(
        src, "event_id", "event_type", 1, "user_id"
    ),
    "series_scan": lambda S, src: S.streaming_series_pattern_scan(
        src, "user_id", "ts", "value", [5.0, 500.0], 1e9,
        order_cols=["ts", "event_id"],
    ),
    "capped_sessions": lambda S, src: S.streaming_capped_sessions(src),
    "budget_admission": lambda S, src: S.streaming_budget_admission(
        src, "event_id", "event_type", 2, "user_id"
    ),
}


def _run_face(spark, tmp_path, name, face, key_expr=None):
    """Replay _face_tape, written as one file in REVERSE (ts, id) order,
    through a face, the key column first replaced by ``key_expr``
    (``(column, SQL expression)``); rows sorted by repr, the key as a
    string so key types compare."""
    import flink_examples_spark.streaming.stateful as S

    d = str(tmp_path / name)
    os.makedirs(d)
    _face_tape().iloc[::-1].to_parquet(
        os.path.join(d, "000.parquet"), index=False
    )
    src = file_stream(spark, d, os.path.join(d, "000.parquet"))
    if key_expr is not None:
        src = src.withColumn(key_expr[0], F.expr(key_expr[1]))
    out = run_to_memory(
        _ORDERED_FACES[face](S, src), spark, name, "append",
        str(tmp_path / f"{name}_ck"),
    )
    return sorted(((str(r[0]), *r[1:]) for r in out.collect()), key=repr)


@pytest.mark.parametrize("face", sorted(_ORDERED_FACES))
def test_stateful_face_output_invariant_to_arrow_batch_size(
    spark, tmp_path, face
):
    """One key, one file, one trigger, rows in reverse order: at
    arrow.maxRecordsPerBatch=1 the key's trigger arrives as one chunk
    per row, and the face must still emit exactly the rows it emits at
    the default batch size — every face sorts the whole trigger once,
    never chunk by chunk."""
    want = _run_face(spark, tmp_path, f"bs_{face}_0", face)
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "1")
    try:
        got = _run_face(spark, tmp_path, f"bs_{face}_1", face)
    finally:
        spark.conf.set(conf, prev)
    assert got == want and want, (got, want)


# face -> (key column, SQL expression retyping it, the retyped key)
_KEY_VARIANTS = {
    "fraud": ("user_id", "concat('u', user_id)", "u7"),
    "dfa": ("user_id", "concat('u', user_id)", "u7"),
    "funnel": ("user_id", "concat('u', user_id)", "u7"),
    "double_stream": ("order_id", "cast(order_id AS long)", "7"),
}


@pytest.mark.parametrize("face", sorted(_KEY_VARIANTS))
def test_stateful_face_accepts_non_default_key_type(spark, tmp_path, face):
    """Keyed faces take the output key type from the input schema: a
    string user_id (fraud, DFA, funnel) or a long order_id (double
    stream) emits the same rows as the default key type instead of
    dying at the first emitted row's Arrow conversion."""
    col, expr, key = _KEY_VARIANTS[face]
    want = _run_face(spark, tmp_path, f"kt_{face}_0", face)
    got = _run_face(spark, tmp_path, f"kt_{face}_1", face, (col, expr))
    assert got == [(key, *r[1:]) for r in want] and want, (got, want)


def test_streaming_series_pattern_scan_decimal_value_raises(spark):
    """The series scan buffers its rows as JSON in GroupState, so a
    decimal value column must fail at construction with the
    streaming_cep message, not mid-stream."""
    from flink_examples_spark.streaming.stateful import (
        streaming_series_pattern_scan,
    )

    df = spark.createDataFrame(
        [], "user_id long, ts timestamp, value decimal(18,2)"
    )
    with pytest.raises(TypeError, match="cannot round-trip the JSON state"):
        streaming_series_pattern_scan(
            df, "user_id", "ts", "value", [1.0, 2.0], 1.0
        )
