"""``stream_replay``: the events table replayed from a parquet tape.

The tape is the events table cut, at seed-drawn boundaries in event-time
order, into ``n_files`` parquet files with seed-shuffled rows inside each
file; the hot-items query reads it with the finalize sentinel appended. One replay runs two queries one after
the other, each reading the tape with ``file_stream(maxFilesPerTrigger=1)``
under ``availableNow`` from a fresh checkpoint:

- ``streaming_hot_items_counts`` into a memory sink;
- ``streaming_dedup_ttl(["user_id", "event_type"])`` into
  ``countmin_ingest_foreach_batch``, so state-store updates and sink
  writes run beside the reads.

A replay is one closed-loop pass: the next starts only after both
queries have terminated.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from contextlib import nullcontext

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from engine import Engine, catalog_probe, cpu_seconds, rss_high_water_mb
from spans import Tracer, result_hash

DEDUP_KEYS = ["user_id", "event_type"]
SKETCH_DEPTH = 4

LAYER_KEYS = (
    "catalog.load_table_s", "catalog.load_table_calls", "catalog.jobs",
    "streaming.sources.offset_ms", "streaming.plan_ms", "streaming.add_batch_ms",
    "streaming.wal_ms", "streaming.batches", "streaming.rows_per_s",
    "streaming.stateful.update_ms", "streaming.stateful.commit_ms",
    "streaming.stateful.state_rows", "streaming.stateful.state_bytes",
    "streaming.stateful.late_rows_dropped",
    "streaming.sinks.write_s", "streaming.sinks.jobs", "streaming.sinks.bytes_written",
)


def write_tape(events_path: str, tape_dir: str, seed: int, n_files: int) -> list[str]:
    """Cut the ts-ordered events table into ``n_files`` files at
    seed-drawn boundaries, shuffling rows within each file. Files get
    increasing mtimes so the file source replays them in order."""
    table = pq.read_table(events_path).sort_by([("ts", "ascending"), ("event_id", "ascending")])
    rng = np.random.default_rng(seed)
    n = table.num_rows
    cuts = np.sort(rng.choice(np.arange(1, n), n_files - 1, replace=False))
    bounds = [0, *cuts.tolist(), n]
    os.makedirs(tape_dir, exist_ok=True)
    now = time.time() - n_files - 5
    paths = []
    for i in range(n_files):
        lo, hi = bounds[i], bounds[i + 1]
        chunk = table.slice(lo, hi - lo)
        chunk = chunk.take(pa.array(rng.permutation(hi - lo)))
        path = os.path.join(tape_dir, f"{i:04d}.parquet")
        pq.write_table(chunk, path)
        os.utime(path, (now + i, now + i))
        paths.append(path)
    return paths


def progress_dicts(query) -> list[dict]:
    return [p if isinstance(p, dict) else json.loads(p.json) for p in query.recentProgress]


class StreamRun:
    """One run of ``stream_replay`` on a started ``Engine``."""

    def __init__(self, engine: Engine, seed: int, sf_dir: str, expected: dict) -> None:
        self.engine = engine
        self.expected = expected
        self.seed = seed
        self.work = os.path.join(engine.work, "stream")
        self.sf_dir = sf_dir
        self.tape_rows = pq.read_metadata(os.path.join(sf_dir, "events.parquet")).num_rows
        self.attempted = 0
        self.failed = 0
        self.wrong: list[str] = []
        self.errors: list[str] = []
        self.peak_rss_mb = 0.0
        self.replays = 0

    def make_tape(self, name: str, n_files: int) -> dict[str, str]:
        """Write a fresh tape of ``n_files`` files under the run's
        directory. Returns two views of it: ``data``, the files alone, and
        ``final``, the same files (hard links) plus the finalize sentinel,
        which only the watermarked hot-items query needs."""
        from flink_examples_spark.streaming.finalize import write_finalize_sentinel

        data = os.path.join(self.work, name, "data")
        final = os.path.join(self.work, name, "final")
        paths = write_tape(os.path.join(self.sf_dir, "events.parquet"), data, self.seed, n_files)
        os.makedirs(final)
        for p in paths:
            os.link(p, os.path.join(final, os.path.basename(p)))
        # the sentinel copies a view row: hot items filters on event_type
        # before its watermark, and a filtered-out sentinel would leave the
        # last windows open
        first = pq.read_table(paths[0]).to_pandas()
        write_finalize_sentinel(final, first[first["event_type"] == "view"], "ts")
        return {"data": data, "final": final}

    def _source(self, tape: str):
        from flink_examples_spark.streaming.sources import file_stream

        schema_file = os.path.join(tape, "0000.parquet")
        return file_stream(self.engine.spark, tape, schema_file, max_files_per_trigger=1)

    def replay(self, tape: dict[str, str], tr: Tracer | None = None, check: bool = True) -> dict:
        """Run both queries over the whole tape from fresh checkpoint and
        sink dirs. Returns the wall and CPU time, the jobs and tasks run,
        per-batch trigger times and, with a tracer, the layer figures;
        checks both outputs unless ``check`` is false. Traced, the replay
        is a ``replay`` span with a ``query`` span per streaming query, the
        ``foreachBatch`` calls and any ``catalog.load_table`` call under
        them."""
        from flink_examples_spark.streaming.sinks import countmin_ingest_foreach_batch
        from flink_examples_spark.streaming.stateful import (
            streaming_dedup_ttl,
            streaming_hot_items_counts,
        )

        spark = self.engine.spark
        i = self.replays
        self.replays += 1
        rdir = os.path.join(self.work, f"replay-{i}")
        sketch = os.path.join(rdir, "sketch")
        table = f"perfbench_hot_items_{i}"
        ingest = countmin_ingest_foreach_batch(sketch, "user_id", depth=SKETCH_DEPTH)
        if tr is not None:
            ingest = self._timed_sink(ingest, tr)

        def span(name, **attrs):
            return tr.span(name, **attrs) if tr is not None else nullcontext()

        self.attempted += 1
        progress: dict[str, list[dict]] = {}
        try:
            job0, t0, cpu0 = self.engine.jobs_submitted(), time.perf_counter(), cpu_seconds()
            probe = catalog_probe(self.engine, tr) if tr is not None else nullcontext()
            with probe, span("replay") as root:
                with span("query", query="hot_items"):
                    q = (
                        streaming_hot_items_counts(self._source(tape["final"]))
                        .writeStream.format("memory").queryName(table).outputMode("append")
                        .trigger(availableNow=True)
                        .option("checkpointLocation", os.path.join(rdir, "ck_hot"))
                        .start()
                    )
                    q.awaitTermination()
                progress["hot_items"] = progress_dicts(q)
                with span("query", query="dedup_sink"):
                    q = (
                        streaming_dedup_ttl(self._source(tape["data"]), DEDUP_KEYS)
                        .writeStream.foreachBatch(ingest).outputMode("append")
                        .trigger(availableNow=True)
                        .option("checkpointLocation", os.path.join(rdir, "ck_dedup"))
                        .start()
                    )
                    q.awaitTermination()
                progress["dedup_sink"] = progress_dicts(q)
            wall, cpu = time.perf_counter() - t0, cpu_seconds() - cpu0
            jobs, tasks = self.engine.work_since(job0)
            if check:
                self._check(table, sketch)
        except Exception as e:  # a failed replay is counted; the loop goes on
            self.failed += 1
            self.errors.append(f"replay {i}: {type(e).__name__}: {str(e)[:300]}")
            for q in spark.streams.active:
                q.stop()
            return {"wall": None, "batches": {}, "layers": None}
        finally:
            spark.catalog.dropTempView(table)
            self.peak_rss_mb = max(self.peak_rss_mb, rss_high_water_mb())
        batches = {
            (name, p["batchId"]): p["durationMs"].get("triggerExecution", 0)
            for name, ps in progress.items() for p in ps
        }
        layers = self._layers(progress, tr, root, sketch) if tr is not None else None
        shutil.rmtree(rdir, ignore_errors=True)
        return {"wall": wall, "cpu": cpu, "jobs": jobs, "tasks": tasks, "batches": batches, "layers": layers}

    def _timed_sink(self, fn, tr: Tracer):
        """Wrap the foreachBatch callable in a ``streaming.sinks.write``
        span that counts the jobs it submits (job ids are sequential; the
        stream thread waits on the callable, so every job in between is
        the sink's). The callable runs on a callback thread while the
        driver thread waits in ``awaitTermination``, so the open
        ``query`` span is its parent."""
        dag = self.engine.spark.sparkContext._jsc.sc().dagScheduler()

        def timed(batch_df, batch_id):
            before = dag.nextJobId()
            with tr.span("streaming.sinks.write", batch=batch_id) as s:
                try:
                    fn(batch_df, batch_id)
                finally:
                    s["counts"]["jobs"] = dag.nextJobId() - before

        return timed

    def _check(self, table: str, sketch: str) -> None:
        from flink_examples_spark.streaming.sinks import read_countmin_sketch

        spark = self.engine.spark
        got = outputs(
            rank_hot_items(spark.table(table).collect()),
            read_countmin_sketch(spark, sketch).collect(),
        )
        for key, want in self.expected.items():
            if got[key] != want:
                self.wrong.append(f"{key}: expected {want}, got {got[key]}")

    def _layers(self, progress: dict, tr: Tracer, root: dict, sketch: str) -> dict[str, float]:
        every = [p for ps in progress.values() for p in ps]
        tot = tr.totals(tr.descendants(root))
        catalog = tot.get("catalog.load_table", {"calls": 0, "total_s": 0.0, "counts": {}})
        sink = tot.get("streaming.sinks.write", {"total_s": 0.0, "counts": {}})

        def dur(*keys):
            return float(sum(p["durationMs"].get(k, 0) for p in every for k in keys))

        def ops(key):
            return float(sum(o.get(key, 0) for p in every for o in p.get("stateOperators", [])))

        def last_ops(key):
            return float(sum(
                o.get(key, 0) for ps in progress.values() if ps for o in ps[-1].get("stateOperators", [])
            ))

        trigger_s = dur("triggerExecution") / 1000.0
        rows = sum(p.get("numInputRows", 0) for p in every)
        written = sum(
            os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(sketch) for f in fs
        )
        return {
            "catalog.load_table_s": catalog["total_s"],
            "catalog.load_table_calls": float(catalog["calls"]),
            "catalog.jobs": float(catalog["counts"].get("jobs", 0)),
            "streaming.sources.offset_ms": dur("latestOffset", "getBatch"),
            "streaming.plan_ms": dur("queryPlanning"),
            "streaming.add_batch_ms": dur("addBatch"),
            "streaming.wal_ms": dur("walCommit", "commitOffsets"),
            "streaming.batches": float(len(every)),
            "streaming.rows_per_s": rows / trigger_s if trigger_s else 0.0,
            "streaming.stateful.update_ms": ops("allUpdatesTimeMs") + ops("allRemovalsTimeMs"),
            "streaming.stateful.commit_ms": ops("commitTimeMs"),
            "streaming.stateful.state_rows": last_ops("numRowsTotal"),
            "streaming.stateful.state_bytes": last_ops("memoryUsedBytes"),
            "streaming.stateful.late_rows_dropped": ops("numRowsDroppedByWatermark"),
            "streaming.sinks.write_s": sink["total_s"],
            "streaming.sinks.jobs": float(sink["counts"].get("jobs", 0)),
            "streaming.sinks.bytes_written": float(written),
        }


def rank_hot_items(rows) -> list[tuple]:
    """Top-3 users per window of streamed ``(window_end, user_id,
    view_count)`` rows, ranked as the batch ``operators.topn.hot_items``
    ranks them: view count descending, user id ascending."""
    ranked, rank, prev = [], 0, None
    for w, user, views in sorted(rows, key=lambda r: (r[0], -r[2], r[1])):
        rank = rank + 1 if w == prev else 1
        prev = w
        if rank <= 3:
            ranked.append((w, user, views, rank))
    return ranked


def outputs(hot: list, cells: list) -> dict:
    """The checked figures of one replay, or of the batch formulations:
    the ranked hot items, the Count-Min cells, and the number of dedup
    keys (the sum of the sketch's first row: one count per emitted key)."""
    return {
        "hot_items": {"rows": len(hot), "hash": result_hash(hot)},
        "sketch": {"rows": len(cells), "hash": result_hash(cells)},
        "dedup_keys": sum(c["cnt"] for c in cells if c["j"] == 0),
    }
