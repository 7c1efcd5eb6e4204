"""Key-value and bulk-index sink tests with injected fake clients.

The fake clients append JSONL to a shared temp directory (local mode —
executors share the filesystem), standing in for jedis / the ES REST
client. What's under test is the Spark-side contract: per-partition
client lifecycle, pipelined flush thresholds, full delivery.

The staged-partial ingest faces share one parametrized test at the end:
empty reads on a missing root, and compaction plus replay of the newest
batch leaving each face's fold unchanged.
"""

from __future__ import annotations

import json
import os
import uuid
from collections import Counter

import pytest

from flink_examples_spark.streaming.sinks import (
    bulk_index_foreach_batch,
    kv_hset_foreach_batch,
)


def _make_client_factory(out_dir: str):
    """Builds a picklable client factory. The class is defined inside the
    function so cloudpickle ships it by value to executors (the test
    module itself is not importable from Spark workers)."""

    class FileKVClient:
        """hset_many/bulk_index recorder; one output file per client id."""

        def __init__(self):
            self.path = os.path.join(
                out_dir, f"client-{uuid.uuid4().hex}.jsonl"
            )
            self.calls = 0

        def hset_many(self, hash_name, pairs):
            self.calls += 1
            with open(self.path, "a") as f:
                for k, v in pairs:
                    f.write(json.dumps({"h": hash_name, "k": k, "v": v,
                                        "call": self.calls}) + "\n")

        def bulk_index(self, index, docs):
            self.calls += 1
            with open(self.path, "a") as f:
                for doc_id, doc in docs:
                    f.write(json.dumps({"i": index, "id": doc_id, "doc": doc,
                                        "call": self.calls}) + "\n")

        def close(self):
            with open(self.path, "a") as f:
                f.write(json.dumps({"closed": True}) + "\n")

    return FileKVClient


def _read_all(out_dir):
    recs = []
    for fn in os.listdir(out_dir):
        with open(os.path.join(out_dir, fn)) as f:
            recs.extend(json.loads(line) for line in f)
    return recs


def _assert_batched_and_closed(out_dir, size):
    """Every client call carried at most ``size`` entries, and every
    client was closed exactly once, after its last call."""
    for fn in os.listdir(out_dir):
        with open(os.path.join(out_dir, fn)) as f:
            recs = [json.loads(line) for line in f]
        assert [i for i, r in enumerate(recs) if r.get("closed")] \
            == [len(recs) - 1], fn
        per_call = Counter(r["call"] for r in recs[:-1])
        assert all(n <= size for n in per_call.values()), per_call


def test_kv_hset_sink_delivers_all_and_pipelines(spark, tmp_path):
    out_dir = str(tmp_path / "redis")
    os.makedirs(out_dir)
    df = spark.createDataFrame(
        [(f"k{i}", f"v{i}") for i in range(25)], "k string, v string"
    ).repartition(2)
    write = kv_hset_foreach_batch(
        _make_client_factory(out_dir), "FLINK_REDIS_TEST", "k", "v",
        pipeline_size=10,
    )
    write(df, batch_id=0)
    recs = [r for r in _read_all(out_dir) if "k" in r]
    assert {r["k"] for r in recs} == {f"k{i}" for i in range(25)}
    assert all(r["h"] == "FLINK_REDIS_TEST" for r in recs)
    closes = [r for r in _read_all(out_dir) if r.get("closed")]
    assert len(closes) >= 1  # client closed per partition
    _assert_batched_and_closed(out_dir, 10)


def test_bulk_index_sink_documents(spark, tmp_path):
    out_dir = str(tmp_path / "es")
    os.makedirs(out_dir)
    df = spark.createDataFrame(
        [(i, f"user{i}", "pv") for i in range(7)],
        "id long, name string, behavior string",
    )
    write = bulk_index_foreach_batch(
        _make_client_factory(out_dir), "user-behavior", "id",
        ["name", "behavior"], bulk_actions=3,
    )
    write(df, batch_id=0)
    recs = [r for r in _read_all(out_dir) if "id" in r]
    assert {r["id"] for r in recs} == set(range(7))
    assert all(r["doc"]["behavior"] == "pv" for r in recs)
    _assert_batched_and_closed(out_dir, 3)
    # idempotent replay: same batch again -> same doc ids (upsert by id)
    write(df, batch_id=0)
    recs2 = [r for r in _read_all(out_dir) if "id" in r]
    assert {r["id"] for r in recs2} == set(range(7))
    _assert_batched_and_closed(out_dir, 3)


def test_transactional_foreach_batch_skips_replayed_epochs(spark, tmp_path):
    from flink_examples_spark.streaming.sinks import transactional_foreach_batch

    calls = []
    write = transactional_foreach_batch(
        lambda df, bid: calls.append((bid, df.count())),
        str(tmp_path / "commits"),
    )
    df = spark.createDataFrame([(1,), (2,)], "id long")
    write(df, 0)
    write(df, 0)   # replay of the same epoch -> skipped
    write(df, 1)
    assert calls == [(0, 2), (1, 2)]


def test_parquet_upsert_foreach_batch_merges_and_cleans_tmp(spark, tmp_path):
    """K6 upsert twin: last-write-wins per key, replay-idempotent, and
    the intermediate tmp directory is removed after a successful batch
    (ADVICE r1 sinks.py:125 leak)."""
    from flink_examples_spark.streaming.sinks import parquet_upsert_foreach_batch

    target = str(tmp_path / "tbl")
    write = parquet_upsert_foreach_batch(target, ["k"])
    write(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"), 0)
    write(spark.createDataFrame([(2, "b2"), (3, "c")], "k long, v string"), 1)
    got = {(r.k, r.v) for r in spark.read.parquet(target).collect()}
    assert got == {(1, "a"), (2, "b2"), (3, "c")}
    # replay of the same epoch re-merges the same rows -> unchanged
    write(spark.createDataFrame([(2, "b2"), (3, "c")], "k long, v string"), 1)
    got2 = {(r.k, r.v) for r in spark.read.parquet(target).collect()}
    assert got2 == got
    assert [p for p in os.listdir(tmp_path) if ".tmp-" in p] == []


# ---------------------------------------------------------------------------
# Every staged-partial face: missing root, compaction and replay
# ---------------------------------------------------------------------------


def _fp_index_reader(fp_col):
    """The paragraph/span index as the ingest face probes it (distinct
    fingerprints); the faces have no public reader."""
    from flink_examples_spark.streaming.sinks import _read_staged

    return lambda spark, root: _read_staged(
        spark, root, lambda df: df.select(fp_col).distinct(),
        f"{fp_col} string",
    )


def _staged_faces():
    """name -> (ingest(root, tmp) -> apply, batch schema, rows(i),
    read(spark, root), compact(spark, root) or None, spares newest,
    documented columns)."""
    import datetime as dt

    from flink_examples_spark.streaming import sinks as S

    def vecs(i):
        return [(10 * i + j, [float(j), float(3 - j)]) for j in range(4)]

    return {
        "countmin": (
            lambda root, tmp: S.countmin_ingest_foreach_batch(root, "k"),
            "k long", lambda i: [(j % (3 + i),) for j in range(20)],
            S.read_countmin_sketch, S.compact_countmin_sketch, True,
            ["j", "bucket", "cnt"],
        ),
        "hll": (
            lambda root, tmp: S.hll_ingest_foreach_batch(
                root, "k", ["event_type"]),
            "k long, event_type string",
            lambda i: [(j % (5 + i), "ab"[j % 2]) for j in range(30)],
            lambda spark, root: S.read_hll_registers(
                spark, root, ["event_type"]),
            lambda spark, root: S.compact_hll_registers(
                spark, root, ["event_type"]),
            False, ["event_type", "bucket", "reg"],
        ),
        "bitmap": (
            lambda root, tmp: S.bitmap_ingest_foreach_batch(
                root, "k", ["day"]),
            "k long, day date",
            lambda i: [(j * (i + 1) % 150, dt.date(2024, 1, 1 + j % 2))
                       for j in range(30)],
            lambda spark, root: S.read_presence_bitmaps(
                spark, root, ["day"]),
            lambda spark, root: S.compact_presence_bitmaps(
                spark, root, ["day"]),
            False, ["day", "word_idx", "word"],
        ),
        "token_counts": (
            lambda root, tmp: S.token_counts_ingest_foreach_batch(root),
            "source string, text string",
            lambda i: [("s0", "alpha beta gamma"), (f"s{i}", "beta delta")],
            S.read_token_counts, S.compact_token_counts, True,
            ["source", "token", "c_st"],
        ),
        "url_partials": (
            lambda root, tmp: S.url_partials_ingest_foreach_batch(root),
            "doc_id long, source string, n_chars long",
            lambda i: [(10 * i + j, f"s{j % 2}", 100 + j) for j in range(5)],
            S.read_url_partials, S.compact_url_partials, True,
            ["url_norm", "n_docs_u", "chars_u", "min_doc_id"],
        ),
        "host_line_partials": (
            lambda root, tmp: S.host_line_partials_ingest_foreach_batch(
                root),
            "doc_id long, host string, text string",
            lambda i: [(10 * i + j, f"h{j % 2}", f"nav. menu. line {j}")
                       for j in range(4)],
            S.read_host_line_partials, S.compact_host_line_partials, True,
            ["host", "lfp", "n_occ", "line_chars"],
        ),
        "embedding": (
            lambda root, tmp: S.embedding_index_ingest_foreach_batch(root),
            "vec_id long, embedding array<double>", vecs,
            S.read_embedding_index, S.compact_embedding_index, True,
            ["vec_id", "embedding"],
        ),
        "ivf": (
            lambda root, tmp: S.ivf_index_ingest_foreach_batch(root),
            "vec_id long, embedding array<double>", vecs,
            S.read_ivf_index, S.compact_ivf_index, True,
            ["vec_id", "cell", "embedding"],
        ),
        "paragraph_fp": (
            lambda root, tmp: S.paragraph_dedup_ingest_foreach_batch(
                root, str(tmp / "out"), "doc_id", "text"),
            "doc_id long, text string",
            lambda i: [(10 * i + j, f"boiler\n\npara {j}\n\nbatch {i}")
                       for j in range(3)],
            _fp_index_reader("pfp"), S.compact_paragraph_index, True,
            ["pfp"],
        ),
        "span_fp": (
            lambda root, tmp: S.span_dedup_ingest_foreach_batch(
                root, str(tmp / "out"), "doc_id", "text"),
            "doc_id long, text string",
            lambda i: [(10 * i + j, f"a. b. c. d {j}. e {i}")
                       for j in range(3)],
            _fp_index_reader("sfp"),
            lambda spark, root: S.compact_paragraph_index(
                spark, root, fp_col="sfp"),
            True, ["sfp"],
        ),
        "column_profile": (
            lambda root, tmp: S.column_profile_ingest_foreach_batch(
                root, ["k"], 16),
            "k long", lambda i: [(j + i,) for j in range(10)],
            lambda spark, root: S.read_column_profile(spark, root, 16),
            None, None,
            ["col", "n_rows", "n_nulls", "n_kept", "distinct_est"],
        ),
        "transition_edges": (
            lambda root, tmp: S.transition_edges_ingest_foreach_batch(
                root, "u", ["t"], "n"),
            "u string, t long, n long",
            lambda i: [(f"u{j % 3}", 10 * i + j, j % 4) for j in range(9)],
            S.read_transition_edges, None, None, ["src", "dst", "w"],
        ),
    }


@pytest.mark.parametrize("face", sorted(_staged_faces()))
def test_staged_face_empty_root_compaction_and_replay(spark, tmp_path, face):
    """Each staged face: a missing root reads as empty with the face's
    documented columns; three batches ingested, compacted (folding the
    subdirs its fold's algebra allows) and the newest batch replayed
    leave the fold exactly as it was before compaction."""
    from flink_examples_spark.streaming.sinks import stage_ivf_centroids

    ingest, schema, rows, read, compact, spares, cols = _staged_faces()[face]

    empty = read(spark, str(tmp_path / "never_written"))
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == cols

    root = str(tmp_path / "root")
    if face == "ivf":
        stage_ivf_centroids(spark, root, [[1.0, 0.0], [0.0, 1.0]])
    apply = ingest(root, tmp_path)
    batches = [spark.createDataFrame(rows(i), schema) for i in range(3)]
    for i, df in enumerate(batches):
        apply(df, i)

    def fold():
        return sorted((tuple(r) for r in read(spark, root).collect()),
                      key=repr)

    before = fold()
    assert before
    if compact is not None:
        assert compact(spark, root) > 0
        subs = sorted(n for n in os.listdir(root) if n.startswith("batch="))
        assert subs == (["batch=2", "batch=compacted"] if spares
                        else ["batch=compacted"])
        assert fold() == before
    apply(batches[2], 2)
    assert fold() == before
