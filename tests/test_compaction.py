"""Small-file compaction (sources.readers.compact_partitioned_table).

The invariants a maintenance rewrite must hold: content identical
(hash), partition directory scheme preserved (pruning still works),
file count collapsed to the minimum the row bound allows, and no file
over the bound.
"""

import os
from collections import Counter

import pytest
from pyspark.sql import functions as F

from flink_examples_spark.catalog import load_table
from flink_examples_spark.plans.inspect import formatted_plan
from flink_examples_spark.sources.readers import (
    compact_partitioned_table,
    literal_partitions,
)


def _files_by_partition(root):
    out = Counter()
    for dirpath, _, files in os.walk(root):
        part = os.path.relpath(dirpath, root)
        for f in files:
            if f.endswith(".parquet"):
                out[part] += 1
    return out


def test_compaction_preserves_content_and_collapses_files(spark, sf_dir, tmp_path):
    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", "source", "n_chars"
    )
    frag = str(tmp_path / "frag")
    # fragment: many tiny files per source partition (the post-ingest
    # pathology compaction exists to repair)
    (
        docs.repartition(40)
        .write.mode("overwrite")
        .partitionBy("source")
        .parquet(frag)
    )
    before = _files_by_partition(frag)
    assert max(before.values()) > 5, "fixture failed to fragment"

    out_path = str(tmp_path / "compact")
    compacted = compact_partitioned_table(
        spark, frag, out_path, ["source"], max_records_per_file=1000
    )

    # content identical: same rows, same values (order-free compare)
    a = sorted(map(tuple, docs.collect()))
    b = sorted(
        map(tuple, compacted.select("doc_id", "source", "n_chars").collect())
    )
    assert a == b

    # layout: same partition dirs, minimal files, bound respected
    after = _files_by_partition(out_path)
    assert set(after) == set(before)
    rows_per_part = {
        r["source"]: r["n"]
        for r in docs.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    for part, n_files in after.items():
        src = part.split("=", 1)[1]
        need = -(-rows_per_part[src] // 1000)  # ceil
        assert n_files == need, (part, n_files, need)

    # pruning: a source predicate on the compacted table still prunes
    # at the partition level
    pruned = compacted.filter(F.col("source") == "src_0")
    assert "PartitionFilters: [" in formatted_plan(pruned)


def test_compaction_bound_splits_oversized_partition(spark, tmp_path):
    df = spark.range(2500).select(
        F.col("id").alias("doc_id"), F.lit("s").alias("source")
    )
    frag = str(tmp_path / "frag")
    df.repartition(10).write.mode("overwrite").partitionBy("source").parquet(frag)
    out = compact_partitioned_table(
        spark, frag, str(tmp_path / "out"), ["source"],
        max_records_per_file=1000,
    )
    files = _files_by_partition(str(tmp_path / "out"))
    assert files["source=s"] == 3  # ceil(2500/1000)
    assert out.count() == 2500


def test_sorted_write_produces_prunable_row_group_statistics(spark, tmp_path):
    """write_partitioned_table's sort_cols claim — 'min/max row-group
    statistics prune within the partition' — verified at the parquet
    footer level: with the sort, row-group [min,max] intervals on the
    sort column tile the domain (sum of widths ~ domain width); without
    it, every row group spans nearly the whole domain and nothing can
    prune."""
    import glob

    import pyarrow.parquet as pq

    from flink_examples_spark.sources.readers import write_partitioned_table

    n = 200_000
    df = spark.range(n).select(
        ((F.col("id") * 48271) % n).alias("v"),  # shuffled domain [0, n)
        F.lit("a").alias("p"),
    )
    small_groups = {"parquet.block.size": str(64 * 1024)}

    def interval_sum(root):
        widths, groups = 0, 0
        for f in glob.glob(os.path.join(root, "**", "*.parquet"),
                           recursive=True):
            md = pq.ParquetFile(f).metadata
            for i in range(md.num_row_groups):
                st = md.row_group(i).column(0).statistics
                widths += st.max - st.min
                groups += 1
        return widths, groups

    write_partitioned_table(
        df, str(tmp_path / "sorted"), ["p"], sort_cols=["v"],
        options=small_groups,
    )
    write_partitioned_table(
        df, str(tmp_path / "unsorted"), ["p"], options=small_groups
    )

    w_sorted, g_sorted = interval_sum(str(tmp_path / "sorted"))
    w_unsorted, g_unsorted = interval_sum(str(tmp_path / "unsorted"))
    assert g_sorted > 3 and g_unsorted > 3, "need multiple row groups"
    assert w_sorted <= 1.2 * n          # intervals tile the domain
    assert w_unsorted >= 3.0 * n        # intervals all span the domain


def test_zorder_key_matches_python_interleave(spark):
    """Bit-level correctness of the codegen Morton key against a plain
    Python reference, 2 and 3 columns, including domain edges."""
    import random

    from flink_examples_spark.sources.readers import zorder_key

    def ref(vals, bits):
        out = 0
        for k in range(bits):
            for j, v in enumerate(vals):
                out += ((v >> k) & 1) << (k * len(vals) + j)
        return out

    rng = random.Random(7)
    bits = 10
    rows2 = [(rng.randrange(1 << bits), rng.randrange(1 << bits))
             for _ in range(50)] + [(0, 0), ((1 << bits) - 1, (1 << bits) - 1)]
    df2 = spark.createDataFrame(rows2, "x long, y long").withColumn(
        "z", zorder_key(["x", "y"], bits=bits)
    )
    for r in df2.collect():
        assert r["z"] == ref((r["x"], r["y"]), bits)

    rows3 = [(rng.randrange(64), rng.randrange(64), rng.randrange(64))
             for _ in range(30)]
    df3 = spark.createDataFrame(rows3, "x long, y long, w long").withColumn(
        "z", zorder_key(["x", "y", "w"], bits=6)
    )
    for r in df3.collect():
        assert r["z"] == ref((r["x"], r["y"], r["w"]), 6)


def test_zorder_sort_bounds_row_groups_in_both_dimensions(spark, tmp_path):
    """The point of z-order: sorted by the Morton key, each row group
    covers a compact rectangle, so min/max intervals shrink on BOTH
    dimensions — a single-column sort only bounds its own column while
    the other dimension's intervals span the whole domain."""
    import glob

    import pyarrow.parquet as pq

    from flink_examples_spark.sources.readers import (
        write_partitioned_table,
        zorder_key,
    )

    side = 512  # 512x512 grid, both dims uniform
    grid = (
        spark.range(side * side)
        .select(
            (F.col("id") % side).alias("x"),
            (F.col("id") / side).cast("long").alias("y"),
            F.lit("a").alias("p"),
        )
        .withColumn("z", zorder_key(["x", "y"], bits=9))
    )
    opts = {"parquet.block.size": str(64 * 1024)}

    def interval_sums(root, col_idx):
        widths, groups = 0, 0
        for f in glob.glob(os.path.join(root, "**", "*.parquet"),
                           recursive=True):
            md = pq.ParquetFile(f).metadata
            for i in range(md.num_row_groups):
                st = md.row_group(i).column(col_idx).statistics
                widths += st.max - st.min
                groups += 1
        return widths, groups

    write_partitioned_table(grid, str(tmp_path / "zsort"), ["p"],
                            sort_cols=["z"], options=opts)
    write_partitioned_table(grid, str(tmp_path / "xsort"), ["p"],
                            sort_cols=["x"], options=opts)

    # column order in the files: x=0, y=1, z=2
    zy, gz = interval_sums(str(tmp_path / "zsort"), 1)
    xy, gx = interval_sums(str(tmp_path / "xsort"), 1)
    assert gz > 3 and gx > 3
    # x-sorted: y spans the domain in every group; z-sorted: rectangles
    assert xy >= 0.9 * side * gx
    assert zy <= 0.6 * xy
    # and z-sort still bounds x far below the x-interval of a y-major
    # layout (each rectangle is ~sqrt(rows/group) wide)
    zx, _ = interval_sums(str(tmp_path / "zsort"), 0)
    assert zx <= 0.6 * side * gz


def test_compaction_preserves_string_partition_values(spark, tmp_path):
    """Numeric-looking STRING partition values (shard=01) must survive
    compaction byte-identical — partition type inference would re-read
    them as ints and rename the directories (shard=01 -> shard=1),
    destroying leading zeros and retyping the schema."""
    df = spark.createDataFrame(
        [(i, f"{i % 3:02d}") for i in range(30)], "id long, shard string"
    )
    frag = str(tmp_path / "frag")
    df.repartition(5).write.mode("overwrite").partitionBy("shard").parquet(frag)
    out = compact_partitioned_table(
        spark, frag, str(tmp_path / "out"), ["shard"],
        max_records_per_file=100,
    )
    dirs = {d for d in os.listdir(str(tmp_path / "out"))
            if d.startswith("shard=")}
    assert dirs == {"shard=00", "shard=01", "shard=02"}
    assert out.count() == 30


def test_literal_partitions_reads_strings_and_restores_after_raise(
    spark, tmp_path
):
    """Inside the block a shard=01 directory reads as the string '01';
    after it the session's own setting is back, also when the body
    raised."""
    key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    path = str(tmp_path / "t")
    spark.createDataFrame([(1, "01")], "id long, shard string") \
        .write.partitionBy("shard").parquet(path)
    before = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        with literal_partitions(spark):
            assert spark.conf.get(key) == "false"
            assert [r.shard for r in spark.read.parquet(path).collect()] \
                == ["01"]
        assert spark.conf.get(key) == "true"
        with pytest.raises(RuntimeError), literal_partitions(spark):
            raise RuntimeError("body failed")
        assert spark.conf.get(key) == "true"
    finally:
        spark.conf.set(key, before)


def test_merge_apply_partitioned_rewrites_only_affected_partitions(
    spark, tmp_path
):
    """Partition-scoped MERGE: untouched partition directories keep
    byte-identical files (same names, sizes, mtimes — never listed or
    rewritten), affected partitions are replaced, an all-removed
    partition's directory disappears, and the final table equals the
    expected merged corpus."""
    import os

    from flink_examples_spark.operators.diff import (
        merge_apply_partitioned,
        snapshot_diff,
    )

    path = str(tmp_path / "corpus")
    old = spark.createDataFrame(
        [(i, f"doc {i}", f"s{i % 4}") for i in range(40)],
        "doc_id long, text string, source string",
    )
    old.write.partitionBy("source").parquet(path)

    # delta: s1 gets one edit + one add; s2 loses ALL its docs; s0/s3
    # untouched.
    new = spark.createDataFrame(
        [(1, "doc 1 EDITED", "s1"), (101, "brand new", "s1")]
        + [(i, f"doc {i}", f"s{i % 4}") for i in range(40)
           if i % 4 in (0, 1, 3) and i != 1],
        "doc_id long, text string, source string",
    )
    diff = snapshot_diff(old, new, "doc_id", "text")
    part_of = (
        old.select("doc_id", "source")
        .unionByName(new.select("doc_id", "source")).distinct()
    )
    delta = diff.join(part_of, "doc_id")

    def listing(sub):
        d = os.path.join(path, f"source={sub}")
        if not os.path.isdir(d):
            return None
        return sorted(
            (f, os.path.getsize(os.path.join(d, f)),
             os.path.getmtime(os.path.join(d, f)))
            for f in os.listdir(d) if f.endswith(".parquet")
        )

    before = {s: listing(s) for s in ("s0", "s1", "s2", "s3")}
    affected = merge_apply_partitioned(
        spark, path, new, delta, "doc_id", "source"
    )
    after = {s: listing(s) for s in ("s0", "s1", "s2", "s3")}

    assert sorted(affected) == ["s1", "s2"]
    assert after["s0"] == before["s0"] and after["s3"] == before["s3"]
    assert after["s1"] != before["s1"]
    assert after["s2"] is None                    # all-removed: dir gone
    got = {(r.doc_id, r.text, r.source)
           for r in spark.read.parquet(path).collect()}
    assert got == {(r.doc_id, r.text, r.source) for r in new.collect()}


def test_merge_apply_partitioned_rejects_null_and_unescapes_dirs(
    spark, tmp_path
):
    """NULL partition values fail loudly (isin would silently match
    nothing); an all-removed partition whose value needs hive escaping
    ('a:b' -> 'a%3Ab') is still found and dropped; a table whose every
    partition was removed reads back as empty on the next merge call
    instead of failing the replay."""
    import os

    import pytest

    from flink_examples_spark.operators.diff import merge_apply_partitioned

    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, "x", "a:b"), (2, "y", "ok")],
        "doc_id long, text string, source string",
    ).write.partitionBy("source").parquet(path)
    empty_new = spark.createDataFrame(
        [], "doc_id long, text string, source string"
    )

    with pytest.raises(ValueError, match="NULL"):
        merge_apply_partitioned(
            spark, path,
            empty_new,
            spark.createDataFrame([(1, None, "removed")],
                                  "doc_id long, source string, verdict string"),
            "doc_id", "source",
        )

    # remove ALL docs in the escaped partition, then all docs anywhere
    merge_apply_partitioned(
        spark, path, empty_new,
        spark.createDataFrame([(1, "a:b", "removed")],
                              "doc_id long, source string, verdict string"),
        "doc_id", "source",
    )
    assert not any("a" in d for d in os.listdir(path) if "=" in d)
    merge_apply_partitioned(
        spark, path, empty_new,
        spark.createDataFrame([(2, "ok", "removed")],
                              "doc_id long, source string, verdict string"),
        "doc_id", "source",
    )
    # table now has zero partitions; a replayed merge must not crash
    # and an upsert must rebuild the table
    affected = merge_apply_partitioned(
        spark, path,
        spark.createDataFrame([(3, "z", "ok")],
                              "doc_id long, text string, source string"),
        spark.createDataFrame([(3, "ok", "changed")],
                              "doc_id long, source string, verdict string"),
        "doc_id", "source",
    )
    assert affected == ["ok"]
    assert [(r.doc_id, r.text, r.source)
            for r in spark.read.parquet(path).collect()] == [(3, "z", "ok")]


def test_merge_apply_partitioned_rejects_nonstring_partition_col(
    spark, tmp_path
):
    """ADVICE r3: an int-typed partition column used to proceed
    silently and fork directories (stored shard=01 vs merged shard=1).
    The documented STRING contract is now enforced loudly on BOTH
    inputs before anything is merged."""
    import pytest

    from flink_examples_spark.operators.diff import merge_apply_partitioned

    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, "one", "01")], "doc_id long, text string, shard string"
    ).write.partitionBy("shard").parquet(path)

    new_int = spark.createDataFrame(
        [(1, "one EDITED", 1)], "doc_id long, text string, shard int"
    )
    delta_str = spark.createDataFrame(
        [(1, "01", "changed")], "doc_id long, shard string, verdict string"
    )
    with pytest.raises(TypeError, match="must be string"):
        merge_apply_partitioned(
            spark, path, new_int, delta_str, "doc_id", "shard"
        )

    new_str = new_int.withColumn("shard", F.lit("01"))
    delta_int = delta_str.withColumn("shard", F.lit(1))
    with pytest.raises(TypeError, match="must be string"):
        merge_apply_partitioned(
            spark, path, new_str, delta_int, "doc_id", "shard"
        )

    # nothing merged, nothing forked: the table is untouched
    import os as _os
    assert sorted(
        n for n in _os.listdir(path) if n.startswith("shard=")
    ) == ["shard=01"]
    assert spark.read.parquet(path).collect()[0].text == "one"


def test_long_ingest_interleaved_compaction_cycles_bound_subdirs(
    spark, tmp_path
):
    """VERDICT r5 #7: a single long ingest run driving BOTH staged
    stores — the paragraph fingerprint index and the CDC tombstone log
    — through >=3 automatic compaction cycles (compact_every_n_batches
    =2 over 9 batches → compactions at batches 2,4,6,8), with reads
    interleaved between every batch. Asserts (a) the batch=* listing
    stays bounded throughout, (b) dedup output is byte-identical to a
    never-compacted twin, (c) the tombstone guard still blocks stale
    resurrections after repeated folds."""
    import os

    from flink_examples_spark.streaming.sinks import (
        cdc_merge_foreach_batch,
        paragraph_dedup_ingest_foreach_batch,
    )

    # --- paragraph side: two runs, compacted vs never-compacted twin
    idx_c = str(tmp_path / "idx_c")
    out_c = str(tmp_path / "out_c")
    idx_p = str(tmp_path / "idx_p")
    out_p = str(tmp_path / "out_p")
    apply_c = paragraph_dedup_ingest_foreach_batch(
        idx_c, out_c, "doc_id", "text", compact_every_n_batches=2)
    apply_p = paragraph_dedup_ingest_foreach_batch(
        idx_p, out_p, "doc_id", "text")

    # --- CDC side: rising-seq upsert/delete churn on a tiny table
    table = str(tmp_path / "corpus")
    spark.createDataFrame(
        [(i, f"doc {i}", f"s{i % 2}", 0) for i in range(4)],
        "doc_id long, text string, source string, seq long",
    ).write.partitionBy("source").parquet(table)
    cdc = cdc_merge_foreach_batch(
        table, "doc_id", "source", "seq",
        guard_seq=True, compact_every_n_batches=2)
    ev = "doc_id long, text string, source string, seq long, op string"
    tbl = "doc_id long, text string, seq long, source string"

    def subdirs(path):
        if not os.path.isdir(path):
            return []
        return [n for n in os.listdir(path)
                if not n.startswith((".", "_"))]

    def tombstone_batch_dirs():
        root = os.path.join(table, "_tombstones")
        out = []
        for src in subdirs(root):
            out += [f"{src}/{b}" for b in
                    subdirs(os.path.join(root, src))]
        return out

    n_batches = 9
    for b in range(n_batches):
        # paragraph batch: para A recurs every batch, para b{b} is new,
        # para C recurs every 3rd — steady cross-batch dedup pressure
        rows = [
            (b * 10 + j,
             f"shared para A\n\nfresh para {b}-{j}"
             + ("\n\nshared para C" if b % 3 == 0 else ""))
            for j in range(3)
        ]
        bdf = spark.createDataFrame(rows, "doc_id long, text string")
        apply_c(bdf, b)
        apply_p(bdf, b)

        # CDC batch: delete one doc (rising seq), try a stale
        # resurrection of the previous batch's delete, upsert another
        events = [
            (b % 4, None, f"s{(b % 4) % 2}", 100 + b, "delete"),
            ((b - 1) % 4, "STALE", f"s{((b - 1) % 4) % 2}", 50,
             "upsert"),
            (10 + b, f"new {b}", "s0", 100 + b, "upsert"),
        ]
        cdc(spark.createDataFrame(events, ev), b)

        # interleaved reads: both stores must be consistent mid-run
        got = {r.doc_id: r.text for r in spark.read.parquet(
            os.path.join(out_c, f"batch={b}")).collect()}
        want = {r.doc_id: r.text for r in spark.read.parquet(
            os.path.join(out_p, f"batch={b}")).collect()}
        assert got == want, f"batch {b} diverged under compaction"
        live = {r.doc_id for r in
                spark.read.schema(tbl).parquet(table).collect()}
        assert (b - 1) % 4 not in live or b == 0  # stale blocked

        # bounded listings: compacted + spared newest + up to one full
        # inter-compaction cadence of fresh batches (bound = 2 +
        # cadence, independent of total batches ingested)
        assert len(subdirs(idx_c)) <= 4, subdirs(idx_c)
        # per-source tombstones: same 2 + cadence bound
        per_src = {}
        for d in tombstone_batch_dirs():
            per_src.setdefault(d.split("/")[0], []).append(d)
        assert all(len(v) <= 4 for v in per_src.values()), per_src

    # twin accumulated a subdir per batch; compacted run stayed bounded
    assert len(subdirs(idx_p)) == n_batches
    assert len(subdirs(idx_c)) <= 3
    # index CONTENT identical after all the folds
    fps_c = {r.pfp for r in spark.read.parquet(idx_c).collect()}
    fps_p = {r.pfp for r in spark.read.parquet(idx_p).collect()}
    assert fps_c == fps_p
