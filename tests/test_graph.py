"""Integer damped-walk mass (operators/graph.py) goldens + invariants."""

from __future__ import annotations

import pytest

from flink_examples_spark.operators.graph import transition_edges, walk_mass


def _masses(df):
    return {r.node: r.mass for r in df.collect()}


def test_two_cycle_is_stationary(spark):
    edges = spark.createDataFrame(
        [(1, 2, 1), (2, 1, 1)], "src long, dst long, w long"
    )
    assert _masses(walk_mass(edges, iterations=3)) == {
        1: 1_000_000, 2: 1_000_000
    }


def test_sink_accumulates_hand_golden(spark):
    # 1 -> 2 only; two iterations, damp 85/100:
    #   it1: 1 sends 850_000, keeps 150_000; 2 keeps 1_000_000 + recv
    #   it2: 1 sends floor(150_000*0.85)=127_500, keeps 22_500
    edges = spark.createDataFrame([(1, 2, 1)], "src long, dst long, w long")
    assert _masses(walk_mass(edges, iterations=2)) == {
        1: 22_500, 2: 1_977_500
    }


def test_weighted_fanout_floor_division(spark):
    # 1 -> 2 (w=3), 1 -> 3 (w=1): sends are weight-proportional with
    # floor division; sinks keep their initial mass.
    edges = spark.createDataFrame(
        [(1, 2, 3), (1, 3, 1)], "src long, dst long, w long"
    )
    out = _masses(walk_mass(edges, iterations=1))
    assert out == {1: 150_000, 2: 1_637_500, 3: 1_212_500}


def test_mass_conserved_on_random_graph(spark):
    import itertools

    pairs = [(a, b, (a * 7 + b) % 5 + 1)
             for a, b in itertools.product(range(8), range(8)) if a != b]
    edges = spark.createDataFrame(pairs, "src long, dst long, w long")
    out = _masses(walk_mass(edges, iterations=4))
    assert sum(out.values()) == 8 * 1_000_000


def test_deep_iteration_wall_time_is_linear(spark):
    """12 iterations must not blow up plan analysis: each round reads
    the mass vector once, so the plan — and wall time — grows ~linearly
    with iteration count instead of exponentially (a round that reads
    mass twice or more doubles the plan per round: iterations beyond ~5
    were dominated by plan-compile time). Bound is generous —
    exponential growth fails it by orders of magnitude."""
    import time

    pairs = [(a, (a * 3 + 1) % 6, a % 3 + 1) for a in range(6)]
    edges = spark.createDataFrame(pairs, "src long, dst long, w long")

    t0 = time.monotonic()
    out3 = _masses(walk_mass(edges, iterations=3))
    t3 = time.monotonic() - t0
    t0 = time.monotonic()
    out12 = _masses(walk_mass(edges, iterations=12))
    t12 = time.monotonic() - t0

    assert sum(out3.values()) == sum(out12.values())
    # linear would be 4x; allow 10x slack for scheduler noise. The
    # un-truncated plan took minutes (2^12 self-references) here.
    assert t12 < max(10 * t3, t3 + 30.0)


def test_walk_mass_query_builds_lazily(spark, sf_dir):
    """Building the walk-mass query submits no job and pins nothing:
    the rounds are one lazy plan, not a loop of eager pins. Running it
    takes at most 7 jobs: two for the edge build, one node exchange for
    the edge table, one per round and the result; no broadcast."""
    from flink_examples_spark.queries import registry

    sc = spark.sparkContext
    pinned = set(sc._jsc.getPersistentRDDs().keys())
    before = sc._jsc.sc().dagScheduler().nextJobId()
    df = registry()["event_graph_walk_mass"].spark_fn(spark, sf_dir)
    built = sc._jsc.sc().dagScheduler().nextJobId()
    assert built == before
    assert set(sc._jsc.getPersistentRDDs().keys()) == pinned
    df.collect()
    assert sc._jsc.sc().dagScheduler().nextJobId() - built <= 7


def test_walk_mass_plan_adds_one_join_per_round(spark):
    """Each round reads mass once, so three more rounds add exactly
    three joins, three exchanges (their groupBys) and three jobs to the
    plan that ran; a round that read mass twice would double the plan
    every round instead. Every round joins the edge table in place on
    its node exchange, so nothing is broadcast."""
    from flink_examples_spark.plans import (
        broadcast_count,
        exchange_count,
        join_count,
    )

    sc = spark.sparkContext
    pairs = [(a, (a * 3 + 1) % 6, a % 3 + 1) for a in range(6)]
    edges = spark.createDataFrame(pairs, "src long, dst long, w long")
    joins, exchanges, jobs = {}, {}, {}
    for k in (3, 6):
        df = walk_mass(edges, iterations=k)
        before = sc._jsc.sc().dagScheduler().nextJobId()
        df.collect()
        jobs[k] = sc._jsc.sc().dagScheduler().nextJobId() - before
        joins[k] = join_count(df)
        exchanges[k] = exchange_count(df)
        assert broadcast_count(df) == 0
    assert joins[6] - joins[3] == 3
    assert exchanges[6] - exchanges[3] == 3
    assert jobs[6] - jobs[3] == 3


@pytest.mark.parametrize("conf", [
    {"spark.sql.shuffle.partitions": "1"},
    {"spark.sql.shuffle.partitions": "7"},
    {"spark.sql.adaptive.coalescePartitions.enabled": "false"},
])
def test_walk_mass_masses_do_not_depend_on_partitioning(spark, conf):
    """The co-partitioned round join gives the same masses whatever the
    shuffle partition count or AQE coalescing, on a graph with pure
    sinks (4, 6) and parallel edges (1 -> 2, 3 -> 4), and never plans
    a broadcast."""
    from flink_examples_spark.plans import broadcast_count

    edges = spark.createDataFrame(
        [(1, 2, 1), (1, 2, 2), (1, 3, 1), (1, 6, 3), (2, 3, 4),
         (2, 5, 1), (3, 1, 1), (3, 4, 2), (3, 4, 1), (5, 4, 1)],
        "src long, dst long, w long",
    )
    want = _masses(walk_mass(edges, iterations=4))
    before = {k: spark.conf.get(k) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        df = walk_mass(edges, iterations=4)
        got = _masses(df)
        assert broadcast_count(df) == 0
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)
    assert got == want
    assert sum(got.values()) == 6 * 1_000_000


def test_walk_mass_parallel_edges_collapse_by_weight_sum(spark):
    """Parallel (src, dst) rows are one edge of their summed weight:
    the floored send is taken once on the sum, not per row."""
    schema = "src long, dst long, w long"
    split = spark.createDataFrame([(1, 2, 1), (1, 2, 2)], schema)
    whole = spark.createDataFrame([(1, 2, 3)], schema)
    for k in (1, 2):
        assert _masses(walk_mass(split, k)) == _masses(walk_mass(whole, k))


def test_walk_mass_rejects_negative_iterations(spark):
    edges = spark.createDataFrame([(1, 2, 1)], "src long, dst long, w long")
    with pytest.raises(ValueError, match="iterations"):
        walk_mass(edges, iterations=-1)


@pytest.mark.parametrize("bad", [
    (None, 2, 1), (1, None, 1), (1, 2, 0), (1, 2, -3), (1, 2, None),
])
def test_walk_mass_bad_edge_fails_the_job(spark, bad):
    """A null endpoint or a non-positive weight fails the job that
    runs the walk, instead of silently dropping mass; building the
    plan still submits no job."""
    sc = spark.sparkContext
    edges = spark.createDataFrame(
        [(2, 3, 1), bad], "src long, dst long, w long")
    before = sc._jsc.sc().dagScheduler().nextJobId()
    df = walk_mass(edges, iterations=2)
    assert sc._jsc.sc().dagScheduler().nextJobId() == before
    with pytest.raises(Exception, match="walk_mass: null src/dst"):
        df.collect()


def test_transition_edges_golden(spark):
    rows = [
        ("u1", 1, "a"), ("u1", 2, "b"), ("u1", 3, "a"),
        ("u2", 1, "a"), ("u2", 2, "b"),
    ]
    df = spark.createDataFrame(rows, "user string, ts long, node string")
    out = {(r.src, r.dst): r.w for r in
           transition_edges(df, "user", ["ts"], "node").collect()}
    assert out == {("a", "b"): 2, ("b", "a"): 1}


def test_streaming_edge_ingest_folds_to_whole(spark, tmp_path):
    """Batch-aligned ingest: folding per-batch edge tables == edges of
    the concatenated log (each user's events stay within one batch),
    and walk_mass over the folded graph is deterministic."""
    from flink_examples_spark.streaming.sinks import (
        read_transition_edges,
        transition_edges_ingest_foreach_batch,
    )

    rows_a = [(u, t, (u * 3 + t) % 5) for u in range(4) for t in range(6)]
    rows_b = [(u, t, (u * 7 + t) % 5) for u in range(4, 8)
              for t in range(6)]
    a = spark.createDataFrame(rows_a, "user long, ts long, node long")
    b = spark.createDataFrame(rows_b, "user long, ts long, node long")
    root = str(tmp_path / "edges")
    apply = transition_edges_ingest_foreach_batch(
        root, "user", ["ts"], "node")
    apply(a, 0)
    apply(b, 1)
    folded = {(r.src, r.dst): r.w for r in
              read_transition_edges(spark, root).collect()}
    whole = {(r.src, r.dst): r.w for r in
             transition_edges(a.unionByName(b), "user", ["ts"],
                              "node").collect()}
    assert folded == whole
    # replay overwrite: re-applying a batch must not double weights
    apply(b, 1)
    assert {(r.src, r.dst): r.w for r in
            read_transition_edges(spark, root).collect()} == whole
    # end-to-end: the iterative walk runs on the folded graph
    out = _masses(walk_mass(read_transition_edges(spark, root), 2))
    assert sum(out.values()) == len({n for e in whole for n in e}) \
        * 1_000_000
    # missing path -> empty graph
    assert read_transition_edges(spark, str(tmp_path / "no")).count() == 0


def test_streaming_edge_ingest_straddle_parity(spark, tmp_path):
    """Batch-boundary straddle (VERDICT r5 #5): with carried tails,
    folding per-batch edge tables == transition_edges over the WHOLE
    concatenated log even when every key's event stream spans several
    batches — the last-of-batch-N → first-of-batch-N+1 transition is
    an edge. Replays stay deterministic (a replayed batch reads tails
    below its own id, never its own or later)."""
    from flink_examples_spark.streaming.sinks import (
        read_transition_edges,
        transition_edges_ingest_foreach_batch,
    )

    # every user emits events in ALL THREE batches: ts 0-3 in batch 0,
    # 4-7 in batch 1, 8-11 in batch 2 → 2 straddle transitions per user
    def part(lo, hi):
        return [(u, t, (u * 3 + t) % 5) for u in range(6)
                for t in range(lo, hi)]

    batches = [part(0, 4), part(4, 8), part(8, 12)]
    dfs = [spark.createDataFrame(b, "user long, ts long, node long")
           for b in batches]
    root = str(tmp_path / "edges")
    apply = transition_edges_ingest_foreach_batch(
        root, "user", ["ts"], "node")
    for i, df in enumerate(dfs):
        apply(df, i)

    whole_df = dfs[0].unionByName(dfs[1]).unionByName(dfs[2])
    from flink_examples_spark.operators.graph import transition_edges
    whole = {(r.src, r.dst): r.w for r in
             transition_edges(whole_df, "user", ["ts"], "node").collect()}
    folded = {(r.src, r.dst): r.w for r in
              read_transition_edges(spark, root).collect()}
    assert folded == whole  # EXACT parity, straddles included
    # sanity: parity is not vacuous — the stateless variant undercounts
    assert sum(whole.values()) == 6 * 11  # 11 transitions per user

    # replay middle batch: deterministic (reads tails of batch 0 only)
    apply(dfs[1], 1)
    assert {(r.src, r.dst): r.w for r in
            read_transition_edges(spark, root).collect()} == whole

    # stateless opt-out drops exactly the straddle transitions
    root2 = str(tmp_path / "edges2")
    apply2 = transition_edges_ingest_foreach_batch(
        root2, "user", ["ts"], "node", carry_tails=False)
    for i, df in enumerate(dfs):
        apply2(df, i)
    stateless = {(r.src, r.dst): r.w for r in
                 read_transition_edges(spark, root2).collect()}
    assert sum(stateless.values()) == 6 * (11 - 2)  # 2 lost per user


def test_triangle_counts_known_graphs(spark):
    """K4: every node is in C(3,2)=3 triangles. A star hub has none.
    Duplicate, reversed, and self-loop edges are canonicalized away."""
    from flink_examples_spark.operators.graph import triangle_counts

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    noisy = (
        k4
        + [(b, a) for a, b in k4]      # reversed duplicates
        + [(2, 1), (3, 0)]             # plain duplicates
        + [(0, 0), (3, 3)]             # self-loops
        + [(10, i) for i in range(4, 9)]  # star: no triangles
    )
    edges = spark.createDataFrame(noisy, "src long, dst long")
    got = {r.node: r.n_triangles for r in triangle_counts(edges).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}


def test_triangle_counts_each_triangle_once_regardless_of_degree_skew(spark):
    """A hub node h connected to k spokes, consecutive spokes also
    connected: exactly k-1 triangles (h, i, i+1); the hub participates
    in all of them, each spoke in at most 2 — and the wedge join never
    double-counts even though the hub's degree dwarfs every spoke's."""
    from flink_examples_spark.operators.graph import triangle_counts

    k = 50
    edges = [(100, i) for i in range(k)] + [(i, i + 1) for i in range(k - 1)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.n_triangles for r in triangle_counts(df).collect()}
    assert got[100] == k - 1
    assert sum(got.values()) == 3 * (k - 1)
    assert got[0] == 1 and got[k - 1] == 1 and got[1] == 2
