"""Physical-plan discipline tests — the 100 TB contract.

Correctness tests prove operators compute the right rows; these prove
the *plans* stay scale-safe: filters reach the parquet scan, projections
prune columns, small dimensions broadcast instead of shuffling facts,
and relational pipelines stay JVM-side. A regression here (e.g. a UDF
sneaking into a filter, a dim join falling back to sort-merge) is a
100x cost bug at scale even though results stay right.
"""

from __future__ import annotations

import contextlib

import pytest
from pyspark.sql import functions as F

from flink_examples_spark.catalog import load_table
from flink_examples_spark.plans import (
    exchange_count,
    formatted_plan,
    has_broadcast_join,
    pushed_filters,
    python_eval_nodes,
    read_schema_columns,
)


@pytest.fixture
def unpinned(monkeypatch):
    """A context manager: plans built inside it skip every hand-written
    pin (``localCheckpoint`` returns its input), so their plans show the
    fused lineage a pin's ExistingRDD boundary hides."""
    from pyspark.sql.classic.dataframe import DataFrame

    @contextlib.contextmanager
    def ctx():
        with monkeypatch.context() as m:
            m.setattr(DataFrame, "localCheckpoint", lambda self, *a, **k: self)
            yield

    return ctx


def test_lazy_pin_runs_its_shuffle_stages_at_the_call(spark):
    """A lazy pin is not free under AQE: ``localCheckpoint(eager=False)``
    runs the pinned plan's shuffle stages as jobs at the call, before
    any action. A pin over a narrow plan submits none."""
    sc = spark.sparkContext

    def jobs_at_pin(df):
        before = sc._jsc.sc().dagScheduler().nextJobId()
        df.localCheckpoint(eager=False)
        return sc._jsc.sc().dagScheduler().nextJobId() - before

    base = spark.range(1000)
    assert jobs_at_pin(base.groupBy((F.col("id") % 7).alias("k")).count()) >= 1
    assert jobs_at_pin(base.filter(F.col("id") % 7 == 0)) == 0


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    """hot_items-style filter must appear in PushedFilters, not a
    post-scan Filter only (HotItems.java:66-73 'filter early' made
    automatic by Catalyst — SURVEY.md §4.1)."""
    ev = load_table(spark, "events", sf_dir).filter(
        F.col("event_type") == "view"
    )
    assert any("event_type" in f for f in pushed_filters(ev))


def test_column_pruning_reaches_scan(spark, sf_dir):
    """A 2-column projection must scan 2 columns (ReadSchema), not all 6."""
    ev = load_table(spark, "events", sf_dir).select("event_id", "user_id")
    cols = read_schema_columns(ev)
    assert {"event_id", "user_id"} <= cols
    assert "event_type" not in cols and "props" not in cols


def test_dimension_join_broadcasts(spark, sf_dir):
    """regional_revenue's nation/region dims must ride BroadcastHashJoin —
    never a shuffled sort-merge join of facts against a 25-row table."""
    import __spark_entry__ as E

    df = E.queries()["regional_revenue"](spark, sf_dir)
    assert has_broadcast_join(df)
    plan = formatted_plan(df)
    # customer⋈orders⋈lineitem may legitimately shuffle; nation/region must not
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") <= 2


def test_aggregation_is_partial_then_final(spark, sf_dir):
    """Catalyst must plan partial+final HashAggregate around one exchange
    (the reference hand-codes this as AggregateFunction pre-aggregation,
    HotItems.java:76-78)."""
    agg = (
        load_table(spark, "lineitem", sf_dir)
        .groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("sum_qty"))
    )
    assert formatted_plan(agg).count("HashAggregate") >= 2
    assert exchange_count(agg) == 1


def test_exchange_count_reads_the_same_after_execution(spark):
    """An executed AQE plan prints its final plan and the initial plan
    it replaced; only the plan that ran counts, once."""
    left = spark.range(1000).selectExpr("id % 10 AS k", "id AS v")
    right = spark.range(100).selectExpr("id % 10 AS k", "id AS w")
    df = left.join(right.hint("merge"), "k")
    assert exchange_count(df) == 2
    df.collect()
    assert "== Initial Plan ==" in formatted_plan(df)
    assert exchange_count(df) == 2


def test_relational_core_is_jvm_only_and_vectorized(spark, sf_dir):
    """The pricing-summary pipeline (scan→filter→project→agg) must stay
    JVM-side: columnar-batched scan, zero Python eval nodes. (AQE hides
    WholeStageCodegen labels in pre-execution formatted plans, so assert
    the properties codegen depends on instead.)"""
    import __spark_entry__ as E

    df = E.queries()["pricing_summary"](spark, sf_dir)
    assert "Batched: true" in formatted_plan(df)  # vectorized parquet reader
    assert python_eval_nodes(df) == []


def test_python_stage_partition_count_pinned(spark, sf_dir):
    """Python-heavy keyed stages must pre-repartition with an explicit
    count (exempt from AQE byte-wise coalescing) — operators/util.py."""
    import __spark_entry__ as E

    df = E.queries()["cep_ascending_purchase"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "REPARTITION_BY_NUM" in plan
    # r13: the NFA runs through ONE MapInPandas pass (JVM partition
    # sort + vectorized group carving, operators/util.py
    # grouped_map_in_pandas) instead of FlatMapGroupsInPandas — the
    # per-group Arrow/pandas round trip dominated at 1,500 keys
    assert python_eval_nodes(df) == ["MapInPandas"]
    # the partition sort that replaces the per-group sort shuffle
    assert "Sort" in plan


def test_interval_join_single_shuffle_per_side(spark, sf_dir):
    """The interval join must be a single equi-join with the time bounds
    as residual condition — not a cartesian/nested-loop plan."""
    import __spark_entry__ as E

    plan = formatted_plan(E.queries()["interval_join_click_purchase"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_media_pipeline_is_shuffle_free(spark, sf_dir):
    """Media transforms are narrow: encode -> features adds ZERO shuffle
    exchanges (payload bytes never leave their input partition)."""
    import __spark_entry__ as E

    df = E.queries()["media_image_features"](spark, sf_dir)
    assert exchange_count(df) == 0


def test_sampling_ops_are_narrow_jvm_filters(spark, sf_dir):
    """Deterministic sampling/splitting must stay inside the scan's
    codegen stage: zero exchanges, zero Python nodes — at 100 TB these
    run as a free rider on whatever scan the pipeline already does."""
    from flink_examples_spark.operators.sampling import (
        deterministic_sample,
        hash_split,
        stratified_sample,
    )

    docs = load_table(spark, "documents", sf_dir)
    for df in (
        hash_split(docs, "doc_id"),
        deterministic_sample(docs, "doc_id", 0.25),
        stratified_sample(docs, "source", {"src0": 0.5}, "doc_id"),
    ):
        assert exchange_count(df) == 0
        assert python_eval_nodes(df) == []


def test_skew_salted_agg_is_two_stage(spark, sf_dir):
    """The salted aggregation must plan exactly two exchanges (key+salt
    partials, then key finals) — the fan-out that spreads a hot key."""
    import __spark_entry__ as E

    df = E.queries()["skew_salted_event_stats"](spark, sf_dir)
    assert exchange_count(df) == 2
    assert python_eval_nodes(df) == []


def test_chunking_and_scrub_are_shuffle_free(spark, sf_dir):
    """doc_chunks, pii_scrub_stats, and pii_scrub_apply are pure map
    passes — any Exchange in their plans means a 100 TB corpus gets
    shuffled for a per-row transform (the apply stage's contract is
    'no extra text shuffle beyond what the census already pays', and
    the census pays none)."""
    import __spark_entry__ as E

    assert exchange_count(E.queries()["doc_chunks"](spark, sf_dir)) == 0
    assert exchange_count(E.queries()["pii_scrub_stats"](spark, sf_dir)) == 0
    apply_df = E.queries()["pii_scrub_apply"](spark, sf_dir)
    assert exchange_count(apply_df) == 0
    assert python_eval_nodes(apply_df) == []


def test_incremental_embedding_neardup_has_no_exchange(spark, sf_dir):
    """embedding_neardup_incremental's whole plan must carry ZERO
    exchanges: the corpus is probed by a mapInPandas GEMM inside its
    own scan partitions against the broadcast delta matrix — any
    Exchange means the corpus got reshuffled for a delta-sized probe
    (the operators/crawl.py incremental discipline; VERDICT r10 #2)."""
    import __spark_entry__ as E

    df = E.queries()["embedding_neardup_incremental"](spark, sf_dir)
    assert exchange_count(df) == 0
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan


def test_repetition_signals_stay_jvm_side(spark, sf_dir):
    """The repetition quality pass is all builtin expressions — a Python
    eval node appearing here would serialize the corpus through Arrow
    for arithmetic Catalyst can do in codegen."""
    import __spark_entry__ as E

    df = E.queries()["doc_repetition_quality"](spark, sf_dir)
    assert python_eval_nodes(df) == []


def test_runtime_bloom_filter_prunes_fact_side(spark, sf_dir):
    """Big-big joins (neither side broadcastable) can still row-prune
    the fact scan: Spark's runtime bloom filter builds on the selective
    (creation) side and is applied inside the fact side's scan stage —
    at 100 TB this skips shuffling fact rows whose keys can't match.
    Conf-gated; this pins the knobs that make it fire and the plan
    shape, so the capability doesn't silently regress."""
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.enabled",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "10MB")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold", "0")
        # force a non-broadcast join so the bloom path (not a broadcast
        # hash join) carries the selectivity
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

        li = load_table(spark, "lineitem", sf_dir)
        orders = load_table(spark, "orders", sf_dir).filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(orders, li.l_orderkey == orders.o_orderkey).groupBy(
            "o_orderpriority"
        ).count()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan, "bloom build side missing"
        assert "BloomFilterMightContain" in plan or "might_contain" in plan, \
            "bloom probe not applied to fact side"
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_substring_strip_no_python_no_selfjoin(spark, sf_dir):
    """The substring-strip rewrite must stay JVM-side (chunking is
    codegen) with a bounded exchange budget and, critically, NO Window
    keyed by content (VERDICT r4 'What's wrong #2'): the keep-first
    verdict is a partial+final aggregate over md5(chunk) — hot
    boilerplate chunks combine map-side instead of serializing into one
    window partition — rejoined on the fingerprint (a plain equi-join
    AQE skew-join can split). No cartesian, no Python boundary."""
    from flink_examples_spark.operators.dedup import substring_dedup_strip

    docs = load_table(spark, "documents", sf_dir)
    df = substring_dedup_strip(docs, "doc_id", "text", k=16)
    assert python_eval_nodes(df) == []
    plan = formatted_plan(df)
    assert "Window" not in plan  # no content-keyed analytic window
    assert "partial_min" in plan  # map-side combine on the verdict agg
    assert "Cartesian" not in plan and "NestedLoop" not in plan
    # exchange budget: verdict agg on cfp + rejoin + doc_id rebuild
    # (+ the fan-out rebalance on narrow local scans)
    assert exchange_count(df) <= 4


def test_classifier_scoring_joins_broadcast(spark, sf_dir):
    """The NB and DSIR model joins must be broadcasts — the corpus is
    never shuffled by the token/feature key (the weight table is
    vocab- or n_buckets-bounded)."""
    from flink_examples_spark.operators.classify import (
        dsir_hashed_importance,
        nb_token_evidence,
    )

    docs = load_table(spark, "documents", sf_dir)
    nb = nb_token_evidence(docs, "doc_id", "text")
    assert has_broadcast_join(nb)
    assert python_eval_nodes(nb) == []
    ds = dsir_hashed_importance(
        docs, "doc_id", "text", F.col("lang") == "en"
    )
    assert has_broadcast_join(ds)
    assert python_eval_nodes(ds) == []
    plan = formatted_plan(ds)
    assert "SortMergeJoin" not in plan


def test_hygiene_v2_pipeline_stays_jvm_side(spark, sf_dir, unpinned):
    """The full FineWeb-shape pipeline (gate -> classifier -> strip ->
    dedup -> pack) compiles to an all-JVM plan: no Python boundary,
    model joins broadcast. Inspected on the UN-checkpointed fused
    lineage (built ``unpinned``) — the registered queries pin shared
    stages with localCheckpoint, whose ExistingRDD boundary hides the
    upstream operators from the final plan; the registered query is
    separately asserted Python-free."""
    from flink_examples_spark.queries import _hygiene_v2_stages, registry

    from flink_examples_spark.operators.packing import sequence_pack

    with unpinned():
        _, _, _, surv = _hygiene_v2_stages(spark, sf_dir)
    fused = sequence_pack(surv, "doc_id", "kept_text", target=256,
                          partition_col="source")
    assert python_eval_nodes(fused) == []
    assert has_broadcast_join(fused)

    df = registry()["corpus_pipeline_hygiene_v2"].spark_fn(spark, sf_dir)
    assert python_eval_nodes(df) == []


def test_relational_pattern_pack_plan_shapes(spark, sf_dir):
    """The TPC-H-derived pattern pack keeps its promised plan shapes:
    Q4's EXISTS is a semi-join (no row multiplication), Q14's dim join
    broadcasts (fact side never shuffles for the join), Q22's scalar
    average broadcasts as one row, and the share window in
    nation_revenue_share runs over the aggregated result, not facts."""
    import __spark_entry__ as E

    q = E.queries()
    p4 = formatted_plan(q["late_order_priority_counts"](spark, sf_dir))
    assert "LeftSemi" in p4

    p14 = q["promo_revenue_monthly"](spark, sf_dir)
    assert has_broadcast_join(p14)
    plan14 = formatted_plan(p14)
    assert "SortMergeJoin" not in plan14 and "ShuffledHashJoin" not in plan14

    p22 = q["idle_rich_customers_by_segment"](spark, sf_dir)
    plan22 = formatted_plan(p22)
    assert "LeftAnti" in plan22
    assert "BroadcastNestedLoopJoin" in plan22 or "BroadcastExchange" in plan22

    # Q17: per-part average joined back — both sides hash by l_partkey;
    # no Python, no cartesian
    p17 = q["small_quantity_part_revenue"](spark, sf_dir)
    plan17 = formatted_plan(p17)
    assert "Cartesian" not in plan17
    assert not python_eval_nodes(p17)

    share = q["nation_revenue_share"](spark, sf_dir)
    plan_share = formatted_plan(share)
    # the window's partition exchange must hash on the post-agg
    # 'region' alias — i.e. it runs over the 25-row aggregate
    assert "Window" in plan_share
    assert plan_share.count("BroadcastHashJoin") >= 2

    # Q21 shape: EXISTS→LeftSemi, NOT EXISTS→LeftAnti (rows never
    # multiply through the self-references), supplier dim broadcasts
    p21 = formatted_plan(q["sole_late_supplier_census"](spark, sf_dir))
    assert "LeftSemi" in p21 and "LeftAnti" in p21
    assert "BroadcastHashJoin" in p21
    assert "Cartesian" not in p21

    # Q10 shape: returnflag filter reaches the scan, top-20 is a
    # TakeOrderedAndProject (no global sort materialization)
    p10 = formatted_plan(q["returned_item_revenue_topn"](spark, sf_dir))
    assert any("l_returnflag" in f for f in
               pushed_filters(q["returned_item_revenue_topn"](spark, sf_dir)))
    assert "TakeOrderedAndProject" in p10

    # banded range/overlap joins: the range predicates must ride a
    # manufactured equi-key (grid cell), never a nested-loop/cartesian
    for name in ["acctbal_band_matches", "acctbal_overlap_pairs"]:
        pband = formatted_plan(q[name](spark, sf_dir))
        assert "BroadcastNestedLoopJoin" not in pband, name
        assert "Cartesian" not in pband, name


def test_session_path_transitions_single_fact_exchange(spark, sf_dir):
    """The sessionize→lag→count cascade must cluster on the user key:
    one fact exchange for all three window passes, plus only the
    |types|²-row rollup exchange — and zero Python nodes."""
    import __spark_entry__ as E

    df = E.queries()["session_path_transitions"](spark, sf_dir)
    assert exchange_count(df) == 2
    assert not python_eval_nodes(df)


def test_fan_out_skips_wide_scans(spark, sf_dir, tmp_path):
    """_fan_out is the local-mode crutch for single-file scans; at scale
    the scan is already thousands of files and the round-robin would be
    a pointless full shuffle (VERDICT r3 'What's wrong #4'). A scan at
    least as wide as cluster parallelism must pass through
    exchange-free; a single-file scan must still fan out."""
    from flink_examples_spark.queries import _fan_out

    par = spark.sparkContext.defaultParallelism
    wide_dir = str(tmp_path / "wide")
    load_table(spark, "documents", sf_dir).repartition(
        par * 2
    ).write.parquet(wide_dir)
    wide = spark.read.parquet(wide_dir)
    assert len(wide.inputFiles()) >= par
    assert exchange_count(_fan_out(spark, wide)) == 0  # passes through

    narrow_dir = str(tmp_path / "narrow")
    load_table(spark, "documents", sf_dir).coalesce(1).write.parquet(
        narrow_dir
    )
    narrow = spark.read.parquet(narrow_dir)
    fanned = _fan_out(spark, narrow)
    assert exchange_count(fanned) == 1  # still spreads local scans
    assert fanned.rdd.getNumPartitions() == par


def test_frequency_signals_have_no_content_keyed_window(spark, sf_dir, unpinned):
    """r5 de-skew sweep beyond the dedup family: the corpus-frequency
    signals (bigram familiarity, substring overlap, TF-IDF document
    frequency) and the hygiene pipeline's exact-dup stage must compute
    their per-key counts as partial+final aggregates joined back — a
    Window partitioned by a content key (bigram/gram-hash/token/fp)
    piles every occurrence of a hot key into one reducer partition,
    which AQE cannot split. The only Window allowed is TF-IDF's top-3
    row_number, partitioned by doc_id (one document's vocabulary)."""
    import re

    import __spark_entry__ as E

    q = E.queries()
    for name in ["doc_bigram_familiarity", "doc_substring_overlap",
                 "doc_bigram_nll"]:
        plan = formatted_plan(q[name](spark, sf_dir))
        assert "windowspecdefinition" not in plan, name
        assert "partial_count" in plan, name  # map-side combine
        assert python_eval_nodes(q[name](spark, sf_dir)) == [], name

    plan = formatted_plan(q["doc_tfidf_keywords"](spark, sf_dir))
    specs = re.findall(r"windowspecdefinition\((\w+)#", plan)
    assert specs and all(col == "doc_id" for col in specs), specs

    from flink_examples_spark.queries import _hygiene_v2_stages

    with unpinned():
        *_, surv = _hygiene_v2_stages(spark, sf_dir)
    assert "windowspecdefinition" not in formatted_plan(surv)


def test_paragraph_dedup_deskewed_no_window_no_python(spark, sf_dir):
    """Paragraph dedup must stay JVM-side (split/explode in codegen)
    and must NOT hang its keep-first choice on a Window partitioned by
    the paragraph fingerprint (VERDICT r4 'What's wrong #2': a
    boilerplate paragraph repeated 10⁷× would serialize into one
    reducer). The verdict must be a partial+final aggregate (map-side
    combine visible as partial_min) rejoined on the md5 key."""
    from flink_examples_spark.operators.dedup import paragraph_dedup

    docs = load_table(spark, "documents", sf_dir)
    df = paragraph_dedup(docs, "doc_id", "text")
    assert python_eval_nodes(df) == []
    plan = formatted_plan(df)
    assert "Window" not in plan  # no content-keyed analytic window
    assert "partial_min" in plan  # map-side combine on the verdict agg
    assert exchange_count(df) <= 4


def test_round5_relational_plan_shapes(spark, sf_dir):
    """Q7/Q15/Q19 shapes: dims broadcast (facts never shuffle for a
    dim), the scalar-max join is a broadcast of a 1-row aggregate, and
    the Q19 bracket disjunction's part-side residual reaches the part
    scan as a pushed filter."""
    from flink_examples_spark.queries import registry

    r = registry()
    q7 = formatted_plan(
        r["nation_pair_trade_volume"].spark_fn(spark, sf_dir)
    )
    assert q7.count("BroadcastHashJoin") >= 4   # nation x2 + dims
    assert "SortMergeJoin" not in q7 or q7.count("SortMergeJoin") <= 2

    q15 = r["top_supplier_revenue"].spark_fn(spark, sf_dir)
    p15 = formatted_plan(q15)
    assert "BroadcastHashJoin" in p15           # 1-row max + supplier dim
    assert "Window" not in p15                  # no global-window max

    q19 = r["bracket_discount_revenue"].spark_fn(spark, sf_dir)
    p19 = formatted_plan(q19)
    # the brand/size disjunction must reach the part scan
    assert "p_brand" in p19 and "PushedFilters" in p19


def test_rollup_is_single_expand_single_exchange(spark, sf_dir):
    """ROLLUP must plan as ONE Expand + one aggregate exchange — four
    granularities for the price of one shuffle, never four scans."""
    from flink_examples_spark.queries import registry

    df = registry()["revenue_rollup_region_nation_year"].spark_fn(
        spark, sf_dir
    )
    plan = formatted_plan(df)
    assert plan.count("Expand (") == 1          # one Expand node
    assert plan.count("Scan parquet") <= 8      # tree + detail listings


def test_walk_mass_no_cartesian_no_python(spark, sf_dir):
    """3 iterations = 2 hash joins (round 1 reads the constant initial
    mass off the edge table) + combinable aggs; nothing quadratic,
    nothing Python-side."""
    from flink_examples_spark.queries import registry

    df = registry()["event_graph_walk_mass"].spark_fn(spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert not python_eval_nodes(df)


def test_ordered_scans_are_jvm_side(spark, sf_dir):
    """The DFA and delta-trigger scans are window expressions over one
    exchange by key (the DFA's groupBy reuses its partitioning); the
    Fibonacci fixed point is one aggregate() per row."""
    from flink_examples_spark.queries import registry

    reg = registry()
    for name in ("dfa_event_alerts", "delta_trigger_fires"):
        df = reg[name].spark_fn(spark, sf_dir)
        assert python_eval_nodes(df) == [], name
        assert exchange_count(df) == 1, name
    assert python_eval_nodes(reg["fib_iterate"].spark_fn(spark, sf_dir)) == []


def test_countmin_build_is_partial_aggregated(spark, sf_dir):
    """The sketch build's groupBy(j,bucket) must carry a partial
    aggregate before its exchange — that partial is what makes the
    shuffle sketch-sized instead of data-sized."""
    from flink_examples_spark.operators.sketches import countmin_table

    t = countmin_table(load_table(spark, "events", sf_dir), "user_id")
    plan = formatted_plan(t)
    assert plan.count("HashAggregate") >= 2     # partial + final
    assert "CartesianProduct" not in plan


def test_bm25_two_scans_no_token_shuffle(spark, sf_dir):
    """BM25: corpus stats via broadcast of a 1-row aggregate; the only
    wide movement is the final top-k (TakeOrderedAndProject)."""
    from flink_examples_spark.queries import registry

    df = registry()["bm25_search_topk"].spark_fn(spark, sf_dir)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert not python_eval_nodes(df)


def test_cube_and_scd2_plan_discipline(spark, sf_dir):
    """CUBE plans as one Expand like ROLLUP; the SCD2 build's three
    differently-keyed windows share ONE user_id exchange (Catalyst
    satisfies ClusteredDistribution(user_id, k) from the user_id hash
    partitioning with a re-sort, not a re-shuffle)."""
    from flink_examples_spark.queries import registry

    cube = registry()["revenue_cube_status_priority"].spark_fn(
        spark, sf_dir)
    p = formatted_plan(cube)
    assert p.count("Expand (") == 1

    scd2 = registry()["user_attr_scd2"].spark_fn(spark, sf_dir)
    assert exchange_count(scd2) == 1
    assert not python_eval_nodes(scd2)


def test_round6_new_operator_plan_shapes(spark, sf_dir):
    """r6 operators keep the house discipline: no cartesian products or
    nested-loop joins anywhere, no Python boundary, HLL registers carry
    a partial MAX before their exchange (sketch-sized shuffle), and the
    prefix-filter dedup's only Windows are doc-bounded (partitioned by
    doc_id), never content-keyed or global."""
    from flink_examples_spark.queries import registry

    reg = registry()
    for name in [
        "hll_distinct_by_event_type",
        "copurchase_triangle_counts",
        "dedup_jaccard_prefix_filter",
        "parts_price_size_skyline",
        "orders_zorder_clustering_stats",
        "part_pair_lift_topk",
    ]:
        df = reg[name].spark_fn(spark, sf_dir)
        plan = formatted_plan(df)
        assert "CartesianProduct" not in plan, name
        if name not in ("orders_zorder_clustering_stats",
                        "part_pair_lift_topk"):
            # those two crossJoin a ONE-ROW broadcast aggregate (the
            # min/max normalizers / global basket count) — the scalar
            # BNLJ is the intended plan, not a join-order accident
            assert "BroadcastNestedLoopJoin" not in plan, name
        assert not python_eval_nodes(df), name

    from flink_examples_spark.operators.sketches import hll_registers

    regs = hll_registers(load_table(spark, "events", sf_dir),
                         "user_id", ["event_type"])
    plan = formatted_plan(regs)
    assert plan.count("HashAggregate") >= 2   # partial MAX + final

    df = reg["dedup_jaccard_prefix_filter"].spark_fn(spark, sf_dir)
    exec_plan = df._jdf.queryExecution().executedPlan().toString()
    for line in exec_plan.splitlines():
        if "Window" in line and "row_number" in line:
            assert "doc_id" in line, line   # doc-bounded, never global


def test_round7_new_query_plan_shapes(spark, sf_dir):
    """r7 queries keep the house discipline: no cartesian products, no
    Python boundary anywhere; the HHI/Pareto fact table aggregates per
    suppkey BEFORE any join with a map-side partial; the trigram top-20
    plans as TakeOrderedAndProject (no global sort); the reconcile
    audit folds lineitem per order before the same-key header join;
    the mode query's argmax window is partitioned (never global); and
    every scan is column-pruned to what the query reads."""
    from flink_examples_spark.queries import registry

    reg = registry()
    for name in [
        "nation_supplier_hhi",
        "nation_revenue_pareto_n80",
        "customer_rfm_grid",
        "ab_split_conversion",
        "doc_token_simpson_ppm",
        "event_path_trigrams",
        "user_churn_gap_census",
        "embedding_dim_range_census",
        "order_totals_reconcile_audit",
        "returnflag_quantity_mode",
    ]:
        df = reg[name].spark_fn(spark, sf_dir)
        plan = formatted_plan(df)
        assert "CartesianProduct" not in plan, name
        assert not python_eval_nodes(df), name

    # HHI: lineitem reads exactly 3 columns; the per-suppkey aggregate
    # carries a partial_sum below its exchange (map-side combine on the
    # fact scan); dims arrive by broadcast
    hhi = reg["nation_supplier_hhi"].spark_fn(spark, sf_dir)
    cols = read_schema_columns(hhi)
    assert cols <= {"l_suppkey", "l_extendedprice", "l_discount",
                    "s_suppkey", "s_nationkey", "n_nationkey", "n_name"}
    hhi_plan = hhi._jdf.queryExecution().executedPlan().toString()
    assert "partial_sum" in hhi_plan
    assert has_broadcast_join(hhi)

    # trigrams: top-20 must be TakeOrderedAndProject, not a global Sort
    tri = reg["event_path_trigrams"].spark_fn(spark, sf_dir)
    tri_plan = tri._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in tri_plan

    # mode: the only Window is partitioned by the group key over the
    # counted table — no unpartitioned (global) window anywhere
    mode = reg["returnflag_quantity_mode"].spark_fn(spark, sf_dir)
    mode_plan = mode._jdf.queryExecution().executedPlan().toString()
    for line in mode_plan.splitlines():
        if "Window" in line and "row_number" in line:
            assert "l_returnflag" in line, line

    # reconcile: lineitem folds per order (partial_sum under the
    # orderkey exchange) before meeting the header
    rec = reg["order_totals_reconcile_audit"].spark_fn(spark, sf_dir)
    rec_plan = rec._jdf.queryExecution().executedPlan().toString()
    assert "partial_sum" in rec_plan


def test_round8_new_query_plan_shapes(spark, sf_dir):
    """r8 queries keep the house discipline: no cartesian products, no
    Python boundary; the Q6 scan reads 4 columns with every predicate
    in the scan; Q13 folds orders per custkey BEFORE the customer
    join; capped sessions run all three window expressions over ONE
    user_id exchange; phrase search evaluates its match expression
    inside a single Generate (no pos_list re-projection); Benford's
    fact scan reads one column; the attribution window runs over pair
    rows with a partitioned (never global) frame."""
    from flink_examples_spark.queries import registry

    reg = registry()
    for name in [
        "revenue_change_scan",
        "customer_order_count_distribution",
        "capped_session_windows",
        "phrase_search_positions",
        "source_token_tv_drift",
        "source_hapax_vocab_census",
        "ann_cosine_topk_filtered",
        "embedding_dim_ablation_recall",
        "orders_benford_digit_audit",
        "purchase_attribution_time_decay",
    ]:
        df = reg[name].spark_fn(spark, sf_dir)
        plan = formatted_plan(df)
        assert "CartesianProduct" not in plan, name
        assert not python_eval_nodes(df), name

    # Q6: 4-column ReadSchema, all three predicates reach the scan,
    # and the only exchange carries the single-row partial aggregate
    q6 = reg["revenue_change_scan"].spark_fn(spark, sf_dir)
    assert read_schema_columns(q6) <= {
        "l_shipdate", "l_discount", "l_quantity", "l_extendedprice"}
    q6_plan = q6._jdf.queryExecution().executedPlan().toString()
    assert "partial_sum" in q6_plan
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        # guard the DataFilters fallback so a plan with no such section
        # reports a clean assertion failure, not IndexError (ADVICE r8)
        assert any(col in f for f in pushed_filters(q6) or [""]) or (
            "DataFilters" in q6_plan
            and col in q6_plan.split("DataFilters")[1][:400]
        ), col

    # Q13: the orders side aggregates per custkey (map-side partial)
    # BEFORE any join with customer
    q13 = reg["customer_order_count_distribution"].spark_fn(spark, sf_dir)
    q13_plan = q13._jdf.queryExecution().executedPlan().toString()
    assert "partial_count" in q13_plan

    # capped sessions: exactly ONE user_id hash exchange feeds the
    # Window stack (lag + running sum + running max share it); the
    # rollup reuses the same partitioning (no (user, session, sub)
    # exchange)
    cs = reg["capped_session_windows"].spark_fn(spark, sf_dir)
    cs_plan = cs._jdf.queryExecution().executedPlan().toString()
    win_exchanges = [
        line for line in cs_plan.splitlines()
        if "Exchange hashpartitioning" in line
    ]
    assert len(win_exchanges) == 1, cs_plan[:2000]
    assert "user_id" in win_exchanges[0]

    # phrase search: the match expression lives in ONE Generate node —
    # no pos_list column survives into a downstream projection (the
    # projection-collapse recompute hazard, PERF_NOTES_r8)
    ph = reg["phrase_search_positions"].spark_fn(spark, sf_dir)
    ph_plan = ph._jdf.queryExecution().executedPlan().toString()
    assert ph_plan.count("Generate explode") == 1
    assert "pos_list" not in ph_plan

    # Benford: the orders scan reads exactly one column
    bf = reg["orders_benford_digit_audit"].spark_fn(spark, sf_dir)
    assert "o_totalprice" in read_schema_columns(bf)
    assert not (read_schema_columns(bf)
                & {"o_orderkey", "o_custkey", "o_orderdate"})

    # time-decay attribution: every Window is partitioned by
    # purchase_id over pair rows — no global frame
    td = reg["purchase_attribution_time_decay"].spark_fn(spark, sf_dir)
    td_plan = td._jdf.queryExecution().executedPlan().toString()
    for line in td_plan.splitlines():
        if "Window" in line and "sum" in line:
            assert "purchase_id" in line, line


def test_round9_new_query_plan_shapes(spark, sf_dir):
    """r9 queries keep the house discipline: the URL-dedup scan never
    reads the text column (URL-dedup-first exists so no text moves),
    url-dedup carries exactly ONE exchange (the url_norm fold), the
    host census runs the two-level exact-distinct, and the pack
    contamination census evaluates its window-range expansion inside a
    single Generate; no cartesian products or Python nodes anywhere."""
    from flink_examples_spark.queries import registry

    reg = registry()
    for name in [
        "url_dedup_canonical",
        "host_boilerplate_census",
        "pack_contamination_census",
    ]:
        df = reg[name].spark_fn(spark, sf_dir)
        plan = formatted_plan(df)
        assert "CartesianProduct" not in plan, name
        assert not python_eval_nodes(df), name

    # URL dedup: text never scanned, one url_norm exchange
    ud = reg["url_dedup_canonical"].spark_fn(spark, sf_dir)
    assert "text" not in read_schema_columns(ud)
    ud_plan = ud._jdf.queryExecution().executedPlan().toString()
    assert sum(
        1 for line in ud_plan.splitlines()
        if "Exchange hashpartitioning" in line
    ) == 1

    # host census: text never scanned; url_norm fold first (the url
    # chain evaluates ONCE as a grouping key — projection-collapse
    # guard), then the host fold over the aggregated table
    hc = reg["host_boilerplate_census"].spark_fn(spark, sf_dir)
    assert "text" not in read_schema_columns(hc)
    hc_plan = hc._jdf.queryExecution().executedPlan().toString()
    ex_lines = [
        line for line in hc_plan.splitlines()
        if "Exchange hashpartitioning" in line
    ]
    assert len(ex_lines) == 2
    assert any("url_norm" in line for line in ex_lines)
    assert any("host" in line for line in ex_lines)

    # pack census: the window-range expansion is ONE Generate (the
    # projection-collapse hazard guard, like phrase_search_positions)
    pc = reg["pack_contamination_census"].spark_fn(spark, sf_dir)
    pc_plan = pc._jdf.queryExecution().executedPlan().toString()
    assert sum(
        1 for line in pc_plan.splitlines() if "Generate explode" in line
    ) == 1


def test_round9_crawl_cap_and_line_dedup_plan_shapes(spark, sf_dir):
    """The two crawl-stage additions keep the house discipline.

    host_token_budget_cap: budget-capped greedy selection is a WINDOW
    shape — exactly ONE hashpartitioning exchange (on host) serves the
    running prefix, the host total, and the final fold; no join, no
    second shuffle of the token mass.

    host_line_dedup_census: the url chain materializes once per DOC in
    a Project below the Generate (requiredChildOutput is [host], not
    the raw doc_id/source — the projection-collapse hazard guard), one
    explode, then the (host,line) -> host two-level fold.
    """
    from flink_examples_spark.queries import registry

    reg = registry()

    cap = reg["host_token_budget_cap"].spark_fn(spark, sf_dir)
    cap_plan = cap._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in cap_plan
    assert not python_eval_nodes(cap)
    cap_hash_ex = [
        line for line in cap_plan.splitlines()
        if "Exchange hashpartitioning" in line
    ]
    assert len(cap_hash_ex) == 1 and "host" in cap_hash_ex[0]

    ld = reg["host_line_dedup_census"].spark_fn(spark, sf_dir)
    ld_plan = ld._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in ld_plan
    assert not python_eval_nodes(ld)
    gens = [
        line for line in ld_plan.splitlines() if "Generate explode" in line
    ]
    assert len(gens) == 1
    # host computed below the Generate: the generate passes [host]
    # through and does NOT carry raw doc_id/source upward
    assert "host" in gens[0]
    assert "doc_id" not in gens[0] and "source" not in gens[0]
    ld_hash_ex = [
        line for line in ld_plan.splitlines()
        if "Exchange hashpartitioning" in line
    ]
    assert len(ld_hash_ex) == 3


def test_round10_line_dedup_strip_plan_shape(spark, sf_dir):
    """host_line_dedup_strip (the census's apply stage) keeps the house
    discipline: the boilerplate verdict is a de-skewed (host,line)
    aggregate joined back by BROADCAST (the probe side's exploded text
    never shuffles for the join — no content-keyed Window, no SMJ over
    the full line set), the probe Generate carries host+doc_id computed
    per-doc below it (projection-collapse guard), and the only other
    exchanges are the synth source windows and the doc_id reassembly."""
    from flink_examples_spark.queries import registry

    st = registry()["host_line_dedup_strip"].spark_fn(spark, sf_dir)
    plan = st._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert not python_eval_nodes(st)
    # verdict rejoin is a broadcast left-outer, not a probe-side shuffle
    assert "BroadcastHashJoin" in plan and "LeftOuter" in plan
    ex = [
        line for line in plan.splitlines()
        if "Exchange hashpartitioning" in line
    ]
    # 2x synth source windows (verdict side recomputes the synth — the
    # substring-strip recompute convention, cheaper than materializing
    # exploded text), 1x (host,line) verdict fold, 1x doc_id reassembly
    assert len(ex) == 4
    assert sum(1 for line in ex if "host" in line and "line" in line) == 1
    assert sum(1 for line in ex if "doc_id" in line and "host" in line) == 1
    # probe generate passes host (computed once per doc) + doc_id, and
    # does NOT drag raw source upward
    probe_gens = [
        line for line in plan.splitlines()
        if "Generate posexplode" in line and "doc_id" in line
    ]
    assert probe_gens and all("source" not in g for g in probe_gens)


def test_round10_url_dedup_incremental_plan_shape(spark, sf_dir):
    """url_dedup_incremental keeps the URL-dedup-first discipline: the
    scans never read text (narrow doc_id/source projections only), the
    staged-index probe and the hit rejoin are both BROADCAST joins (the
    index is never reshuffled against the delta), and every
    hashpartitioning exchange keys on url_norm (the url folds) — no
    cartesian products, no Python nodes."""
    from flink_examples_spark.queries import registry

    inc = registry()["url_dedup_incremental"].spark_fn(spark, sf_dir)
    assert "text" not in read_schema_columns(inc)
    plan = inc._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert not python_eval_nodes(inc)
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan
    ex = [
        line for line in plan.splitlines()
        if "Exchange hashpartitioning" in line
    ]
    assert ex and all("url_norm" in line for line in ex)


def test_round10_url_keep_and_pipeline_plan_shapes(spark, sf_dir):
    """url_dedup_keep: per-doc verdicts without ever scanning text —
    the duplicated-URL verdict table (min before the exchange)
    broadcasts back onto a text-free probe scan.

    crawl_pretext_pipeline: RefinedWeb stage order in ONE plan — the
    URL verdict comes off a text-free scan and BROADCASTS onto the
    probe (the only text scan), tokenization runs after the keep
    filter (duplicates are never tokenized), and the budget cap keeps
    host_token_budget_cap's single host-keyed window exchange."""
    from flink_examples_spark.queries import registry

    reg = registry()
    keep = reg["url_dedup_keep"].spark_fn(spark, sf_dir)
    assert "text" not in read_schema_columns(keep)
    kplan = keep._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in kplan
    assert not python_eval_nodes(keep)
    assert "BroadcastHashJoin" in kplan and "SortMergeJoin" not in kplan
    kex = [
        line for line in kplan.splitlines()
        if "Exchange hashpartitioning" in line
    ]
    assert len(kex) == 1 and "url_norm" in kex[0]

    pipe = reg["crawl_pretext_pipeline"].spark_fn(spark, sf_dir)
    pplan = pipe._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in pplan
    assert not python_eval_nodes(pipe)
    assert "BroadcastHashJoin" in pplan and "SortMergeJoin" not in pplan
    pex = [
        line for line in pplan.splitlines()
        if "Exchange hashpartitioning" in line
    ]
    # exactly two: the url verdict fold (text-free side) + the single
    # host window/fold exchange
    assert len(pex) == 2
    assert sum(1 for line in pex if "url_norm" in line) == 1
    assert sum(1 for line in pex if "host" in line) == 1
    # the verdict side's scan never reads text — only the probe does
    scans = [
        line.strip() for line in pplan.splitlines() if "FileScan" in line
    ]
    assert sum(1 for s in scans if "text" in s) == 1


def test_round10_host_line_strip_incremental_plan_shape(spark, sf_dir):
    """The line-dedup incremental keeps the module's incremental
    discipline: the staged index is probed by BROADCAST and the hit
    counts broadcast back (three BroadcastHashJoins, no SortMergeJoin
    — the corpus index is never reshuffled against the delta), every
    hashpartitioning exchange is either a synth source window, a
    (host,lfp) key fold, or the doc_id reassembly; no cartesian
    products, no Python nodes."""
    from flink_examples_spark.queries import registry

    inc = registry()["host_line_dedup_strip_incremental"].spark_fn(
        spark, sf_dir
    )
    plan = inc._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert not python_eval_nodes(inc)
    assert plan.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plan
    for line in plan.splitlines():
        if "Exchange hashpartitioning" not in line:
            continue
        assert (
            "source" in line          # synth window
            or ("lfp" in line or "_groupingexpression" in line)  # key fold
            or ("doc_id" in line and "host" in line)  # reassembly
        ), line


def test_subexpression_elimination_is_on(spark):
    """The registry's multi-metric projections (doc_stats, gopher
    rules, curriculum phases, seq_length_bucket_waste, ...) repeat the
    tokenize chain up to 13 times inside ONE Project and rely on
    whole-stage-codegen subexpression elimination to evaluate it once
    per row (measured r9 s5: 6 distinct token metrics over 300k docs,
    SE on 0.40 s vs off 0.57 s). Spark has defaulted this to true
    forever, but a silent default flip (or a conf override leaking in
    from a test) would quietly multiply the hot path's tokenize cost —
    pin it. Cross-OPERATOR repetition is the hazard SE does NOT cover;
    that is the projection-collapse rule (PERF_NOTES_r8/r9) enforced
    per-query by the Generate/grouping-key plan pins above."""
    assert (
        spark.conf.get("spark.sql.subexpressionElimination.enabled")
        == "true"
    )


def test_round12_incremental_hygiene_pipeline_plan_shape(spark, sf_dir, unpinned):
    """The composed daily-delta hygiene flagship (VERDICT r11 #1) keeps
    every stage's incremental discipline in ONE plan: no cartesian
    products, no Python nodes, no SortMergeJoin anywhere (every staged-
    index probe and every verdict rejoin is a BROADCAST join), and
    every hashpartitioning exchange keys on a stage's contract key —
    the synth source window, a url_norm fold, a (host,lfp)/(host,line)
    or grouping-key line fold, a doc_id reassembly, or a fingerprint
    fold. Checked on the fused (``unpinned``) lineage so the pin sees
    through the shared-stage pins the registered query adds."""
    from pyspark.sql import functions as F  # noqa: F811

    from flink_examples_spark.operators.crawl import (
        incremental_hygiene_pipeline as op,
    )
    from flink_examples_spark.queries import (
        _hygiene_corpus_indexes,
        _hygiene_delta_frames,
        _pii_raw_col,
    )

    with unpinned():
        corpus, delta = _hygiene_delta_frames(spark, sf_dir)
        uidx, lidx, cfps = _hygiene_corpus_indexes(corpus)
    pipe = op(
        uidx, lidx, cfps,
        delta.select("doc_id", "url_norm", "host", "text"),
        raw_col=_pii_raw_col(),
    )
    plan = pipe._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert not python_eval_nodes(pipe)
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 8
    for line in plan.splitlines():
        if "Exchange hashpartitioning" not in line:
            continue
        assert (
            "source" in line                      # synth lead window
            or "url_norm" in line                 # url folds
            or "lfp" in line or "line" in line    # line-key folds
            or "_groupingexpression" in line      # strip verdict fold
            or "doc_id" in line                   # strip reassembly
            or "fp" in line                       # fingerprint folds
        ), line


def test_round12_ivf_staged_probe_prunes_partitions(spark, sf_dir, tmp_path):
    """The staged-IVF probe's scale claim, proven on the plan: against
    a partitionBy(cell) index the probe-cell union becomes PARTITION
    PRUNING in the scan (probe IO, not just probe compute, is
    ~n_probe/n_clusters of the corpus), the scorer stays one
    mapInPandas pass, and the only hashpartitioning exchange is the
    final per-query top-k rank."""
    from flink_examples_spark.operators.similarity import (
        cosine_topk_ivf_staged,
        ivf_assign_cells,
        train_ivf_centroids,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    cent = train_ivf_centroids(emb, n_clusters=16)
    root = str(tmp_path / "ivf_parquet")
    ivf_assign_cells(emb, cent).write.partitionBy("cell").parquet(root)
    index = spark.read.parquet(root)
    out = cosine_topk_ivf_staged(
        index, cent, emb.filter(F.col("vec_id") < 3), k=5, n_probe=2
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    scans = [
        line for line in plan.splitlines() if "FileScan" in line
    ]
    pruned = [
        s.split("PartitionFilters", 1)[1]
        for s in scans
        if "PartitionFilters" in s
    ]
    # the probe-cell union lands in PartitionFilters (rendered
    # `cell IN (..)` small / `cell INSET ..` large) and covers at most
    # 3 queries x 2 probes = 6 of the 16 cells
    import re

    def cells_of(p):
        m = re.search(r"cell#?\d* (?:INSET ([\d, ]+)|IN \(([\d,]+)\))", p)
        return (m.group(1) or m.group(2)).split(",") if m else None

    assert pruned and any(
        (cs := cells_of(p)) is not None and 0 < len(cs) <= 6
        for p in pruned
    ), scans
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    ex = [
        line for line in plan.splitlines()
        if "Exchange hashpartitioning" in line
    ]
    assert len(ex) == 1 and "query_id" in ex[0]
