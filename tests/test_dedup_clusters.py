"""Connected-components clustering + canonical selection tests."""

from __future__ import annotations

import pytest

from flink_examples_spark.operators.dedup import (
    connected_components,
    keep_canonical,
)


def test_components_on_known_graph(spark):
    # components: {1,2,3,4} (chain), {10,11}, {20} not present (no pairs)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "a long, b long"
    )
    out = {r.node: r.cluster_id for r in
           connected_components(pairs, "a", "b").collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_components_converge_on_hub_and_ring(spark):
    # ring 0-1-2-3-4-0 (diameter > 1 round) plus star 100-(101..105)
    ring = [(i, (i + 1) % 5) for i in range(5)]
    star = [(100, 100 + i) for i in range(1, 6)]
    pairs = spark.createDataFrame(ring + star, "a long, b long")
    out = {r.node: r.cluster_id for r in
           connected_components(pairs, "a", "b").collect()}
    assert {out[i] for i in range(5)} == {0}
    assert {out[100 + i] for i in range(6)} == {100}


def _cc(spark, pairs, **kw):
    return {r.node: r.cluster_id for r in
            connected_components(pairs, "a", "b", **kw).collect()}


def test_distributed_branch_matches_union_find_on_known_graphs(spark):
    """driver_threshold=0 forces the distributed min-label-propagation
    branch — the ONLY code path that runs above 2.5M pair rows at 100 TB
    scale. Its output must be identical to the driver union-find on the
    same pair sets (chain, ring, star, disjoint components)."""
    graphs = [
        [(1, 2), (2, 3), (3, 4), (10, 11)],                    # chain + pair
        [(i, (i + 1) % 5) for i in range(5)]
        + [(100, 100 + i) for i in range(1, 6)],               # ring + star
        [(7, 7)],                                              # self-loop
        [(2, 1), (4, 3), (3, 2)],                              # reversed ids
    ]
    for g in graphs:
        pairs = spark.createDataFrame(g, "a long, b long")
        assert _cc(spark, pairs, driver_threshold=0) == _cc(spark, pairs), g


def test_distributed_branch_converges_on_long_ring_via_pointer_doubling(spark):
    """A 64-ring has diameter 32 — pure one-hop min-label propagation
    would need ~32 rounds, over the default max_iter=15. Pointer
    doubling (label chains halve per round) must converge it within the
    default budget and agree with union-find."""
    n = 64
    ring = [(i, (i + 1) % n) for i in range(n)]
    pairs = spark.createDataFrame(ring, "a long, b long")
    out = _cc(spark, pairs, driver_threshold=0)  # default max_iter=15
    assert out == {i: 0 for i in range(n)}
    assert out == _cc(spark, pairs)


def test_tier_gate_is_one_job_at_its_boundary(spark):
    """The tier gate is one fetch of at most driver_threshold + 1 raw
    pair rows. The 64-ring has 64 pair rows: at driver_threshold=64 the
    call submits that one job and runs union-find over the fetched
    table; at 63 it takes the distributed tier (the gate, then rounds —
    the 4-action gate it replaces made 63 jobs here). Both return the
    same rows."""
    n = 64
    ring = [(i, (i + 1) % n) for i in range(n)]
    pairs = spark.createDataFrame(ring, "a long, b long")
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    jobs, out = {}, {}
    for th in (n, n - 1):
        before = sched.nextJobId()
        df = connected_components(pairs, "a", "b", driver_threshold=th)
        jobs[th] = sched.nextJobId() - before
        out[th] = sorted(map(tuple, df.collect()))
    assert jobs[n] == 1
    assert 1 < jobs[n - 1] <= 63
    assert out[n] == out[n - 1] == [(i, 0) for i in range(n)]


@pytest.mark.parametrize(
    "kw", [{}, {"driver_threshold": 0}], ids=["driver", "distributed"]
)
def test_null_endpoints_fail_on_both_tiers(spark, kw):
    """A null node id cannot join a component: both tiers must raise
    rather than crash in union-find or drop the pair and split a
    cluster silently."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, None), (None, 3), (5, 6)], "a long, b long"
    )
    with pytest.raises(Exception, match="connected_components: null node id"):
        connected_components(pairs, "a", "b", **kw).collect()


def test_distributed_branch_raises_rather_than_returning_unconverged(spark):
    """An exhausted round budget must raise, never silently hand
    half-merged clusters to a destructive dedup step."""
    import pytest

    ring = [(i, i + 1) for i in range(30)]
    pairs = spark.createDataFrame(ring, "a long, b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(
            pairs, "a", "b", driver_threshold=0, max_iter=2
        ).collect()


def test_distributed_branch_matches_union_find_on_real_lsh_pairs(spark):
    """Parity on the actual sf0.001 MinHash-LSH candidate graph — the
    same pair set the dedup_minhash_clusters oracle checks."""
    from flink_examples_spark.catalog import load_table
    from flink_examples_spark.operators.dedup import minhash_lsh_pairs

    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    pairs = minhash_lsh_pairs(docs, "doc_id", "text").localCheckpoint()
    dist = {r.node: r.cluster_id for r in
            connected_components(pairs, "doc_a", "doc_b",
                                 driver_threshold=0).collect()}
    uf = {r.node: r.cluster_id for r in
          connected_components(pairs, "doc_a", "doc_b").collect()}
    assert dist == uf
    assert dist  # non-vacuous


def test_minhash_lsh_candidate_recall_floor(spark):
    """The text-side LSH recall contract (dedup.py docstring table):
    every exact-Jaccard pair ≥0.3 on the fixture is recalled by the
    default k=8/b=2 banding — measured 1.00 at sf0.001 and sf0.1; a
    banding or salt regression that starts missing true near-dups
    fails this loudly."""
    from flink_examples_spark.catalog import load_table
    from flink_examples_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    cand = {(r.doc_a, r.doc_b)
            for r in minhash_lsh_pairs(docs, "doc_id", "text").collect()}
    true_pairs = {(r.doc_a, r.doc_b)
                  for r in ngram_jaccard_pairs(docs, "doc_id", "text",
                                               threshold=0.3).collect()}
    assert true_pairs  # non-vacuous
    assert true_pairs <= cand  # recall 1.0 on the fixture


def test_keep_canonical_drops_non_minimal_members(spark):
    docs = spark.createDataFrame(
        [(i, f"doc{i}") for i in (1, 2, 3, 10, 11, 20)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], "a long, b long")
    comp = connected_components(pairs, "a", "b")
    kept = sorted(r.doc_id for r in keep_canonical(docs, comp, "doc_id").collect())
    # clusters {1,2,3} -> keep 1; {10,11} -> keep 10; 20 unclustered -> kept
    assert kept == [1, 10, 20]


def test_verify_jaccard_on_candidates_matches_full_jaccard(spark):
    """The LSH-then-verify stage computes the SAME exact Jaccard as the
    full inverted-index join, restricted to the candidate set — so
    pipeline decisions (drop/keep) are identical wherever LSH recalled
    the pair."""
    from flink_examples_spark.catalog import load_table
    from flink_examples_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        verify_jaccard_on_candidates,
    )

    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    cand = minhash_lsh_pairs(docs, "doc_id", "text")
    verified = {
        (r.doc_a, r.doc_b): round(r.jaccard, 6)
        for r in verify_jaccard_on_candidates(
            docs, cand, "doc_id", "text", threshold=0.3
        ).collect()
    }
    full = {
        (r.doc_a, r.doc_b): round(r.jaccard, 6)
        for r in ngram_jaccard_pairs(
            docs, "doc_id", "text", threshold=0.3
        ).collect()
    }
    cand_set = {(r.doc_a, r.doc_b) for r in cand.collect()}
    assert verified == {p: j for p, j in full.items() if p in cand_set}
    assert verified  # non-vacuous at sf0.001


def test_dedup_pipeline_keeps_canonicals_only(spark):
    """End-to-end pipeline: every cluster keeps exactly its min-id doc;
    unclustered docs all survive."""
    from flink_examples_spark.catalog import load_table
    from flink_examples_spark.operators.dedup import (
        connected_components,
        keep_canonical,
        minhash_lsh_pairs,
        verify_jaccard_on_candidates,
    )

    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    cand = minhash_lsh_pairs(docs, "doc_id", "text")
    verified = verify_jaccard_on_candidates(
        docs, cand, "doc_id", "text", threshold=0.3
    )
    comp = connected_components(verified, "doc_a", "doc_b")
    kept = {r.doc_id for r in keep_canonical(docs, comp, "doc_id")
            .select("doc_id").collect()}
    all_ids = {r.doc_id for r in docs.select("doc_id").collect()}
    clustered = {r.node: r.cluster_id for r in comp.collect()}
    losers = {n for n, c in clustered.items() if n != c}
    assert kept == all_ids - losers
    assert losers  # non-vacuous: some dups exist at sf0.001


def test_incremental_lsh_pairs_families(spark):
    """Delta-vs-corpus candidates come only from the broadcast cross
    join ('corpus'), delta-vs-delta only from the within self-join
    ('delta'), and corpus docs never pair with each other — the
    incremental contract: the existing corpus is read, never
    re-deduped."""
    from flink_examples_spark.operators.dedup import (
        incremental_lsh_pairs,
        minhash_band_keys,
    )

    text = "the quick brown fox jumps over the lazy dog again and again"
    corpus = spark.createDataFrame(
        [(1, text), (2, "totally unrelated content words apples pears")],
        "doc_id long, text string",
    )
    delta = spark.createDataFrame(
        [(10, text), (11, text), (12, "nothing like anything else here")],
        "doc_id long, text string",
    )
    cb = minhash_band_keys(corpus, "doc_id", "text")
    out = incremental_lsh_pairs(cb, delta, "doc_id", "text").collect()
    fams = {(r["doc_a"], r["doc_b"]): r["against"] for r in out}
    assert fams[(1, 10)] == "corpus" and fams[(1, 11)] == "corpus"
    assert fams[(10, 11)] == "delta"
    # no corpus-corpus pair, nothing for the unrelated docs
    assert all(not (a <= 2 and b <= 2) for a, b in fams)
    assert all(12 not in p and 2 not in p for p in fams)

    # re-ingestion: a doc id present on BOTH sides must not emit a
    # degenerate (x, x) self-pair
    delta_overlap = spark.createDataFrame(
        [(1, text)], "doc_id long, text string"
    )
    over = incremental_lsh_pairs(cb, delta_overlap, "doc_id", "text").collect()
    assert all(r["doc_a"] != r["doc_b"] for r in over)


def test_connected_components_rejects_string_ids(spark):
    """Review regression: string node ids would silently cast to NULL
    and corrupt every component — the operator must refuse them."""
    import pytest

    from flink_examples_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [("doc-1", "doc-2")], "doc_a string, doc_b string"
    )
    with pytest.raises(TypeError, match="integer node ids"):
        connected_components(pairs, "doc_a", "doc_b")


def test_simhash_wide_signatures_use_high_bits(spark):
    """Review regression: bits > 16 must draw enough hash hex chars
    that high signature bits actually vary (they were constant zero)."""
    from flink_examples_spark.operators.dedup import simhash

    import pytest

    docs = spark.createDataFrame(
        [(i, f"tok{i}a tok{i}b tok{i}c") for i in range(40)],
        "doc_id long, text string",
    )
    sigs = [r["simhash"] for r in simhash(docs, "doc_id", "text", bits=32).collect()]
    assert any(s >= (1 << 16) for s in sigs), "high 16 bits never set"
    with pytest.raises(ValueError, match="60-bit"):
        simhash(docs, "doc_id", "text", bits=64)


def test_levenshtein_verify_empty_texts_are_perfect_dups(spark):
    """Two empty-text docs in a candidate pair: lev_dist 0, sim 1.0 —
    not a 0/0 NULL silently dropped by the threshold filter."""
    from flink_examples_spark.operators.dedup import (
        verify_levenshtein_on_candidates,
    )

    docs = spark.createDataFrame(
        [(1, ""), (2, ""), (3, "some text")],
        "doc_id long, text string",
    )
    cands = spark.createDataFrame(
        [(1, 2), (1, 3)], "doc_a long, doc_b long"
    )
    out = {(r["doc_a"], r["doc_b"]): (r["lev_dist"], r["lev_sim"])
           for r in verify_levenshtein_on_candidates(
               docs, cands, "doc_id", "text", min_sim=0.8).collect()}
    assert out[(1, 2)] == (0, 1.0)
    assert (1, 3) not in out


def test_levenshtein_verify_null_text_pairs_are_not_dups(spark):
    """(NULL text, empty text) must NOT score as a perfect duplicate —
    greatest() skips NULLs, so without the non-NULL guard the pair got
    a contradictory (lev_dist NULL, sim 1.0) row and dedup could
    delete a doc against a NULL-text partner."""
    from flink_examples_spark.operators.dedup import (
        verify_levenshtein_on_candidates,
    )

    docs = spark.createDataFrame(
        [(1, None), (2, ""), (3, None)],
        "doc_id long, text string",
    )
    cands = spark.createDataFrame(
        [(1, 2), (1, 3)], "doc_a long, doc_b long"
    )
    out = verify_levenshtein_on_candidates(
        docs, cands, "doc_id", "text", min_sim=0.0
    ).collect()
    assert out == []


def test_containment_is_asymmetric_and_exact(spark):
    from flink_examples_spark.operators.dedup import ngram_containment_pairs

    # doc 1 = a 5-token quote; doc 2 = a long page containing it verbatim;
    # doc 3 = unrelated. 1's 3 shingles all appear in 2 -> C(1,2)=1.0;
    # 2 has many shingles of its own -> C(2,1) small and filtered out.
    quote = "the quick brown fox jumps"
    page = "intro words here " + quote + " plus a long tail of other tokens"
    rows = [(1, quote), (2, page), (3, "totally different content words")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        (r.doc_a, r.doc_b): (r.n_common, r.n_a, r.containment)
        for r in ngram_containment_pairs(
            df, "doc_id", "text", n=3, threshold=0.6
        ).collect()
    }
    assert set(out) == {(1, 2)}
    n_common, n_a, c = out[(1, 2)]
    assert (n_common, n_a, c) == (3, 3, 1.0)


def test_containment_respects_frequency_cap(spark):
    from flink_examples_spark.operators.dedup import ngram_containment_pairs

    # one shingle shared by every doc; with cap=2 it is dropped, so the
    # pair list collapses to only the genuinely-contained pair.
    boiler = "click here to subscribe"
    rows = [(i, boiler) for i in range(1, 5)]
    rows.append((10, boiler + " and some unique trailing content too"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    capped = ngram_containment_pairs(
        df, "doc_id", "text", n=3, threshold=0.6, max_shingle_freq=2
    )
    assert capped.count() == 0   # boilerplate shingles can't form pairs


def test_ngram_novelty_golden(spark):
    from flink_examples_spark.operators.decontam import ngram_novelty

    train = spark.createDataFrame(
        [(1, "alpha beta gamma delta", "s")],
        "doc_id long, text string, source string",
    )
    # test doc shares shingle 'alpha beta gamma'+'beta gamma delta'? no:
    # test text = 'alpha beta gamma epsilon' -> shingles:
    #   'alpha beta gamma' (seen), 'beta gamma epsilon' (novel)
    test = spark.createDataFrame(
        [(2, "alpha beta gamma epsilon", "s")],
        "doc_id long, text string, source string",
    )
    [row] = ngram_novelty(
        train, test, "doc_id", "text", "source", n=3
    ).collect()
    assert (row.n_test_shingles, row.n_novel) == (2, 1)
    assert abs(row.novelty_rate - 0.5) < 1e-12


def test_prefix_filter_jaccard_equals_uncapped_inverted_index(spark):
    """Prefix filtering must lose NO pair: at binary-exact thresholds
    (1/2, 1/4) the PPJoin-style pruned join returns exactly the pairs
    the uncapped full inverted-index join returns, on a fixture with
    exact dups, heavy-overlap near-dups, and disjoint docs — including
    docs whose shingle counts make ceil(t*n) land on and off integer
    boundaries."""
    from flink_examples_spark.operators.dedup import (
        jaccard_prefix_filter_pairs,
        ngram_jaccard_pairs,
    )

    vocab = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta",
             "theta", "iota", "kappa"]

    def text(idxs):
        return " ".join(vocab[i % len(vocab)] for i in idxs)

    rows = [
        (1, text(range(12))),
        (2, text(range(12))),                       # exact dup of 1
        (3, text(list(range(10)) + [97, 98])),      # heavy overlap w/ 1
        (4, text(range(50, 61))),                   # disjoint
        (5, text(list(range(5)) + list(range(30, 37)))),  # partial
        (6, text(range(7))),                        # small doc (n=5 shingles)
        (7, text(list(range(7)) + [77])),           # near-dup of 6
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    for num, den in [(1, 2), (1, 4)]:
        got = {(r.doc_a, r.doc_b)
               for r in jaccard_prefix_filter_pairs(
                   df, "doc_id", "text", n=3,
                   threshold_num=num, threshold_den=den).collect()}
        want = {(r.doc_a, r.doc_b)
                for r in ngram_jaccard_pairs(
                    df, "doc_id", "text", n=3,
                    threshold=num / den).collect()}
        assert got == want, (num, den, got, want)
        assert (1, 2) in got  # exact dup always survives
