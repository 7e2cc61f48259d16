"""k-means invariants (reference tests/kmeans_tests.rs, SURVEY §5).

We assert the reference's invariants (shape, optimality, inertia
behavior, determinism) rather than bit-level centroid equality — RNG
streams differ across runtimes by design.
"""

from __future__ import annotations

from functools import partial

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.test_index import _blob_frame
from vector_indexer_spark.functions.kernels import pairwise_dist2
from vector_indexer_spark.operators.kmeans import (
    KMeansModel,
    assign_clusters,
    compute_inertia,
    kmeans_fit,
    kmeans_pp_init,
)


@pytest.fixture(scope="module")
def vec_df(spark, embeddings):
    return embeddings.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("values")
    )


def test_fit_shapes_and_labels(spark, vec_df):
    model = kmeans_fit(vec_df, k=8, seed=42, max_iters=10)
    assert model.centroids.shape == (8, 64)
    labels = assign_clusters(vec_df, model.centroids).select("cluster_id")
    vals = [r.cluster_id for r in labels.collect()]
    assert all(0 <= v < 8 for v in vals)  # kmeans_tests.rs:25-35


def test_assignment_is_optimal(spark, vec_df, emb_np):
    # every point is labeled with its argmin-distance centroid
    # (verify_optimal_assignment, tests/test_utils/mod.rs:123-144)
    ids, mat = emb_np
    model = kmeans_fit(vec_df, k=5, seed=7, max_iters=10)
    out = assign_clusters(vec_df, model.centroids).orderBy("id").collect()
    d2 = pairwise_dist2(mat.astype(np.float64), model.centroids)
    expected = np.argmin(d2, axis=1)
    got = np.array([r.cluster_id for r in out])
    assert (got == expected).all()


def test_k1_centroid_is_global_mean(spark, vec_df, emb_np):
    # k=1 converges to the global mean (kmeans_tests.rs:56-78)
    _, mat = emb_np
    model = kmeans_fit(vec_df, k=1, seed=3, max_iters=20)
    np.testing.assert_allclose(
        model.centroids[0], mat.astype(np.float64).mean(axis=0), atol=1e-6
    )


def test_same_seed_deterministic(spark, vec_df):
    a = kmeans_fit(vec_df, k=6, seed=11, max_iters=5)
    b = kmeans_fit(vec_df, k=6, seed=11, max_iters=5)
    np.testing.assert_array_equal(a.centroids, b.centroids)


def test_more_iters_inertia_non_increasing(spark, vec_df):
    # kmeans_tests.rs:177-198 (allow tiny float slack)
    i2 = compute_inertia(
        vec_df, kmeans_fit(vec_df, k=8, seed=5, max_iters=2).centroids
    )
    i10 = compute_inertia(
        vec_df, kmeans_fit(vec_df, k=8, seed=5, max_iters=10).centroids
    )
    assert i10 <= i2 * 1.0001


def test_minibatch_quality_vs_full(spark, vec_df):
    # mini-batch within 1.5x of full-batch inertia (kmeans_tests.rs:541-579)
    full = compute_inertia(
        vec_df, kmeans_fit(vec_df, k=8, seed=42, max_iters=20, mode="full").centroids
    )
    mini = compute_inertia(
        vec_df,
        kmeans_fit(vec_df, k=8, seed=42, max_iters=100, mode="minibatch").centroids,
    )
    assert mini <= full * 1.5


def test_k_greater_than_n_duplicates(spark):
    # k > n handled gracefully via duplication (kmeans_tests.rs:744-773)
    rng = np.random.default_rng(0)
    mat = rng.normal(size=(4, 8))
    cents = kmeans_pp_init(mat, k=10, rng=np.random.default_rng(1))
    assert cents.shape == (10, 8)
    # every centroid is one of the 4 points
    for c in cents:
        assert min(((mat - c) ** 2).sum(axis=1)) < 1e-12


def test_identical_points_colabeled(spark):
    # identical points share a label (kmeans_tests.rs:118-144)
    rows = [(i, [1.0] * 8) for i in range(10)] + [(10 + i, [5.0] * 8) for i in range(10)]
    df = spark.createDataFrame(rows, "id long, values array<float>")
    model = kmeans_fit(df, k=2, seed=1, max_iters=10)
    out = assign_clusters(df, model.centroids).collect()
    lab = {r.id: r.cluster_id for r in out}
    assert len({lab[i] for i in range(10)}) == 1
    assert len({lab[10 + i] for i in range(10)}) == 1
    assert lab[0] != lab[10]


def test_empty_input_raises(spark):
    df = spark.createDataFrame([], "id long, values array<float>")
    with pytest.raises(ValueError):
        kmeans_fit(df, k=2)


def test_k_zero_raises(spark, vec_df):
    with pytest.raises(ValueError):
        kmeans_fit(vec_df, k=0)


def test_high_dim(spark):
    # dim=256 sanity (reference exercises 1536; kept smaller for speed)
    rng = np.random.default_rng(2)
    rows = [(i, rng.normal(size=256).astype(np.float32).tolist()) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, values array<float>")
    model = kmeans_fit(df, k=4, seed=9, max_iters=5)
    assert model.centroids.shape == (4, 256)
    assert np.isfinite(model.centroids).all()


def test_hierarchical_assignment_matches_exact(spark):
    # J2/W3/K7 — two-stage assignment stays optimal on clustered data
    # for k > 100 (reference kmeans_tests.rs:628-698 asserts optimality
    # at k=150/200)
    from vector_indexer_spark.functions.kernels import (
        assign_nearest,
        assign_nearest_hierarchical,
    )
    from vector_indexer_spark.operators.kmeans import build_centroid_hierarchy

    rng = np.random.default_rng(7)
    k, d = 150, 16
    centroids = rng.normal(size=(k, d)) * 20.0  # well separated
    pts = centroids[rng.integers(0, k, size=2000)] + rng.normal(
        size=(2000, d), scale=0.1
    )
    meta, labels = build_centroid_hierarchy(centroids, seed=42)
    exact = assign_nearest(pts, centroids)
    hier = assign_nearest_hierarchical(pts, centroids, meta, labels)
    assert (exact == hier).mean() >= 0.995


def test_assign_clusters_hierarchical_mode(spark):
    # distributed J2 path returns valid labels and agrees with J1
    from vector_indexer_spark.operators.kmeans import assign_clusters

    rng = np.random.default_rng(3)
    k, d, n = 120, 8, 1000
    centroids = rng.normal(size=(k, d)) * 15.0
    pts = centroids[rng.integers(0, k, size=n)] + rng.normal(
        size=(n, d), scale=0.05
    )
    rows = [(i, pts[i].astype(np.float32).tolist()) for i in range(n)]
    df = spark.createDataFrame(rows, "id long, values array<float>")
    flat = assign_clusters(df, centroids, hierarchical=False).collect()
    hier = assign_clusters(df, centroids, hierarchical=True).collect()
    fmap = {r.id: r.cluster_id for r in flat}
    hmap = {r.id: r.cluster_id for r in hier}
    agree = sum(fmap[i] == hmap[i] for i in range(n)) / n
    assert agree >= 0.995
    assert all(0 <= v < k for v in hmap.values())


def test_full_batch_training_with_large_k_uses_hierarchy(spark):
    # the k>100 full-batch training path (hierarchical per-batch
    # assignment inside _partial_sums) converges to valid centroids
    rng = np.random.default_rng(11)
    k, d, n = 128, 8, 3000
    centers = rng.normal(size=(k, d)) * 25.0
    pts = centers[rng.integers(0, k, size=n)] + rng.normal(size=(n, d), scale=0.1)
    rows = [(i, pts[i].astype(np.float32).tolist()) for i in range(n)]
    df = spark.createDataFrame(rows, "id long, values array<float>")
    model = kmeans_fit(df, k=k, seed=2, max_iters=8, mode="full")
    assert model.centroids.shape == (k, d)
    assert np.isfinite(model.centroids).all()
    # quality: inertia near the generative noise floor (scale 0.1 →
    # E[dist2] ≈ d·0.01 per point; allow generous slack)
    inertia = compute_inertia(df, model.centroids)
    assert inertia / n < d * 0.01 * 10


def test_partial_sums_match_brute_force_statistics(spark, embeddings):
    # A1 bridge: the production (sum, count) accumulation equals the
    # brute-force per-cluster statistics under the fixed-centroid
    # fixture — the same statistics centroid_update_fixed oracles in SQL
    from vector_indexer_spark.operators.kmeans import _partial_sums

    rows = embeddings.orderBy("vec_id").collect()
    pts = np.stack([np.asarray(r.embedding, dtype=np.float64) for r in rows])
    cents = pts[:16]
    d2 = ((pts[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
    labels = d2.argmin(1)
    exp_counts = np.bincount(labels, minlength=16)
    exp_sums = np.zeros_like(cents)
    for j in range(16):
        exp_sums[j] = pts[labels == j].sum(axis=0)

    df = embeddings.select(F.col("embedding").alias("values"))
    sums, counts = _partial_sums(df, cents, "values")
    assert (counts == exp_counts).all()
    assert np.allclose(sums, exp_sums, rtol=1e-9, atol=1e-9)


def test_hierarchical_kernel_matches_relational_fixture(spark, embeddings):
    # J2 bridge: the NumPy shortlist kernel equals the relational
    # fixed-hierarchy assignment (ivf_hier_assign_fixed oracle query)
    from vector_indexer_spark.functions.kernels import (
        assign_nearest_hierarchical,
    )

    rows = embeddings.orderBy("vec_id").collect()
    pts = np.stack([np.asarray(r.embedding, dtype=np.float64) for r in rows])
    cents, metas = pts[:16], pts[:4]
    meta_labels = ((cents[:, None, :] - metas[None, :, :]) ** 2).sum(-1).argmin(1)
    got = assign_nearest_hierarchical(pts, cents, metas, meta_labels)

    import os

    from vector_indexer_spark.entry_queries import QUERIES

    sf_dir = os.environ.get(
        "SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001"
    )
    rel = {
        r.vec_id: r.cluster_id
        for r in QUERIES["ivf_hier_assign_fixed"](spark, sf_dir).collect()
    }
    assert len(rel) == len(pts)
    mismatches = sum(
        1 for i, r in enumerate(rows) if got[i] != rel[r.vec_id]
    )
    assert mismatches == 0


@pytest.mark.parametrize("k", [8, 120])
def test_driver_and_distributed_lloyd_agree(spark, vec_df, emb_np, k):
    # the two full-batch regimes run the same Lloyd step: from one init
    # and one RNG stream, the driver loop (n <= cap) and the Spark loop
    # (n > cap) end on the same centroids (to float summation order) and
    # label every row alike; k=120 runs the J2 shortlist path
    from vector_indexer_spark.operators.kmeans import (
        _driver_sums,
        _partial_sums,
        _train_full,
    )

    ids, mat = emb_np
    mat = mat.astype(np.float64)
    init = kmeans_pp_init(mat, k, np.random.default_rng(3))
    driver = _train_full(
        partial(_driver_sums, mat, seed=3), init, mat, 6, 0.0,
        np.random.default_rng(4),
    )
    spark_loop = _train_full(
        partial(_partial_sums, vec_df, vec_col="values", seed=3), init, mat, 6,
        0.0, np.random.default_rng(4),
    )
    assert driver[1:] == spark_loop[1:] == (6, False)
    np.testing.assert_allclose(driver[0], spark_loop[0], rtol=1e-9, atol=1e-9)
    got = assign_clusters(vec_df, spark_loop[0], seed=3).collect()
    by_id = {r.id: r.cluster_id for r in got}
    from vector_indexer_spark.operators.kmeans import _assign_payload, _nearest

    expected = _nearest(mat, _assign_payload(driver[0], 3))
    assert [by_id[i] for i in ids] == expected.tolist()


def test_sample_cap_below_n_forces_distributed_regime(spark):
    # the regime switch is the sample cap: at n <= cap the model carries
    # the driver's labels, one row below it trains over Spark and
    # carries none. On separated blobs both regimes find the same
    # partition (labels equal up to renumbering) although their k-means++
    # draws differ (the forced run samples n - 1 rows)
    df = _blob_frame(spark, 600, 8, 6, seed=21)
    driver = kmeans_fit(df, k=6, seed=5, max_iters=20, sample_cap=600)
    dist = kmeans_fit(df, k=6, seed=5, max_iters=20, sample_cap=599)
    assert dist.labels is None
    assert driver.labels is not None and driver.labels.shape == (600,)
    got = {
        r.id: r.cluster_id for r in assign_clusters(df, dist.centroids).collect()
    }
    dist_labels = np.array([got[i] for i in range(600)])
    pairs = set(zip(driver.labels.tolist(), dist_labels.tolist()))
    assert len(pairs) == 6  # a bijection between the two numberings
    # and the driver labels are the assign_clusters rule on its centroids
    own = {
        r.id: r.cluster_id
        for r in assign_clusters(df, driver.centroids).collect()
    }
    assert [own[i] for i in range(600)] == driver.labels.tolist()
