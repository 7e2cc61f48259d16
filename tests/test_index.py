"""IVF build/persist/search invariants (reference tests/ivf_index_tests.rs,
api_tests.rs, integration_tests.rs — SURVEY §5)."""

from __future__ import annotations

import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from vector_indexer_spark.operators.index_build import (
    build_index,
    check_build_input,
    collect_centroids,
    load_index,
)
from vector_indexer_spark.operators.knn import knn_exact
from vector_indexer_spark.operators.search import (
    calculate_recall,
    search_index,
)
from vector_indexer_spark.operators.sq import SQModel, ivfsq_search


@pytest.fixture(scope="module")
def vec_df(spark, embeddings):
    return embeddings.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("values")
    )


@pytest.fixture(scope="module")
def index(spark, vec_df, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ivf") / "index")
    return build_index(vec_df, path, nlist=16, seed=42)


@pytest.fixture(scope="module")
def queries_df(spark, embeddings):
    return embeddings.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query")
    )


def test_layout_and_meta(index):
    # shards + centroid table + meta created (ivf_index_tests.rs:38-84)
    assert os.path.exists(index.meta_path)
    meta = json.load(open(index.meta_path))
    assert meta["dimension"] == 64
    assert meta["nlist"] == index.nlist <= 16
    assert meta["n_shards"] == index.n_shards
    shard_dirs = [
        d for d in os.listdir(index.vectors_path) if d.startswith("shard_id=")
    ]
    assert len(shard_dirs) == index.n_shards


def test_conservation(spark, index):
    # Σ per-cluster counts = n, no duplicate ids across shards
    # (ivf_index_tests.rs:548-653)
    v = index.vectors(spark)
    assert v.count() == index.n_vectors == 500
    per_cluster = v.groupBy("cluster_id").count().collect()
    assert sum(r["count"] for r in per_cluster) == 500
    assert v.select("id").distinct().count() == 500
    # dense renumbering (P5): ids 0..nlist-1, all non-empty
    assert {r["cluster_id"] for r in per_cluster} == set(range(index.nlist))


def test_save_load_roundtrip(spark, index):
    loaded = load_index(spark, index.path)
    assert loaded.dimension == index.dimension
    assert loaded.nlist == index.nlist
    np.testing.assert_allclose(loaded.centroids, index.centroids, atol=1e-6)
    np.testing.assert_array_equal(loaded.centroid_shards, index.centroid_shards)


def test_load_missing_raises(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        load_index(spark, str(tmp_path / "nope"))


def test_empty_build_raises(spark):
    df = spark.createDataFrame([], "id long, values array<float>")
    with pytest.raises(ValueError):
        build_index(df, "/tmp/never-written")


def test_dim_mismatch_build_raises(spark):
    rows = [(0, [1.0] * 8), (1, [1.0] * 7)]
    df = spark.createDataFrame(rows, "id long, values array<float>")
    with pytest.raises(ValueError, match="dim"):
        build_index(df, "/tmp/never-written", dimension=8)


def test_null_vector_build_check_matches_size_filter(spark):
    # the folded P1 count keeps the old filter's null-array semantics
    rows = [(0, [1.0] * 8), (1, None), (2, [1.0] * 7)]
    df = spark.createDataFrame(rows, "id long, values array<float>")
    bad = df.filter(F.size("values") != 8).count()
    with pytest.raises(ValueError, match=f"^{bad} records have dimension != 8"):
        check_build_input(df, "values", 8)


@pytest.mark.parametrize("dimension", [64, None])
def test_build_counts_its_input_once(
    spark, vec_df, tmp_path, monkeypatch, dimension
):
    """One build runs one ``count()`` (the k-means sample's, which
    ``kmeans_fit`` reuses) and one ``first()`` for the folded row + P1
    aggregation, plus one more ``first()`` only when it has to infer
    the dimension."""
    calls = {"count": 0, "first": 0}
    cls = type(vec_df)
    for name in calls:
        orig = getattr(cls, name)

        def wrapped(self, *a, _name=name, _orig=orig, **kw):
            calls[_name] += 1
            return _orig(self, *a, **kw)

        monkeypatch.setattr(cls, name, wrapped)
    index = build_index(
        vec_df, str(tmp_path / "ix"), dimension=dimension, nlist=4, max_iters=2
    )
    monkeypatch.undo()
    assert index.n_vectors == 500 and index.dimension == 64
    assert calls == {"count": 1, "first": 1 if dimension else 2}


def test_collect_centroids_empty_frame_raises(spark):
    empty = spark.createDataFrame([], "centroid_id long, cvec array<double>")
    with pytest.raises(ValueError, match="centroid frame is empty"):
        collect_centroids(empty, "centroid_id", "cvec")
    # the composable tier stages surface the same error
    queries = spark.createDataFrame(
        [(0, [0.0, 1.0])], "query_id long, query array<float>"
    )
    codes = spark.createDataFrame([], "id long, cluster_id long")
    with pytest.raises(ValueError, match="centroid frame is empty"):
        ivfsq_search(
            codes, empty, SQModel((0.0, 0.0), (1.0, 1.0)), queries, k=1,
            n_probe=1,
        )


@pytest.mark.parametrize("method", ["native", "arrow"])
def test_search_self_top1_full_probe(spark, index, queries_df, method):
    # probing all clusters, an exact-match query returns itself
    # (ivf_index_tests.rs:122-159 / integration_tests.rs:16-80)
    out = search_index(
        spark, index, queries_df, k=1, n_probe=index.nlist, method=method
    ).toPandas()
    assert len(out) == 10
    assert (out.neighbor_id == out.query_id).all()
    assert (out.dist2 <= 1e-9).all()


def test_search_full_probe_equals_exact(spark, index, vec_df, queries_df):
    # n_probe = nlist ⇒ ANN results == brute force (same candidate set)
    ann = search_index(
        spark, index, queries_df, k=10, n_probe=index.nlist
    ).toPandas().sort_values(["query_id", "rank"])
    exact = knn_exact(
        vec_df, queries_df, k=10, id_col="id", vec_col="values"
    ).toPandas().sort_values(["query_id", "rank"])
    assert list(ann.neighbor_id) == list(exact.neighbor_id)


def test_search_sorted_exactly_k(spark, index, queries_df):
    out = search_index(spark, index, queries_df, k=5, n_probe=8).toPandas()
    for qid, grp in out.groupby("query_id"):
        grp = grp.sort_values("rank")
        assert len(grp) <= 5
        assert (np.diff(grp.dist2.to_numpy()) >= 0).all()


def test_search_invalid_params(spark, index, queries_df):
    # k=0 / n_probe=0 → error (ivf_index_tests.rs:396-457)
    with pytest.raises(ValueError):
        search_index(spark, index, queries_df, k=0)
    with pytest.raises(ValueError):
        search_index(spark, index, queries_df, n_probe=0)


def test_search_dim_mismatch_raises(spark, index):
    q = spark.createDataFrame(
        [(0, [1.0] * 32)], "query_id long, query array<float>"
    )
    with pytest.raises(ValueError, match="dim"):
        search_index(spark, index, q)


def test_search_include_vectors(spark, index, queries_df):
    out = search_index(
        spark, index, queries_df, k=3, n_probe=4, include_vectors=True
    ).toPandas()
    assert "values" in out.columns
    assert all(len(v) == 64 for v in out["values"])


def test_recall_thresholds_and_monotonicity(spark, index, vec_df, queries_df):
    # recall@10 ≥ 0.6 at moderate n_probe; recall monotone in n_probe
    # (ivf_index_tests.rs:465-498, integration_tests.rs:310-391)
    exact = knn_exact(vec_df, queries_df, k=10, id_col="id", vec_col="values")
    exact.cache()
    r_small = calculate_recall(
        search_index(spark, index, queries_df, k=10, n_probe=2), exact, 10
    )
    r_mid = calculate_recall(
        search_index(spark, index, queries_df, k=10, n_probe=8), exact, 10
    )
    r_full = calculate_recall(
        search_index(spark, index, queries_df, k=10, n_probe=index.nlist),
        exact,
        10,
    )
    assert r_mid >= 0.6
    assert r_small <= r_mid + 1e-9 <= r_full + 2e-9
    assert r_full == 1.0


def test_repeated_search_identical(spark, index, queries_df):
    # repeated identical searches byte-identical (integration_tests.rs:131-188)
    a = search_index(spark, index, queries_df, k=5, n_probe=4).toPandas()
    b = search_index(spark, index, queries_df, k=5, n_probe=4).toPandas()
    a = a.sort_values(["query_id", "rank"]).reset_index(drop=True)
    b = b.sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert a.equals(b)


def test_partition_pruning_in_plan(spark, index, queries_df):
    # the pruned scan must show PartitionFilters (SURVEY §4)
    from vector_indexer_spark.operators.search import rank_probes

    probes = rank_probes(queries_df, index.centroids, index.centroid_shards, 2)
    keys = probes.select("shard_id", "cluster_id").distinct().collect()
    shard_ids = sorted({r.shard_id for r in keys})
    cluster_ids = sorted({r.cluster_id for r in keys})
    pruned = index.vectors(spark).where(
        F.col("shard_id").isin(shard_ids) & F.col("cluster_id").isin(cluster_ids)
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    # shard predicate prunes Hive partitions; cluster predicate is
    # pushed to the parquet reader (row-group stats via the
    # sortWithinPartitions(cluster_id) write layout)
    assert "PartitionFilters" in plan
    assert "shard_id" in plan.split("PartitionFilters")[1][:400]
    assert "PushedFilters" in plan
    assert "cluster_id" in plan.split("PushedFilters")[1][:400]


def test_search_arrow_window_fallback_matches_driver_merge(
    spark, index, queries_df, monkeypatch
):
    # force the huge-batch window path and check it agrees with the
    # driver-merge path
    import vector_indexer_spark.operators.search as S

    a = search_index(spark, index, queries_df, k=5, n_probe=4).toPandas()
    monkeypatch.setattr(S, "_DRIVER_MERGE_LIMIT", 0, raising=True)
    b = search_index(spark, index, queries_df, k=5, n_probe=4).toPandas()
    a = a.sort_values(["query_id", "rank"]).reset_index(drop=True)
    b = b.sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert list(a.neighbor_id) == list(b.neighbor_id)


def test_search_arrow_big_batch_tier_routing_same_results(
    spark, index, queries_df, monkeypatch
):
    """Query batches above the masked-GEMM threshold must leave that
    kernel (it wastes ~(1 − n_probe/nlist) of its flops — measured 10×
    slower than alternatives at 20k queries): to the per-cluster bulk
    GEMM while the query matrix fits its broadcast budget, to the
    fully-relational native plan beyond it — identical results on all
    three tiers."""
    import vector_indexer_spark.operators.search as S

    a = search_index(spark, index, queries_df, k=5, n_probe=4).toPandas()
    called = {}
    orig_bulk, orig_native = S._search_arrow_bulk, S._search_native

    def _spy_bulk(*args, **kwargs):
        called["bulk"] = True
        return orig_bulk(*args, **kwargs)

    def _spy_native(*args, **kwargs):
        called["native"] = True
        return orig_native(*args, **kwargs)

    monkeypatch.setattr(S, "_search_arrow_bulk", _spy_bulk, raising=True)
    monkeypatch.setattr(S, "_search_native", _spy_native, raising=True)
    monkeypatch.setattr(S, "_ARROW_MAX_QUERY_BATCH", 1, raising=True)
    b = search_index(spark, index, queries_df, k=5, n_probe=4).toPandas()
    assert called.get("bulk"), "big batch did not route to the bulk kernel"
    monkeypatch.setattr(S, "_ARROW_BULK_QUERY_BYTES", 0, raising=True)
    c = search_index(spark, index, queries_df, k=5, n_probe=4).toPandas()
    assert called.get("native"), "over-budget batch did not route native"
    a = a.sort_values(["query_id", "rank"]).reset_index(drop=True)
    for other in (b, c):
        o = other.sort_values(["query_id", "rank"]).reset_index(drop=True)
        assert list(a.neighbor_id) == list(o.neighbor_id)
        assert np.allclose(a.dist2, o.dist2)


def test_concurrent_searches_identical(spark, index, queries_df):
    # reference runs searches concurrently against one index
    # (tests/ivf_index_tests.rs:768-807, shards_tests.rs:729-767);
    # Spark's scheduler must serve parallel jobs on the same index
    # with results identical to a serial run
    import threading

    expected = search_index(
        spark, index, queries_df, k=5, n_probe=4
    ).toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)

    results: dict[int, object] = {}
    errors: list[Exception] = []

    def _run(slot: int):
        try:
            results[slot] = (
                search_index(spark, index, queries_df, k=5, n_probe=4)
                .toPandas()
                .sort_values(["query_id", "rank"])
                .reset_index(drop=True)
            )
        except Exception as e:  # pragma: no cover - failure reporting
            errors.append(e)

    threads = [threading.Thread(target=_run, args=(i,)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    for slot in range(2):
        got = results[slot]
        assert list(got.neighbor_id) == list(expected.neighbor_id)
        assert np.allclose(got.dist2, expected.dist2)


def test_search_arrow_mask_overflow_routes_to_native(
    spark, index, queries_df, monkeypatch
):
    # an oversized dense probe mask must auto-route the arrow batch to
    # the distributed native path with identical results
    import vector_indexer_spark.operators.search as S

    a = search_index(spark, index, queries_df, k=5, n_probe=4).toPandas()
    calls = []
    native = S._search_native
    monkeypatch.setattr(
        S, "_search_native",
        lambda *args: calls.append(1) or native(*args), raising=True,
    )
    monkeypatch.setattr(S, "_ARROW_DENSE_MASK_LIMIT", 0, raising=True)
    b = search_index(
        spark, index, queries_df, k=5, n_probe=4, method="arrow"
    ).toPandas()
    assert calls, "mask overflow did not route to the native path"
    a = a.sort_values(["query_id", "rank"]).reset_index(drop=True)
    b = b.sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert list(a.neighbor_id) == list(b.neighbor_id)
    assert np.allclose(a.dist2, b.dist2)


def test_range_search_full_probe_matches_brute(spark, index, vec_df, queries_df):
    # range search with full probe == brute-force distance filter
    from vector_indexer_spark.operators.search import range_search

    r2 = 1.3
    got = range_search(
        spark, index, queries_df, radius2=r2, n_probe=index.nlist
    ).toPandas()
    exact = knn_exact(
        vec_df, queries_df, k=10_000, id_col="id", vec_col="values"
    ).toPandas()
    exact = exact[exact.dist2 <= r2]
    g = {(r.query_id, r.neighbor_id) for _, r in got.iterrows()}
    e = {(r.query_id, r.neighbor_id) for _, r in exact.iterrows()}
    assert g == e and len(g) > 10
    assert (got.dist2 <= r2).all()


def test_range_search_validates(spark, index, queries_df):
    from vector_indexer_spark.operators.search import range_search

    import pytest as _pytest

    with _pytest.raises(ValueError):
        range_search(spark, index, queries_df, radius2=-1.0)
    with _pytest.raises(ValueError):
        range_search(spark, index, queries_df, radius2=1.0, n_probe=0)


def test_custom_column_index_is_searchable(spark, embeddings, tmp_path):
    # index built with non-default id/vec column names must be
    # searchable (names persisted in meta and normalized at scan time)
    path = str(tmp_path / "custom")
    idx = build_index(
        embeddings.select("vec_id", "embedding"),
        path,
        id_col="vec_id",
        vec_col="embedding",
        nlist=8,
        seed=1,
    )
    assert idx.id_col == "vec_id" and idx.vec_col == "embedding"
    q = embeddings.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query")
    )
    for method in ("arrow", "native"):
        out = search_index(
            spark, idx, q, k=1, n_probe=idx.nlist, method=method
        ).toPandas()
        assert (out.neighbor_id == out.query_id).all()
    # reload from disk: names come back from meta.json
    idx2 = load_index(spark, path)
    assert idx2.id_col == "vec_id" and idx2.vec_col == "embedding"
    out2 = search_index(
        spark, idx2, q, k=2, n_probe=idx2.nlist, include_vectors=True
    ).toPandas()
    assert "values" in out2.columns and len(out2) == 10


def test_cluster_stats_hand_computed(spark):
    from vector_indexer_spark.operators.index_build import cluster_stats

    assigned = spark.createDataFrame(
        [(i, i % 3) for i in range(9)] + [(100, 0)],
        "vec_id long, cluster_id long",
    )
    row = cluster_stats(assigned).collect()[0]
    # sizes: cluster 0 → 4, clusters 1/2 → 3
    assert row.n_clusters == 3 and row.n_vectors == 10
    assert row.min_size == 3 and row.max_size == 4
    assert row.avg_size == pytest.approx(10 / 3)
    assert row.imbalance == pytest.approx(4 / (10 / 3))


def test_compact_index_restores_layout(spark, embeddings, tmp_path):
    from vector_indexer_spark.operators.index_build import (
        build_index,
        compact_index,
    )
    from vector_indexer_spark.operators.search import search_index
    from vector_indexer_spark.streaming.ingest import assign_and_shard

    vec = embeddings.select(
        F.col("vec_id").alias("id"),
        F.col("vec_id").alias("external_id"),
        F.col("embedding").alias("values"),
        F.lit(0).cast("long").alias("ts"),
    )
    idx = build_index(vec, str(tmp_path / "cidx"), nlist=8, seed=42)

    # simulate 3 micro-batch appends (the small-files accumulation)
    for lo in (20_000, 20_100, 20_200):
        batch = embeddings.filter(F.col("vec_id") < 100).select(
            (F.col("vec_id") + lo).alias("id"),
            (F.col("vec_id") + lo).alias("external_id"),
            F.col("embedding").alias("values"),
            F.lit(0).cast("long").alias("ts"),
        )
        (
            assign_and_shard(batch, idx)
            .repartition("shard_id")
            .write.mode("append")
            .partitionBy("shard_id")
            .parquet(idx.vectors_path)
        )

    q = embeddings.limit(5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query")
    )

    def _result_map(rows):
        # (query_id, rank) -> (neighbor_id, dist2)
        return {(r.query_id, r.rank): (r.neighbor_id, r.dist2) for r in rows}

    before = _result_map(
        search_index(spark, idx, q, k=5, n_probe=8).collect()
    )
    stats = compact_index(spark, idx)
    assert stats["files_after"] < stats["files_before"]
    assert stats["rows"] == idx.vectors(spark).count()
    after = _result_map(
        search_index(spark, idx, q, k=5, n_probe=8).collect()
    )
    # Compaction must not change WHAT the search returns. The fixture is
    # duplicate-heavy (the three appended batches clone ids < 100), so
    # equal-true-distance neighbors exist; on the Arrow fast path their
    # dist2 carries GEMM round-off that depends on batch SHAPE (see
    # pairwise_dist2), and compaction changes the file layout and hence
    # batch shapes. Rank order WITHIN a float-tie group is therefore
    # layout-dependent by design; the layout-invariant contract is:
    # per query, the same neighbor set at the same (noise-bounded)
    # distances, and identical ranking wherever distances are distinct.
    assert set(before) == set(after)
    by_query_before: dict[int, list] = {}
    by_query_after: dict[int, list] = {}
    for (qid, rank), (nid, d2) in sorted(before.items()):
        by_query_before.setdefault(qid, []).append((nid, d2))
    for (qid, rank), (nid, d2) in sorted(after.items()):
        by_query_after.setdefault(qid, []).append((nid, d2))
    for qid in by_query_before:
        b, a = by_query_before[qid], by_query_after[qid]
        assert sorted(n for n, _ in b) == sorted(n for n, _ in a)
        for (nb, db), (na, da) in zip(b, a):
            assert db == pytest.approx(da, abs=1e-6)
            if nb != na:  # swapped only within a distance tie group
                assert db == pytest.approx(da, abs=1e-6)
    # pruning still works on the compacted layout
    from vector_indexer_spark.plans import audit

    pruned = idx.vectors(spark).where(
        F.col("shard_id").isin([0]) & F.col("cluster_id").isin([0, 1])
    )
    assert audit.has_partition_filter(pruned, "shard_id")
    assert audit.has_pushed_filter(pruned, "cluster_id")


def test_delete_vectors_removes_from_search(spark, embeddings, tmp_path):
    from vector_indexer_spark.operators.index_build import (
        build_index,
        delete_vectors,
    )
    from vector_indexer_spark.operators.search import search_index

    vec = embeddings.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("values")
    )
    idx = build_index(vec, str(tmp_path / "didx"), nlist=8, seed=42)
    # self-queries: vec 7 finds itself at rank 1 before deletion
    q = embeddings.filter(F.col("vec_id") == 7).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query")
    )
    top1 = search_index(spark, idx, q, k=1, n_probe=8).collect()[0]
    assert top1.neighbor_id == 7
    stats = delete_vectors(spark, idx, [7, 9])
    assert stats["n_deleted"] == 2
    hits = {
        r.neighbor_id
        for r in search_index(spark, idx, q, k=10, n_probe=8).collect()
    }
    assert 7 not in hits and 9 not in hits
    assert idx.vectors(spark).count() == stats["rows_after"]


def test_filtered_search_matches_filtered_brute_force(
    spark, embeddings, tmp_path
):
    # attribute-filtered ANN: filter_expr rides the pruned scan, and
    # with full probing the result equals brute-force kNN over ONLY
    # the matching rows — both paths
    from vector_indexer_spark.operators.index_build import build_index
    from vector_indexer_spark.operators.knn import knn_exact
    from vector_indexer_spark.operators.search import search_index

    vec = embeddings.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").alias("values"),
        F.col("label"),
    )
    idx = build_index(vec, str(tmp_path / "fidx"), nlist=8, seed=42)
    q = embeddings.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query")
    )
    want = {
        (r.query_id, r.rank): r.neighbor_id
        for r in knn_exact(
            embeddings.filter(F.col("label") % 2 == 0),
            q,
            k=5,
            id_col="vec_id",
            vec_col="embedding",
        ).collect()
    }
    for method in ("arrow", "native"):
        got = {
            (r.query_id, r.rank): r.neighbor_id
            for r in search_index(
                spark,
                idx,
                q,
                k=5,
                n_probe=8,
                method=method,
                filter_expr="label % 2 = 0",
            ).collect()
        }
        assert got == want, method
    # every returned neighbor satisfies the predicate even with
    # partial probing
    part = search_index(
        spark, idx, q, k=5, n_probe=2, filter_expr=F.col("label") % 2 == 0
    )
    labels = dict(
        embeddings.select("vec_id", "label").collect()
    )
    assert all(labels[r.neighbor_id] % 2 == 0 for r in part.collect())


def test_filtered_search_predicate_pushes_down(spark, embeddings, tmp_path):
    from vector_indexer_spark.operators.index_build import build_index
    from vector_indexer_spark.operators.search import _pruned_scan
    from vector_indexer_spark.plans import audit

    vec = embeddings.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").alias("values"),
        F.col("label"),
    )
    idx = build_index(vec, str(tmp_path / "pidx"), nlist=8, seed=42)
    pruned = _pruned_scan(
        spark, idx, None, [0], [0, 1], F.col("label") == 3
    )
    s = audit.plan_summary(pruned)
    # the attribute predicate reaches the parquet scan beside the
    # cluster predicate
    assert any("label" in f for f in s["pushed_filters"])
    assert s["shuffles"] == 0


def test_filtered_range_search(spark, embeddings, tmp_path):
    from vector_indexer_spark.operators.index_build import build_index
    from vector_indexer_spark.operators.search import range_search

    vec = embeddings.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").alias("values"),
        F.col("label"),
    )
    idx = build_index(vec, str(tmp_path / "ridx"), nlist=8, seed=42)
    q = embeddings.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query")
    )
    full = range_search(spark, idx, q, radius2=50.0, n_probe=8)
    filt = range_search(
        spark, idx, q, radius2=50.0, n_probe=8, filter_expr="label = 1"
    )
    labels = dict(embeddings.select("vec_id", "label").collect())
    got_full = {(r.query_id, r.neighbor_id) for r in full.collect()}
    got_filt = {(r.query_id, r.neighbor_id) for r in filt.collect()}
    # filtered = full restricted to matching labels
    assert got_filt == {
        (q_, n) for (q_, n) in got_full if labels[n] == 1
    }


def test_staged_rewrite_recovers_from_interrupted_swap(spark, tmp_path):
    """A crash in the rename window must not strand or block the table.

    Two failure states a previous interrupted run can leave behind:
    (a) stale __backup alongside a live table — os.rename(src, backup)
        would raise on the non-empty dir target; the stale backup must
        be discarded;
    (b) __backup with NO live table (crash between the two renames) —
        the data is stranded in backup and must be restored first.
    """
    import os

    from vector_indexer_spark.operators.index_build import _staged_rewrite

    def make_table(path):
        spark.createDataFrame(
            [(i, i % 2, i % 4) for i in range(40)],
            "id long, shard_id int, cluster_id int",
        ).write.mode("overwrite").partitionBy("shard_id").parquet(path)

    src = str(tmp_path / "tbl")
    make_table(src)
    df = spark.read.parquet(src)

    # (a) stale backup + live table
    make_table(f"{src}__op__backup")
    n_before, n_after = _staged_rewrite(
        spark, src, df, "op", lambda b, a: None
    )
    assert (n_before, n_after) == (40, 40)
    assert not os.path.exists(f"{src}__op__backup")

    # (b) backup only, live table missing (mid-swap crash)
    os.rename(src, f"{src}__op__backup")
    assert not os.path.exists(src)
    df2 = spark.createDataFrame(
        [(i, i % 2, i % 4) for i in range(30)],
        "id long, shard_id int, cluster_id int",
    )
    n_before, n_after = _staged_rewrite(
        spark, src, df2, "op", lambda b, a: None
    )
    assert (n_before, n_after) == (40, 30)  # restored table seen as before-state
    assert spark.read.parquet(src).count() == 30
    assert not os.path.exists(f"{src}__op__backup")


@pytest.mark.parametrize("method", ["native", "arrow"])
def test_hierarchical_probe_ranking_recall_parity(
    spark, index, queries_df, monkeypatch, method
):
    """Above _HIER_PROBE_NLIST, probe ranking goes two-stage (meta
    shortlist -> exact member top-n_probe). Forced on via a tiny
    threshold, the end-to-end search must stay within a small recall
    envelope of flat ranking (the pruning is approximate by design —
    same contract as J2 assignment's >=99.5% bound; exact parity when
    every meta is shortlisted is covered by the kernel test in
    test_knn.py) and must never lose a query's own vector."""
    import vector_indexer_spark.operators.search as S

    flat = search_index(
        spark, index, queries_df, k=5, n_probe=4, method=method
    ).toPandas()
    monkeypatch.setattr(S, "_HIER_PROBE_NLIST", 1)
    hier = search_index(
        spark, index, queries_df, k=5, n_probe=4, method=method
    ).toPandas()

    exact = knn_exact(
        spark.read.parquet(f"{index.vectors_path}").select(
            F.col("id").alias("vec_id"), F.col("values").alias("embedding")
        ),
        queries_df,
        k=5,
        id_col="vec_id",
        vec_col="embedding",
    )
    r_flat = calculate_recall(
        spark.createDataFrame(flat), exact, 5
    )
    r_hier = calculate_recall(
        spark.createDataFrame(hier), exact, 5
    )
    assert r_hier >= r_flat - 0.05
    # rank-1 self-hit preserved: each query's own vector still found
    top1 = hier[hier["rank"] == 1].set_index("query_id").neighbor_id
    assert (top1.loc[sorted(top1.index)] == sorted(top1.index)).all()


class TestRelationalProbeRanking:
    """rank_probes_relational + lazy_centroids — the no-matrix path."""

    def test_matches_broadcast_ranking(self, spark, index, queries_df):
        from vector_indexer_spark.operators.search import (
            rank_probes,
            rank_probes_relational,
        )

        rel = rank_probes_relational(
            spark, index, queries_df, 4
        ).toPandas().sort_values(["query_id", "probe_rank"]).reset_index(
            drop=True
        )
        bc = rank_probes(
            queries_df, index.centroids, index.centroid_shards, 4
        ).toPandas().sort_values(["query_id", "probe_rank"]).reset_index(
            drop=True
        )
        # the index fixture was LOADED from float32-persisted centroids?
        # no — built in-session, so the matrix is float64 training
        # output while the table stores float32. Compare probe SETS per
        # query (near-tie order may differ), and full equality of the
        # top-1 probe.
        assert len(rel) == len(bc)
        for qid in rel.query_id.unique():
            rset = set(rel[rel.query_id == qid].cluster_id)
            bset = set(bc[bc.query_id == qid].cluster_id)
            assert rset == bset, qid
        top_r = rel[rel.probe_rank == 1].set_index("query_id").cluster_id
        top_b = bc[bc.probe_rank == 1].set_index("query_id").cluster_id
        assert (top_r == top_b).all()

    def test_native_search_routes_relational_over_budget(
        self, spark, index, queries_df, monkeypatch
    ):
        import vector_indexer_spark.operators.search as S

        flat = search_index(
            spark, index, queries_df, k=5, n_probe=4, method="native"
        ).toPandas()
        monkeypatch.setattr(S, "_CENTROID_BROADCAST_LIMIT", 1)
        rel = search_index(
            spark, index, queries_df, k=5, n_probe=4, method="native"
        ).toPandas()
        a = flat.sort_values(["query_id", "rank"]).reset_index(drop=True)
        b = rel.sort_values(["query_id", "rank"]).reset_index(drop=True)
        assert list(a.neighbor_id) == list(b.neighbor_id)

    def test_lazy_loaded_index_searches_without_matrix(
        self, spark, index, queries_df
    ):
        from vector_indexer_spark.operators.index_build import load_index

        lazy = load_index(spark, index.path, lazy_centroids=True)
        assert lazy.centroids is None and lazy.centroid_shards is None
        # arrow request reroutes to the relational native path
        out = search_index(
            spark, lazy, queries_df, k=5, n_probe=lazy.nlist, method="arrow"
        ).toPandas()
        # full-probe search is exact: self is its own top-1
        top1 = out[out["rank"] == 1].set_index("query_id").neighbor_id
        assert (top1.loc[sorted(top1.index)] == sorted(top1.index)).all()
        with pytest.raises(ValueError, match="lazy_centroids"):
            lazy.probe_hierarchy()


class TestAddVectors:
    """Incremental ingest (add_vectors): the maintenance twin of
    delete_vectors/compact_index."""

    @pytest.fixture()
    def split_idx(self, spark, embeddings, tmp_path):
        from vector_indexer_spark.operators.index_build import build_index

        base = embeddings.filter(F.col("vec_id") < 400).select(
            F.col("vec_id").alias("id"), F.col("embedding").alias("values")
        )
        return build_index(base, str(tmp_path / "aidx"), nlist=8, seed=42)

    def test_add_then_full_probe_equals_exact_knn_over_union(
        self, spark, embeddings, split_idx
    ):
        # under n_probe = nlist the search is exact, so after adding
        # the held-out rows the result must equal brute-force kNN over
        # the whole table — independent of where training put the
        # centroids (this is also the ivf_add_search_fixed oracle)
        from vector_indexer_spark.operators.index_build import add_vectors

        rest = embeddings.filter(F.col("vec_id") >= 400).select(
            F.col("vec_id").alias("id"), F.col("embedding").alias("values")
        )
        stats = add_vectors(spark, split_idx, rest)
        assert stats["n_added"] == 100
        assert stats["n_vectors"] == 500
        q = embeddings.filter(F.col("vec_id").isin(1, 450)).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query"),
        )
        got = {
            (r.query_id, r.rank): r.neighbor_id
            for r in search_index(
                spark, split_idx, q, k=5, n_probe=split_idx.nlist
            ).collect()
        }
        want = {
            (r.query_id, r.rank): r.neighbor_id
            for r in knn_exact(
                embeddings, q, k=5, id_col="vec_id", vec_col="embedding"
            ).collect()
        }
        assert got == want
        # added rows sit in the cluster a fresh assignment would pick
        # (search pruning correctness): spot-check via one added id
        meta = json.load(open(split_idx.meta_path))
        assert meta["n_vectors"] == 500

    def test_add_rejects_duplicates_and_bad_dims(
        self, spark, embeddings, split_idx
    ):
        from vector_indexer_spark.operators.index_build import add_vectors

        dup = embeddings.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("id"), F.col("embedding").alias("values")
        )
        with pytest.raises(ValueError, match="already present"):
            add_vectors(spark, split_idx, dup)
        batch_dup = (
            embeddings.filter(F.col("vec_id") == 499)
            .select(
                F.lit(900).alias("id"), F.col("embedding").alias("values")
            )
            .union(
                embeddings.filter(F.col("vec_id") == 499).select(
                    F.lit(900).alias("id"),
                    F.col("embedding").alias("values"),
                )
            )
        )
        with pytest.raises(ValueError, match="duplicate ids within"):
            add_vectors(spark, split_idx, batch_dup)
        bad_dim = embeddings.filter(F.col("vec_id") == 499).select(
            F.lit(901).alias("id"),
            F.slice("embedding", 1, 8).alias("values"),
        )
        with pytest.raises(ValueError, match="dim validation"):
            add_vectors(spark, split_idx, bad_dim)
        with pytest.raises(ValueError, match="empty"):
            add_vectors(spark, split_idx, bad_dim.limit(0))
        missing_col = embeddings.filter(F.col("vec_id") == 499).select(
            F.lit(902).alias("id"), F.col("embedding").alias("vec")
        )
        with pytest.raises(ValueError, match="missing index columns"):
            add_vectors(spark, split_idx, missing_col)

    def test_add_appends_files_and_compact_restores(
        self, spark, embeddings, split_idx
    ):
        from vector_indexer_spark.operators.index_build import (
            add_vectors,
            compact_index,
        )

        batches = [
            embeddings.filter(
                (F.col("vec_id") >= 400 + i * 25)
                & (F.col("vec_id") < 425 + i * 25)
            ).select(
                F.col("vec_id").alias("id"),
                F.col("embedding").alias("values"),
            )
            for i in range(4)
        ]
        files0 = None
        for b in batches:
            stats = add_vectors(spark, split_idx, b)
            files0 = stats["files_after"]
        assert split_idx.n_vectors == 500
        c = compact_index(spark, split_idx)
        assert c["files_after"] < files0
        assert c["rows"] == 500

    def test_add_requires_centroid_matrix(self, spark, split_idx):
        from vector_indexer_spark.operators.index_build import (
            add_vectors,
            load_index,
        )

        lazy = load_index(spark, split_idx.path, lazy_centroids=True)
        with pytest.raises(ValueError, match="lazy_centroids"):
            add_vectors(spark, lazy, split_idx.vectors(spark).limit(1))


def test_merge_indexes_and_refresh_meta(spark, embeddings, tmp_path):
    """merge_from semantics: absorb src's rows into dst under DST's
    centroids; full-probe search over the merged index equals exact
    kNN over the union. refresh_meta_count repairs a drifted count."""
    from vector_indexer_spark.operators.index_build import (
        build_index,
        merge_indexes,
        refresh_meta_count,
    )

    a = embeddings.filter(F.col("vec_id") < 300).select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("values")
    )
    b = embeddings.filter(F.col("vec_id") >= 300).select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("values")
    )
    dst = build_index(a, str(tmp_path / "mdst"), nlist=8, seed=42)
    src = build_index(b, str(tmp_path / "msrc"), nlist=4, seed=7)
    stats = merge_indexes(spark, dst, src)
    assert stats["n_added"] == 200 and stats["n_vectors"] == 500
    # src untouched
    assert src.vectors(spark).count() == 200
    q = embeddings.filter(F.col("vec_id").isin(10, 350)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query")
    )
    got = {
        (r.query_id, r.rank): r.neighbor_id
        for r in search_index(
            spark, dst, q, k=5, n_probe=dst.nlist
        ).collect()
    }
    want = {
        (r.query_id, r.rank): r.neighbor_id
        for r in knn_exact(
            embeddings, q, k=5, id_col="vec_id", vec_col="embedding"
        ).collect()
    }
    assert got == want
    # merging again collides on ids
    with pytest.raises(ValueError, match="already present"):
        merge_indexes(spark, dst, src)

    # simulate streaming-sink drift: stale meta count
    import json

    meta = json.load(open(dst.meta_path))
    meta["n_vectors"] = 300
    json.dump(meta, open(dst.meta_path, "w"))
    r = refresh_meta_count(spark, dst)
    assert r == {"n_vectors": 500, "drift": 200}
    assert json.load(open(dst.meta_path))["n_vectors"] == 500


def test_missing_shard_tolerated_with_warning(spark, embeddings, tmp_path):
    """P8 — missing-shard tolerance (reference src/shards.rs: warn and
    serve from surviving shards): delete a shard dir, search still
    succeeds with a RuntimeWarning, and at full probe the result is
    EXACTLY brute-force kNN over the rows that physically survive."""
    import shutil
    import warnings

    from vector_indexer_spark.operators.index_build import build_index

    vec = embeddings.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("values")
    )
    idx = build_index(vec, str(tmp_path / "p8idx"), nlist=16, seed=42)
    victim = os.path.join(idx.vectors_path, "shard_id=0")
    assert os.path.isdir(victim)
    shutil.rmtree(victim)
    survivors = {
        r.id for r in idx.vectors(spark).select("id").collect()
    }
    assert 0 < len(survivors) < 500
    q = embeddings.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query")
    )
    for method in ("arrow", "native"):
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            got = {
                (r.query_id, r.rank): r.neighbor_id
                for r in search_index(
                    spark, idx, q, k=5, n_probe=idx.nlist, method=method
                ).collect()
            }
        assert any(
            issubclass(x.category, RuntimeWarning)
            and "missing" in str(x.message)
            for x in w
        ), method
        want = {
            (r.query_id, r.rank): r.neighbor_id
            for r in knn_exact(
                embeddings.filter(F.col("vec_id").isin(list(survivors))),
                q,
                k=5,
                id_col="vec_id",
                vec_col="embedding",
            ).collect()
        }
        assert got == want, method


def test_per_cluster_query_returns_same_cluster_majority(spark, tmp_path):
    """Reference integration semantics (integration_tests.rs:241-306):
    on a well-separated clustered corpus, a query drawn from a cluster
    gets neighbors overwhelmingly from its own trained cluster, even
    with several probes open."""
    from vector_indexer_spark.operators.index_build import build_index
    from vector_indexer_spark.sources.files import (
        generate_clustered_vectors,
    )

    synth = generate_clustered_vectors(
        spark, 2000, 16, n_clusters=8, separation=10.0, noise=0.3, seed=3
    )
    vec = synth.select("id", "values")
    idx = build_index(vec, str(tmp_path / "cmidx"), nlist=8, seed=42)
    assigned = idx.vectors(spark).select(
        F.col("id").alias("neighbor_id"),
        F.col("cluster_id").alias("n_cluster"),
    )
    q = vec.filter(F.col("id") % 400 == 0).select(
        F.col("id").alias("query_id"), F.col("values").alias("query")
    )
    out = search_index(spark, idx, q, k=10, n_probe=4)
    own = idx.vectors(spark).select(
        F.col("id").alias("query_id"), F.col("cluster_id").alias("q_cluster")
    )
    joined = out.join(assigned, "neighbor_id").join(own, "query_id")
    frac = joined.agg(
        F.avg(
            (F.col("n_cluster") == F.col("q_cluster")).cast("double")
        ).alias("f")
    ).collect()[0]["f"]
    assert frac >= 0.9, frac


def test_meta_rewrites_are_atomic_across_tiers(spark, tmp_path):
    """ADVICE r5 (graph tier) generalized: EVERY index tier's meta
    sidecar rewrite now goes through atomic_write_json (tmp + fsync +
    rename) — a garbage .tmp from a crashed prior writer must never
    poison the live meta, and the sidecar stays loadable after every
    bookkeeping op."""
    import json
    import os

    from vector_indexer_spark.operators.index_build import (
        add_vectors,
        build_index,
        load_index,
        refresh_meta_count,
    )
    from vector_indexer_spark.sources.files import generate_vectors

    vec = generate_vectors(spark, 300, 8, seed=5)
    path = str(tmp_path / "ivf_atomic")
    idx = build_index(vec, path, nlist=6, seed=3)
    # simulate a crashed mid-write from a prior process
    tmp = idx.meta_path + ".tmp"
    with open(tmp, "w") as f:
        f.write('{"version": 99, "garb')
    batch = vec.filter(F.col("id") < 20).select(
        (F.col("id") + 10_000).alias("id"),
        (F.col("external_id") + 10_000).alias("external_id"),
        "values",
        "ts",
    )
    add_vectors(spark, idx, batch)
    assert not os.path.exists(tmp)
    assert load_index(spark, path).n_vectors == 320
    out = refresh_meta_count(spark, idx)
    assert out["drift"] == 0
    meta = json.load(open(idx.meta_path))
    assert meta["n_vectors"] == 320
    assert not os.path.exists(tmp)
