"""The shared persisted-IVF skeleton (index_build + search): one coarse
stage per build, crash-safe meta sidecars, one driver probe plan per
search whose per-query probe list is exactly what each tier scores."""

from __future__ import annotations

import json
import uuid

import numpy as np
import pytest
from pyspark.sql import functions as F

import vector_indexer_spark.operators.search as S
from vector_indexer_spark.functions.kernels import (
    pairwise_dist2,
    topk_per_row,
    topk_per_row_hierarchical,
)
from vector_indexer_spark.operators import index_build as IB
from vector_indexer_spark.operators import ivfbq, opq, pq, rabitq, sq
from vector_indexer_spark.operators.kmeans import build_centroid_hierarchy

N_PROBE = 4
K = 10


def _mixture(spark, n, d, n_comp, seed):
    rng = np.random.default_rng(seed)
    cents = rng.normal(size=(n_comp, d)) * 4.0
    x = cents[rng.integers(0, n_comp, n)] + rng.normal(size=(n, d))
    return spark.createDataFrame(
        [(int(i), [float(v) for v in x[i]]) for i in range(n)],
        "id long, values array<float>",
    )


@pytest.fixture(scope="module")
def corpus(spark):
    return _mixture(spark, 3000, 16, 40, seed=11).cache()


@pytest.fixture(scope="module")
def queries(spark):
    rng = np.random.default_rng(12)
    qmat = rng.normal(size=(16, 16)) * 4.0
    return spark.createDataFrame(
        [(int(i), [float(v) for v in qmat[i]]) for i in range(len(qmat))],
        "query_id long, query array<double>",
    ).cache()


@pytest.fixture(scope="module")
def tiers(spark, corpus, tmp_path_factory):
    root = tmp_path_factory.mktemp("skeleton")
    kw = dict(nlist=64, seed=3, max_iters=4)
    return {
        "sq": sq.build_ivfsq_index(corpus, str(root / "sq"), **kw),
        "bq": ivfbq.build_ivfbq_index(corpus, str(root / "bq"), **kw),
        "rabitq": rabitq.build_ivf_rabitq_index(
            corpus, str(root / "rabitq"), **kw
        ),
        "pq": pq.build_ivfpq_index(
            corpus, str(root / "pq"), m=4, ksub=16, **kw
        ),
    }


SEARCH = {
    "sq": lambda spark, idx, q, k, n_probe: sq.search_ivfsq_index(
        spark, idx, q, k=k, n_probe=n_probe
    ),
    "bq": lambda spark, idx, q, k, n_probe: ivfbq.search_ivfbq_index(
        spark, idx, q, k=k, n_probe=n_probe
    ),
    "rabitq": lambda spark, idx, q, k, n_probe: rabitq.search_ivf_rabitq_index(
        spark, idx, q, k=k, n_probe=n_probe
    ),
    "pq": lambda spark, idx, q, k, n_probe: pq.search_ivfpq(
        spark, idx, q, k=k, n_probe=n_probe
    ),
}


def _by_query(rows):
    out: dict = {}
    for r in sorted(rows, key=lambda r: (r[0], r[1])):
        out.setdefault(r[0], []).append((r[2], r[3]))
    return out


@pytest.mark.parametrize("tier", ["sq", "bq", "rabitq", "pq"])
def test_hierarchical_scan_score_agreement(
    spark, tiers, queries, monkeypatch, tier
):
    """With hierarchical probe ranking forced on, every query's result
    is the top-k over ITS OWN hierarchical probe list (the flat
    search_index contract) — no tier may score a cluster outside that
    list, nor miss one inside it."""
    idx = tiers[tier]
    qrows = queries.orderBy("query_id").collect()
    qids = [r.query_id for r in qrows]
    qmat = np.asarray([r.query for r in qrows], dtype=np.float64)
    # the hierarchy an index handle builds for itself (probe_hierarchy)
    meta_c, meta_l = build_centroid_hierarchy(idx.centroids, idx.seed)
    _, hier = topk_per_row_hierarchical(
        qmat, idx.centroids, meta_c, meta_l, N_PROBE
    )
    _, exact = topk_per_row(pairwise_dist2(qmat, idx.centroids), N_PROBE)
    # precondition: the hierarchy is approximate for at least one query
    assert any(set(h) != set(e) for h, e in zip(hier, exact))

    # every row's tier distance for every query (full probe, k = all)
    full = _by_query(
        SEARCH[tier](spark, idx, queries, idx.n_vectors, idx.nlist).collect()
    )
    cluster_of = {
        r.id: r.cluster_id
        for r in idx.codes(spark).select("id", "cluster_id").collect()
    }
    monkeypatch.setattr(S, "_HIER_PROBE_NLIST", 1)
    got = _by_query(SEARCH[tier](spark, idx, queries, K, N_PROBE).collect())
    for qi, qid in enumerate(qids):
        probed = set(int(c) for c in hier[qi])
        want = sorted(
            ((dist, nid) for nid, dist in full[qid] if cluster_of[nid] in probed)
        )[:K]
        assert [nid for nid, _ in got[qid]] == [nid for _, nid in want], qid
        np.testing.assert_allclose(
            [dist for _, dist in got[qid]],
            [dist for dist, _ in want],
            rtol=1e-9,
            atol=1e-9,
        )


def _job_count(spark, fn) -> int:
    sc = spark.sparkContext
    group = f"jobcount-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count", False)
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    try:
        sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    except Exception:  # noqa: BLE001 — internal API; fall back to a pause
        import time

        time.sleep(2.0)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_tier_searches_run_no_more_jobs_than_pq(
    spark, corpus, tiers, queries, tmp_path
):
    """Building a persisted tier search collects its queries once and
    ranks probes once on the driver — no Spark probe-ranking job, no
    second query collect, no centroid-frame round trip — so it runs no
    more jobs than IVF-PQ's search. IVF-OPQ hands its rotated matrix to
    the same plan instead of re-collecting a rebuilt query frame."""
    queries.count()
    counts = {
        tier: _job_count(
            spark, lambda t=tier: SEARCH[t](spark, tiers[t], queries, K, 8)
        )
        for tier in ("pq", "sq", "bq", "rabitq")
    }
    for tier in ("sq", "bq", "rabitq"):
        assert counts[tier] <= counts["pq"], counts
    oidx = opq.build_ivfopq_index(
        corpus, str(tmp_path / "opq"), nlist=16, m=4, ksub=16, seed=3,
        max_iters=2,
    )
    n_opq = _job_count(
        spark, lambda: opq.search_ivfopq(spark, oidx, queries, k=K, n_probe=8)
    )
    n_pq = _job_count(
        spark,
        lambda: pq.search_ivfpq(spark, oidx.ivfpq, queries, k=K, n_probe=8),
    )
    assert n_opq <= n_pq, (n_opq, n_pq)


TINY = dict(nlist=4, seed=1, max_iters=2)
BUILDERS = {
    "flat": lambda df, p: IB.build_index(df, p, **TINY),
    "sq": lambda df, p: sq.build_ivfsq_index(df, p, **TINY),
    "bq": lambda df, p: ivfbq.build_ivfbq_index(df, p, **TINY),
    "rabitq": lambda df, p: rabitq.build_ivf_rabitq_index(df, p, **TINY),
    "pq": lambda df, p: pq.build_ivfpq_index(df, p, m=4, ksub=8, **TINY),
    "opq": lambda df, p: opq.build_ivfopq_index(df, p, m=4, ksub=8, **TINY),
}


@pytest.fixture(scope="module")
def small(spark):
    return _mixture(spark, 300, 16, 6, seed=5).cache()


@pytest.mark.parametrize("tier", ["flat", "sq", "bq", "rabitq", "pq"])
def test_builders_run_one_coarse_stage(spark, small, tmp_path, monkeypatch, tier):
    """Every tier trains and shards through index_build's one coarse
    stage, so the module-global hooks (the benchmark's build.* trace
    spans) see exactly one k-means fit and one relabel+shard per
    build."""
    calls = {"kmeans_fit": 0, "dense_relabel_and_shards": 0}

    def counting(name):
        orig = getattr(IB, name)

        def wrapped(*a, **kw):
            calls[name] += 1
            return orig(*a, **kw)

        return wrapped

    for name in calls:
        monkeypatch.setattr(IB, name, counting(name))
    BUILDERS[tier](small, str(tmp_path / tier))
    assert calls == {"kmeans_fit": 1, "dense_relabel_and_shards": 1}


LOADERS = {
    "flat": ("meta.json", lambda spark, p: IB.load_index(spark, p)),
    "sq": ("ivfsq_meta.json", lambda spark, p: sq.load_ivfsq_index(spark, p)),
    "pq": ("ivfpq_meta.json", lambda spark, p: pq.load_ivfpq_index(spark, p)),
    # the inner IVF-PQ rebuild completes before the OPQ sidecar write;
    # what must survive is the OPQ sidecar itself (its rotation mean)
    "opq": (
        "ivfopq_meta.json",
        lambda spark, p: opq.load_ivfopq_index(spark, p).mean.tolist(),
    ),
}


@pytest.mark.parametrize("tier", ["flat", "sq", "pq", "opq"])
def test_rebuild_crash_keeps_previous_meta(
    spark, small, tmp_path, monkeypatch, tier
):
    """A rebuild that dies while writing its meta sidecar leaves the
    previous sidecar intact and loadable (tmp + rename), instead of a
    truncated file that makes the whole index unloadable."""
    name, load = LOADERS[tier]
    path = str(tmp_path / tier)
    BUILDERS[tier](small, path)
    before = load(spark, path)
    real_dump = json.dump

    def dying_dump(obj, fp, *a, **kw):
        if fp.name.split("/")[-1].startswith(name):
            fp.write('{"version": 1, "dimen')  # torn mid-write
            raise OSError("disk full")
        return real_dump(obj, fp, *a, **kw)

    monkeypatch.setattr(json, "dump", dying_dump)
    with pytest.raises(OSError, match="disk full"):
        BUILDERS[tier](small.filter(F.col("id") < 200), path)
    monkeypatch.setattr(json, "dump", real_dump)
    after = load(spark, path)
    if tier == "opq":
        assert after == before
    else:
        assert after.n_vectors == before.n_vectors == 300
