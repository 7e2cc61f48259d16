"""Per-batch Spark work of the read and add paths: ``VectorIndex.search``
hands its matrix straight to the arrow search core, a driver-sized
search or exact-kNN batch is one Spark job whose winners merge on the
driver, an index handle infers each table's schema once, and an add
batch is checked in one aggregation plus the duplicate-id semi-join."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from tests.test_tier_skeleton import _job_count, _job_ids
from vector_indexer_spark import api
from vector_indexer_spark.operators import index_build as IB
from vector_indexer_spark.operators import search as S
from vector_indexer_spark.operators.knn import knn_exact

DIM = 16


def _frame(spark, xq, ids=None):
    ids = np.arange(len(xq), dtype=np.int64) if ids is None else ids
    return spark.createDataFrame(
        pd.DataFrame({"query_id": ids, "query": list(xq)}),
        "query_id long, query array<float>",
    )


def _rows(spark, xb, ids):
    return spark.createDataFrame(
        pd.DataFrame(
            {
                "id": ids,
                "external_id": ids,
                "values": list(xb),
                "ts": np.zeros(len(ids), dtype=np.int64),
            }
        ),
        "id long, external_id long, values array<float>, ts long",
    )


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    rng = np.random.default_rng(3)
    xb = rng.normal(size=(400, DIM)).astype(np.float32)
    path = str(tmp_path_factory.mktemp("batchjobs") / "idx")
    return api.build(xb, path, spark=spark, nlist=8, seed=3), xb, path


def _padded_search_df(vi, xq, k, n_probe):
    """The padded (D, I) of ``search_df(...).collect()``, filled row by
    row — the contract ``VectorIndex.search`` must reproduce."""
    nq = len(xq)
    D = np.full((nq, k), np.inf, dtype=np.float32)
    I = np.full((nq, k), -1, dtype=np.int64)
    for r in vi.search_df(_frame(vi._spark, xq), k=k, n_probe=n_probe).collect():
        D[r["query_id"], r["rank"] - 1] = r["dist2"]
        I[r["query_id"], r["rank"] - 1] = r["neighbor_id"]
    return D, I


@pytest.mark.parametrize(
    "case, nq, k, n_probe, lazy",
    [
        ("batch", 12, 5, 3, False),
        ("empty", 0, 5, 3, False),
        ("k_gt_n", 6, 450, 8, False),
        ("lazy_centroids", 12, 5, 3, True),
    ],
)
def test_api_search_matches_search_df(spark, built, case, nq, k, n_probe, lazy):
    """``VectorIndex.search`` equals the padded ``search_df`` result bit
    for bit: on an arrow batch, an empty ``(0, d)`` batch, ``k > n``
    (inf / -1 padding) and a lazy-centroid handle (the relational
    route, which builds a query DataFrame)."""
    vi, xb, path = built
    if lazy:
        vi = api.VectorIndex(spark, IB.load_index(spark, path, lazy_centroids=True))
    xq = np.random.default_rng(nq + k).normal(size=(nq, DIM)).astype(np.float32)
    D, I = vi.search(xq, k=k, n_probe=n_probe)
    Dw, Iw = _padded_search_df(vi, xq, k, n_probe)
    assert D.shape == Dw.shape == (nq, k) and D.dtype == np.float32
    assert I.dtype == np.int64
    np.testing.assert_array_equal(I, Iw)
    np.testing.assert_array_equal(D.view(np.int32), Dw.view(np.int32))
    if case == "k_gt_n":
        assert (I[:, 400:] == -1).all() and np.isinf(D[:, 400:]).all()
        assert (I[:, :400] >= 0).all()


def test_api_search_checks_its_arguments(built):
    vi, xb, _ = built
    with pytest.raises(ValueError, match="positive"):
        vi.search(xb[:2], k=0)
    with pytest.raises(ValueError, match="positive"):
        vi.search(xb[:2], k=3, n_probe=0)
    with pytest.raises(ValueError, match="query matrix"):
        vi.search(xb[:2, :8], k=3)


def test_api_search_is_one_job(spark, built):
    """On a handle that has opened its table once, a driver-sized
    ``VectorIndex.search`` batch is one Spark job: the pruned scan →
    Arrow kernel → local top-k job, merged on the driver."""
    vi, xb, _ = built
    vi._index.vectors(spark)
    xq = xb[:8] + np.float32(0.01)
    assert _job_count(spark, lambda: vi.search(xq, k=5, n_probe=3)) == 1


@pytest.fixture(scope="module")
def ties(spark, tmp_path_factory):
    """300 vectors on the 16 corners of a 4-cube: every distance is
    shared by ~19 rows, so rank cuts fall inside tie groups."""
    x = np.random.default_rng(5).integers(0, 2, size=(300, 4)).astype(np.float32)
    path = str(tmp_path_factory.mktemp("ties") / "vec")
    spark.createDataFrame(
        pd.DataFrame({"id": np.arange(300, dtype=np.int64), "values": list(x)}),
        "id long, values array<float>",
    ).repartition(4).write.parquet(path)
    return spark.read.parquet(path), _frame(spark, x[:6])


def test_knn_arrow_matches_native_on_ties(ties):
    vectors, queries = ties
    got = sorted(tuple(r) for r in knn_exact(vectors, queries, 20).collect())
    want = sorted(
        tuple(r)
        for r in knn_exact(vectors, queries, 20, method="native").collect()
    )
    assert got == want
    assert len(got) == 6 * 20


def test_knn_arrow_driver_sized_batch_is_one_job_without_shuffle(spark, ties):
    """A driver-sized exact batch merges its map-side winners on the
    driver: one job, no stage reading shuffle data (the window rank
    was a shuffle-map job plus a result job)."""
    vectors, queries = ties
    jobs = _job_ids(spark, lambda: knn_exact(vectors, queries, 20).collect())
    assert len(jobs) == 1
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    for j in jobs:
        for sid in sc.statusTracker().getJobInfo(j).stageIds:
            assert store.lastStageAttempt(sid).shuffleReadBytes() == 0


@pytest.fixture
def small_arrow_batches(spark):
    """16-row Arrow batches, so every scan partition holds several."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "16")
    yield
    spark.conf.set(key, old)


def _spy_merge(monkeypatch):
    """Record each ``merge_winners`` call's local row count, whether it
    took the driver route (a pandas frame) or the window route, and the
    task count of the local stream's plan."""
    calls = []
    orig = S.merge_winners

    def spy(local, nq, k, dist_col):
        out = orig(local, nq, k, dist_col)
        calls.append(
            (local.count(), isinstance(out, pd.DataFrame), S._task_count(local))
        )
        return out

    monkeypatch.setattr(S, "merge_winners", spy, raising=True)
    return calls


def test_knn_merge_route_follows_the_real_task_count(
    ties, small_arrow_batches, monkeypatch
):
    """Each scan task emits one running top-k (nq × k rows) however
    many Arrow batches its split holds, and the driver merge is taken
    exactly while tasks × nq × k stays within ``_DRIVER_MERGE_LIMIT``;
    one row more and the window rank is, with the same winners."""
    vectors, queries = ties
    tasks = vectors.select("id", "values").rdd.getNumPartitions()
    bound = tasks * 6 * 20
    want = sorted(
        tuple(r)
        for r in knn_exact(vectors, queries, 20, method="native").collect()
    )
    calls = _spy_merge(monkeypatch)
    for limit, driver in ((bound, True), (bound - 1, False)):
        monkeypatch.setattr(S, "_DRIVER_MERGE_LIMIT", limit, raising=True)
        got = sorted(tuple(r) for r in knn_exact(vectors, queries, 20).collect())
        assert got == want
        assert calls[-1] == (bound, driver, tasks)


# A duplicate-heavy corpus for the scorer contract: 30 integer base
# vectors around 4 integer centers, 8 copies each (ids shuffled), so
# every k = 6 cut falls inside a tie group. Integer coordinates keep the
# exact scorers' distances exact on both engines.
NQ, TOP, D8 = 5, 6, 8


@pytest.fixture(scope="module")
def dup(spark, tmp_path_factory):
    rng = np.random.default_rng(21)
    centers = rng.integers(-9, 10, size=(4, D8)).astype(np.float64)
    label = rng.integers(0, 4, size=30)
    base = centers[label] + rng.integers(-2, 3, size=(30, D8))
    copies = np.repeat(np.arange(30), 8)
    ids = rng.permutation(len(copies)).astype(np.int64)
    root = tmp_path_factory.mktemp("dup")
    pdf = pd.DataFrame(
        {
            "id": ids,
            "cluster_id": label[copies].astype(np.int64),
            "values": list(base[copies].astype(np.float32)),
        }
    )
    spark.createDataFrame(
        pdf, "id long, cluster_id long, values array<float>"
    ).repartition(3).write.parquet(str(root / "vec"))
    xq = base[[0, 7, 13, 21, 29]] + rng.integers(-1, 2, size=(NQ, D8))
    cents = spark.createDataFrame(
        [(i, [float(v) for v in centers[i]]) for i in range(4)],
        "centroid_id long, cvec array<double>",
    )
    return {
        "spark": spark,
        "root": root,
        "vec": spark.read.parquet(str(root / "vec")),
        "xq": xq.astype(np.float32),
        "cents": cents,
    }


def _stored(d, name, df):
    """``df`` written as a 3-file parquet table and read back: a plain
    scan of 3 tasks, several 16-row Arrow batches each."""
    path = str(d["root"] / name)
    df.repartition(3).write.mode("overwrite").parquet(path)
    return d["spark"].read.parquet(path)


def _adc_truth(qmat, qids, codes_pdf, cents, codebooks, n_probe):
    """NumPy residual-ADC top-k over each query's own probed clusters:
    ``‖(q − c) − recon‖²`` with the residual reconstructed from its
    codewords, ties by id."""
    plan = S.probe_plan(qids, qmat, cents, n_probe)
    codes = np.stack(codes_pdf["codes"].to_numpy()).astype(np.int64)
    resid = np.concatenate(
        [codebooks[j][codes[:, j]] for j in range(codebooks.shape[0])], axis=1
    )
    cl = codes_pdf["cluster_id"].to_numpy()
    ids = codes_pdf["id"].to_numpy()
    rows = []
    for qi, q in enumerate(qmat):
        keep = np.isin(cl, plan.probe_ids[qi])
        r = (q[None, :] - cents[cl[keep]]) - resid[keep]
        dist = (r * r).sum(axis=1)
        order = np.lexsort((ids[keep], dist))[:TOP]
        rows += [
            (int(qids[qi]), rank + 1, int(ids[keep][o]), float(dist[o]))
            for rank, o in enumerate(order)
        ]
    return rows


def _scorer(name, d, monkeypatch):
    """``(search, truth)`` of one arrow scorer on the duplicate-heavy
    corpus: ``search(queries, method)`` runs it, and ``truth`` holds the
    NumPy top-k rows of ``d["xq"]`` where the scorer has no native twin
    (PQ's search of the rotated queries for OPQ; None where it has
    one)."""
    from vector_indexer_spark.operators import bq, ivfbq, opq, pq, rabitq, sq

    spark, vec, cents = d["spark"], d["vec"], d["cents"]
    flat = vec.select("id", "values")
    assigned = vec.select("id", "cluster_id", "values")
    if name == "sq":
        model = sq.sq_train(flat)
        codes = _stored(d, name, sq.sq_encode(flat, model))
        return lambda q, m: sq.sq_search(codes, model, q, TOP, method=m), None
    if name == "ivfsq":
        model = sq.ivfsq_train(assigned, cents)
        codes = _stored(d, name, sq.ivfsq_encode(assigned, cents, model))
        return lambda q, m: sq.ivfsq_search(
            codes, cents, model, q, TOP, 2, method=m
        ), None
    if name in ("bq_hamming", "bq_adc"):
        model = bq.bq_train(flat)
        codes = _stored(d, name, bq.bq_encode(flat, model))
        fn = bq.bq_search if name == "bq_hamming" else bq.bq_adc_search
        return lambda q, m: fn(codes, model, q, k=TOP, method=m), None
    if name == "ivfbq":
        codes = _stored(d, name, ivfbq.ivfbq_encode(assigned, cents))
        scales = ivfbq.ivfbq_train_scales(assigned, cents)
        return lambda q, m: ivfbq.ivfbq_search(
            codes, cents, q, TOP, 2, scales=scales, method=m
        ), None
    if name == "rabitq":
        model = rabitq.rabitq_train(flat)
        codes = _stored(d, name, rabitq.rabitq_encode(flat, model))
        return lambda q, m: rabitq.rabitq_search(
            codes, model, q, k=TOP, method=m
        ), None
    if name == "ivf_rabitq":
        rot = tuple(
            tuple(float(v) for v in r) for r in rabitq.hadamard_rotation(D8, 3)
        )
        codes = _stored(d, name, rabitq.ivf_rabitq_encode(assigned, cents, rot))
        return lambda q, m: rabitq.ivf_rabitq_search(
            codes, cents, q, rot, k=TOP, n_probe=2, method=m
        ), None
    if name == "knn":
        return lambda q, m: knn_exact(flat, q, TOP, method=m), None
    qids = np.arange(NQ, dtype=np.int64)
    qmat = d["xq"].astype(np.float64)
    if name == "pq":
        model = pq.pq_train(flat, m=4, ksub=8, seed=2)
        codes = _stored(d, name, pq.pq_encode(flat, model))
        truth = _adc_truth(
            qmat, qids, codes.toPandas().assign(cluster_id=0),
            np.zeros((1, D8)), model.codebooks, 1,
        )
        return lambda q, m: pq.pq_search(codes, q, model, TOP), truth
    if name == "opq":
        model = opq.opq_train(flat, m=4, ksub=8, seed=2)
        codes = _stored(d, name, opq.opq_encode(flat, model))
        rotated = spark.createDataFrame(
            pd.DataFrame({"query_id": qids, "query": list(model.rotate(qmat))}),
            "query_id long, query array<double>",
        )
        truth = [
            tuple(r)
            for r in pq.pq_search(codes, rotated, model.pq, TOP).collect()
        ]
        return lambda q, m: opq.opq_search(codes, q, model, TOP), truth
    path = str(d["root"] / name)
    if name in ("ivfpq", "ivfopq"):
        kw = dict(nlist=4, m=4, ksub=8, seed=2, max_iters=4)
        if name == "ivfpq":
            idx = pq.build_ivfpq_index(flat, path, **kw)
            search = lambda q, m: pq.search_ivfpq(spark, idx, q, TOP, 2)
        else:
            oidx = opq.build_ivfopq_index(flat, path, **kw)
            search = lambda q, m: opq.search_ivfopq(spark, oidx, q, TOP, 2)
            idx, qmat = oidx.ivfpq, oidx.rotate(qmat)
        codes_pdf = idx.codes(spark).select("id", "cluster_id", "codes").toPandas()
        truth = _adc_truth(
            qmat, qids, codes_pdf, idx.centroids, idx.pq.codebooks, 2
        )
        return search, truth
    # masked and bulk: the flat persisted index, every cluster probed
    index = IB.build_index(flat, path, nlist=4, seed=2)
    if name == "bulk":
        monkeypatch.setattr(S, "_ARROW_MAX_QUERY_BATCH", 1, raising=True)
    return lambda q, m: S.search_index(
        spark, index, q, TOP, index.nlist, method=m
    ), None


SCORERS = [
    "sq", "ivfsq", "bq_hamming", "bq_adc", "ivfbq", "rabitq", "ivf_rabitq",
    "pq", "ivfpq", "ivfopq", "knn", "masked", "bulk", "opq",
]


@pytest.mark.parametrize("name", SCORERS)
def test_search_emits_one_top_k_per_task(
    dup, small_arrow_batches, monkeypatch, name
):
    """Every arrow scorer runs the one map-side top-k stream: each scan
    task emits ≤ nq × k winners however many Arrow batches (and
    clusters) its split holds, the driver merges them, the rows equal
    the native twin (or a NumPy truth) with ties by id, and an empty
    query batch returns the tier's empty schema."""
    spark = dup["spark"]
    search, truth = _scorer(name, dup, monkeypatch)
    want = truth if truth is not None else [
        tuple(r) for r in search(_frame(spark, dup["xq"]), "native").collect()
    ]
    calls = _spy_merge(monkeypatch)
    got = search(_frame(spark, dup["xq"]), "arrow")
    rows = sorted(tuple(r) for r in got.collect())
    want = sorted(want)
    assert len(rows) == NQ * TOP
    assert [r[:3] for r in rows] == [w[:3] for w in want]
    np.testing.assert_allclose(
        [r[3] for r in rows], [w[3] for w in want], rtol=1e-9, atol=1e-9
    )
    (n_local, driver, tasks), = calls
    assert driver and n_local <= tasks * NQ * TOP
    empty = search(_frame(spark, dup["xq"][:0]), "arrow")
    dist_col = got.columns[3]
    assert empty.count() == 0
    assert empty.dtypes == [
        ("query_id", "bigint"), ("rank", "int"), ("neighbor_id", "bigint"),
        (dist_col, "bigint" if dist_col == "hamming" else "double"),
    ]


def test_bulk_search_is_the_masked_search_merged_on_the_driver(
    built, small_arrow_batches, monkeypatch
):
    """A batch past ``_ARROW_MAX_QUERY_BATCH`` takes the per-cluster bulk
    kernel and returns the masked route's ``(D, I)`` bit for bit, with
    one running top-k per task merged on the driver."""
    vi, xb, _ = built
    xq = xb[:6] + np.float32(0.01)
    D, I = vi.search(xq, k=5, n_probe=3)
    calls = _spy_merge(monkeypatch)
    monkeypatch.setattr(S, "_ARROW_MAX_QUERY_BATCH", 2, raising=True)
    bulk = []
    orig = S._search_arrow_bulk
    monkeypatch.setattr(
        S, "_search_arrow_bulk",
        lambda *a: bulk.append(1) or orig(*a), raising=True,
    )
    Db, Ib = vi.search(xq, k=5, n_probe=3)
    assert bulk
    np.testing.assert_array_equal(Ib, I)
    np.testing.assert_array_equal(Db.view(np.int32), D.view(np.int32))
    (n_local, driver, tasks), = calls
    assert driver and n_local <= tasks * 6 * 5


def test_handle_infers_schema_once_and_lists_adds(spark, tmp_path):
    """The second ``vectors()`` open of a handle runs no job and keeps
    the inferred types; rows that ``add_vectors`` appends through the
    handle are read by the next ``vectors()`` and by a full-probe
    search."""
    rng = np.random.default_rng(9)
    xb = rng.normal(size=(200, 8)).astype(np.float32)
    path = str(tmp_path / "idx")
    api.build(xb, path, spark=spark, nlist=4, seed=9)
    idx = IB.load_index(spark, path)
    first = idx.vectors(spark)
    assert dict(first.dtypes)["shard_id"] == "int"
    assert _job_count(spark, lambda: idx.vectors(spark)) == 0
    assert idx.vectors(spark).schema == first.schema
    xa = rng.normal(size=(10, 8)).astype(np.float32) + np.float32(3.0)
    new_ids = np.arange(1000, 1010, dtype=np.int64)
    IB.add_vectors(spark, idx, _rows(spark, xa, new_ids))
    ids = {r.id for r in idx.vectors(spark).select("id").collect()}
    assert len(ids) == 210 and set(new_ids.tolist()) <= ids
    D, I = api.VectorIndex(spark, idx).search(xa, k=1, n_probe=idx.nlist)
    assert I[:, 0].tolist() == new_ids.tolist()
    assert np.allclose(D[:, 0], 0.0, atol=1e-5)


def test_add_batch_check_is_one_aggregation(spark, built):
    """The row count, the P1 count and the distinct-id count of an add
    batch are one aggregation: a group-by-id and a global aggregate,
    which adaptive execution runs as two shuffle-map jobs and a result
    job. A count, a filtered count and a distinct count ran 6."""
    vi, xb, _ = built
    batch = _rows(spark, xb[:20], np.arange(5000, 5020, dtype=np.int64))
    n_jobs = _job_count(
        spark,
        lambda: IB.validate_add_batch(
            batch, id_col="id", vec_col="values", dimension=DIM,
            existing_ids=None,
        ),
    )
    assert n_jobs <= 3, n_jobs


def test_add_batch_check_keeps_null_id_semantics(spark):
    """``distinct().count()`` counted one null id as a value: a batch
    with one null id and otherwise unique ids passes, two null ids are
    duplicates. The error messages are unchanged."""
    vec = [0.0, 1.0]

    def check(ids, dims=(2, 2)):
        df = spark.createDataFrame(
            [(i, vec[:d]) for i, d in zip(ids, dims)],
            "id long, values array<float>",
        )
        return IB.validate_add_batch(
            df, id_col="id", vec_col="values", dimension=2, existing_ids=None
        )

    assert check([1, None]) == 2
    with pytest.raises(ValueError, match="duplicate ids within the batch"):
        check([None, None])
    with pytest.raises(ValueError, match="duplicate ids within the batch"):
        check([3, 3])
    with pytest.raises(ValueError, match=r"1 records have dimension != 2"):
        check([1, 2], dims=(2, 1))
    with pytest.raises(ValueError, match="cannot add an empty DataFrame"):
        check([], dims=())
