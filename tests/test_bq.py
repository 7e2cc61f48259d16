"""Binary quantization: packing, Hamming search, refine, both paths."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from vector_indexer_spark.operators.bq import (
    BQModel,
    bq_adc_search,
    bq_encode,
    bq_search,
    bq_search_refined,
    bq_train,
)
from vector_indexer_spark.operators.knn import knn_exact


def _frames(spark, n=300, d=40, seed=0):
    rng = np.random.default_rng(seed)
    X = rng.normal(size=(n, d)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(n)],
        "id long, values array<float>",
    )
    q = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(5)],
        "query_id long, query array<float>",
    )
    return X, df, q


def _np_codes(X, thr):
    """Reference packing: big-endian 32-bit words, fold acc*2+bit."""
    n, d = X.shape
    n_words = (d + 31) // 32
    out = np.zeros((n, n_words), dtype=np.int64)
    for j in range(d):
        out[:, j // 32] = out[:, j // 32] * 2 + (X[:, j] > thr[j])
    out[:, -1] <<= n_words * 32 - d
    return out


class TestPacking:
    def test_codes_match_numpy_reference(self, spark):
        X, df, _ = _frames(spark)
        model = bq_train(df)
        got = {
            r.id: list(r.codes) for r in bq_encode(df, model).collect()
        }
        # the Spark fold runs all 32 slots of each word, appending 0
        # bits for positions past d — same as the reference's tail
        # shift, so the shifted codes must match exactly
        want = _np_codes(X.astype(np.float64), np.asarray(model.thresholds))
        for i in range(X.shape[0]):
            assert got[i] == list(want[i]), i

    def test_tail_word_padding(self, spark):
        # d=40 -> 2 words, last word has 8 real bits at the TOP
        df = spark.createDataFrame(
            [(0, [1.0] * 40)], "id long, values array<float>"
        )
        model = BQModel(thresholds=(0.0,) * 40)
        codes = bq_encode(df, model).collect()[0].codes
        assert codes[0] == 0xFFFFFFFF
        assert codes[1] == 0xFF000000

    def test_train_validates(self, spark):
        empty = spark.createDataFrame([], "id long, values array<float>")
        with pytest.raises(ValueError):
            bq_train(empty)
        ragged = spark.createDataFrame(
            [(0, [1.0, 2.0]), (1, [1.0])], "id long, values array<float>"
        )
        with pytest.raises(ValueError):
            bq_train(ragged)


class TestSearch:
    def test_self_query_rank1_hamming0(self, spark):
        _, df, q = _frames(spark)
        model = bq_train(df)
        codes = bq_encode(df, model)
        top = bq_search(codes, model, q, k=3).filter("rank = 1").collect()
        assert {(r.query_id, r.neighbor_id, r.hamming) for r in top} == {
            (i, i, 0) for i in range(5)
        }

    def test_arrow_matches_native(self, spark):
        _, df, q = _frames(spark, n=257)  # odd n: multiple arrow batches
        model = bq_train(df)
        codes = bq_encode(df, model).cache()
        a = sorted(
            map(tuple, bq_search(codes, model, q, k=7, method="native").collect())
        )
        b = sorted(
            map(tuple, bq_search(codes, model, q, k=7, method="arrow").collect())
        )
        assert a == b

    def test_k_validation(self, spark):
        _, df, q = _frames(spark, n=20)
        model = bq_train(df)
        with pytest.raises(ValueError):
            bq_search(bq_encode(df, model), model, q, k=0)

    def test_native_drops_corrupt_code_rows(self, spark):
        """A codes row of the wrong length folds to a NULL distance;
        the native rank puts it after every real row and drops it
        instead of ranking it first."""
        model = BQModel(thresholds=(0.0,) * 4)
        codes = spark.createDataFrame(
            [(1, [5 << 28]), (2, [3 << 28]), (3, [])],
            "id long, codes array<bigint>",
        )
        q = spark.createDataFrame(
            [(0, [1.0, -1.0, 1.0, -1.0])], "query_id long, query array<double>"
        )
        rows = bq_search(codes, model, q, k=3, method="native").collect()
        assert [(r["rank"], r.neighbor_id, r.hamming) for r in rows] == [
            (1, 2, 2),
            (2, 1, 4),
        ]

    @pytest.mark.parametrize("tier", ["bq_adc", "ivfbq_adc", "rabitq"])
    def test_native_element_at_folds_drop_corrupt_code_rows(self, spark, tier):
        """The ``element_at`` folds drop a codes row whose length is not
        the model's word count (an empty row and a two-word row at
        d = 4) as the ``zip_with`` folds do, instead of raising
        ``INVALID_ARRAY_INDEX_IN_ELEMENT_AT`` or scoring the first word
        of a too-long row."""
        from vector_indexer_spark.operators.ivfbq import ivfbq_search
        from vector_indexer_spark.operators.rabitq import (
            RaBitQModel,
            rabitq_search,
        )

        rows = [(1, [5 << 28]), (2, [3 << 28]), (3, []), (4, [3 << 28, 0])]
        q = spark.createDataFrame(
            [(0, [1.0, -1.0, 1.0, -1.0])], "query_id long, query array<double>"
        )
        if tier == "bq_adc":
            codes = spark.createDataFrame(rows, "id long, codes array<bigint>")
            got = bq_adc_search(
                codes, BQModel(thresholds=(0.0,) * 4), q, k=4, method="native"
            )
        elif tier == "ivfbq_adc":
            codes = spark.createDataFrame(
                [(i, 0, c) for i, c in rows],
                "id long, cluster_id long, codes array<bigint>",
            )
            cents = spark.createDataFrame(
                [(0, [0.0] * 4)], "centroid_id long, cvec array<double>"
            )
            scales = spark.createDataFrame(
                [(0, 1.0)], "cluster_id long, rho double"
            )
            got = ivfbq_search(
                codes, cents, q, k=4, n_probe=1, scales=scales,
                method="native",
            )
        else:
            codes = spark.createDataFrame(
                [(i, c, 1.0, 1.0) for i, c in rows],
                "id long, codes array<bigint>, norm double, dot_o double",
            )
            eye = tuple(
                tuple(float(i == j) for j in range(4)) for i in range(4)
            )
            model = RaBitQModel(centroid=(0.0,) * 4, rotation=eye)
            got = rabitq_search(codes, model, q, k=4, method="native")
        assert [(r["rank"], r.neighbor_id) for r in got.collect()] == [
            (1, 2),
            (2, 1),
        ]

    def test_recall_against_exact(self, spark):
        # binary codes are lossy but on gaussian data hamming@shortlist
        # must recover most true neighbors
        _, df, q = _frames(spark, n=400, d=64)
        model = bq_train(df)
        codes = bq_encode(df, model)
        short = bq_search(codes, model, q, k=40)
        exact = knn_exact(df, q, k=10)
        hits = short.select("query_id", "neighbor_id").intersect(
            exact.select("query_id", "neighbor_id")
        )
        recall = hits.count() / exact.count()
        assert recall >= 0.5, recall


class TestRefine:
    def test_full_depth_refine_equals_exact(self, spark):
        _, df, q = _frames(spark, n=120)
        model = bq_train(df)
        codes = bq_encode(df, model)
        refined = bq_search_refined(
            codes, model, df, q, k=5, shortlist=120
        )
        exact = knn_exact(df, q, k=5)
        got = sorted(
            (r.query_id, r.rank, r.neighbor_id) for r in refined.collect()
        )
        want = sorted(
            (r.query_id, r.rank, r.neighbor_id) for r in exact.collect()
        )
        assert got == want


class TestAdc:
    def test_native_matches_numpy_sequential_fold(self, spark):
        from vector_indexer_spark.operators.bq import adc_score_expr, bq_adc_search

        X, df, q = _frames(spark, n=60, d=40)
        model = bq_train(df)
        codes = bq_encode(df, model)
        got = {
            (r.query_id, r.neighbor_id): r.score
            for r in bq_adc_search(codes, model, q, k=60).collect()
        }
        thr = np.asarray(model.thresholds)
        signs = np.where(X.astype(np.float64) > thr, 1.0, -1.0)
        for (qid, nid), score in got.items():
            # replicate the flat left-fold in dim order exactly
            acc = 0.0
            for j in range(X.shape[1]):
                acc = acc + float(X[qid, j]) * signs[nid, j]
            assert score == acc, (qid, nid)

    def test_arrow_matches_native_ranking(self, spark):
        from vector_indexer_spark.operators.bq import bq_adc_search

        _, df, q = _frames(spark, n=200, d=40, seed=3)
        model = bq_train(df)
        codes = bq_encode(df, model)
        nat = bq_adc_search(codes, model, q, k=10).collect()
        arr = bq_adc_search(codes, model, q, k=10, method="arrow").collect()
        nkey = {(r.query_id, r.rank): r.neighbor_id for r in nat}
        akey = {(r.query_id, r.rank): r.neighbor_id for r in arr}
        assert nkey == akey
        nsc = {(r.query_id, r.rank): r.score for r in nat}
        for r in arr:
            assert abs(nsc[(r.query_id, r.rank)] - r.score) < 1e-9

    def test_adc_recall_geq_hamming(self, spark):
        # graded ±q_j contributions carry more ranking information than
        # equal-weight bit flips: on a random-normal corpus the ADC
        # shortlist recalls at least as many true top-10 neighbors
        _, df, q = _frames(spark, n=400, d=40, seed=5)
        model = bq_train(df)
        codes = bq_encode(df, model)
        from vector_indexer_spark.operators.bq import bq_adc_search

        vec = df
        truth = {
            (r.query_id, r.neighbor_id)
            for r in knn_exact(vec, q, k=10).collect()
        }
        ham = {
            (r.query_id, r.neighbor_id)
            for r in bq_search(codes, model, q, k=10).collect()
        }
        adc = {
            (r.query_id, r.neighbor_id)
            for r in bq_adc_search(codes, model, q, k=10).collect()
        }
        assert len(adc & truth) >= len(ham & truth)
        # and both self-retrieve: a query's own row is its top hit
        top1 = {
            r.query_id: r.neighbor_id
            for r in bq_adc_search(codes, model, q, k=1).collect()
        }
        assert all(top1[i] == i for i in top1)

    def test_full_depth_adc_refine_equals_exact(self, spark):
        from vector_indexer_spark.operators.bq import bq_adc_refined

        _, df, q = _frames(spark, n=120, d=40, seed=7)
        model = bq_train(df)
        codes = bq_encode(df, model)
        ref = bq_adc_refined(codes, model, df, q, k=5, shortlist=120).collect()
        exact = knn_exact(df, q, k=5).collect()
        assert {(r.query_id, r.rank, r.neighbor_id) for r in ref} == {
            (r.query_id, r.rank, r.neighbor_id) for r in exact
        }

    def test_k_validation(self, spark):
        from vector_indexer_spark.operators.bq import bq_adc_search

        _, df, q = _frames(spark, n=20, d=40)
        model = BQModel(thresholds=(0.0,) * 40)
        codes = bq_encode(df, model)
        with pytest.raises(ValueError):
            bq_adc_search(codes, model, q, k=0)
        with pytest.raises(ValueError):
            bq_adc_search(codes, model, q, k=5, method="nope")
