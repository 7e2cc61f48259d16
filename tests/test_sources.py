"""File sources: xvecs/npy loaders + seeded synthetic generation."""

from __future__ import annotations

import os
import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from vector_indexer_spark.sources.files import (
    generate_vectors,
    read_fvecs,
    read_ivecs,
    read_npy,
    vectors_from_numpy,
)


def _write_fvecs(path, mat):
    with open(path, "wb") as f:
        for row in mat:
            f.write(struct.pack("<i", len(row)))
            f.write(np.asarray(row, dtype=np.float32).tobytes())


def test_fvecs_roundtrip(tmp_path):
    mat = np.random.default_rng(0).normal(size=(10, 6)).astype(np.float32)
    p = str(tmp_path / "x.fvecs")
    _write_fvecs(p, mat)
    got = read_fvecs(p)
    np.testing.assert_array_equal(got, mat)
    np.testing.assert_array_equal(read_fvecs(p, max_rows=4), mat[:4])


def test_ivecs_roundtrip(tmp_path):
    mat = np.arange(12, dtype=np.int32).reshape(3, 4)
    p = str(tmp_path / "x.ivecs")
    with open(p, "wb") as f:
        for row in mat:
            f.write(struct.pack("<i", 4))
            f.write(row.tobytes())
    np.testing.assert_array_equal(read_ivecs(p), mat)


def test_fvecs_truncated_raises(tmp_path):
    p = str(tmp_path / "bad.fvecs")
    with open(p, "wb") as f:
        f.write(b"\x06\x00\x00\x00\x00\x00")  # dim=6 then garbage
    with pytest.raises(ValueError):
        read_fvecs(p)


def test_npy_loader(tmp_path):
    mat = np.random.default_rng(1).normal(size=(8, 5)).astype(np.float32)
    p = str(tmp_path / "m.npy")
    np.save(p, mat)
    np.testing.assert_array_equal(read_npy(p), mat)
    np.testing.assert_array_equal(read_npy(p, max_rows=3), mat[:3])


def test_generate_vectors_deterministic(spark):
    a = generate_vectors(spark, 100, 8, seed=5, partitions=4).collect()
    b = generate_vectors(spark, 100, 8, seed=5, partitions=4).collect()
    assert len(a) == 100
    am = {r.id: r.values for r in a}
    bm = {r.id: r.values for r in b}
    assert am == bm
    vals = np.array([am[i] for i in range(100)])
    assert vals.min() >= -1.0 and vals.max() <= 1.0
    assert len(np.unique(vals.round(6))) > 700  # actually random


def test_generate_vectors_validates(spark):
    with pytest.raises(ValueError):
        generate_vectors(spark, 0, 8)


def test_vectors_from_numpy(spark):
    mat = np.random.default_rng(2).normal(size=(6, 4)).astype(np.float32)
    df = vectors_from_numpy(spark, mat)
    rows = {r.id: r.values for r in df.collect()}
    assert len(rows) == 6
    np.testing.assert_allclose(rows[3], mat[3], rtol=1e-6)


def test_fvecs_end_to_end_build_and_search(spark, tmp_path):
    # S12 end-to-end: .fvecs file -> index build -> search. Clustered
    # data so self-top-1 is unambiguous.
    from vector_indexer_spark.api import build

    rng = np.random.default_rng(7)
    centers = rng.normal(size=(8, 12)) * 30.0
    mat = (
        centers[np.arange(400) % 8]
        + rng.normal(size=(400, 12), scale=0.05)
    ).astype(np.float32)
    p = str(tmp_path / "base.fvecs")
    _write_fvecs(p, mat)

    loaded = read_fvecs(p)
    np.testing.assert_array_equal(loaded, mat)
    idx = build(loaded, str(tmp_path / "idx"), spark=spark, seed=3)
    D, I = idx.search(loaded[:20], k=1, n_probe=idx.nlist)
    assert (I[:, 0] == np.arange(20)).all()  # self is its own top-1
    assert np.allclose(D[:, 0], 0.0, atol=1e-5)


def test_fvecs_ivecs_sift_shape_recall(spark, tmp_path):
    """The reference's SIFT1M evaluation shape end-to-end
    (bench_all_ivf.py:88-156): base .fvecs + query .fvecs + ground
    truth .ivecs files on disk -> build an index from the base file ->
    search the queries -> recall@k against the .ivecs ground truth.
    Full-probe search must recover the true neighbors exactly; a
    pruned probe must still clear the 0.6 recall floor on clustered
    data."""
    from vector_indexer_spark.api import build

    rng = np.random.default_rng(13)
    centers = rng.normal(size=(16, 10)) * 25.0
    base = (
        centers[np.arange(600) % 16]
        + rng.normal(size=(600, 10), scale=0.2)
    ).astype(np.float32)
    queries = (
        centers[np.arange(40) % 16]
        + rng.normal(size=(40, 10), scale=0.2)
    ).astype(np.float32)

    # exact ground truth, (dist, id)-tie-broken like the engine
    d2 = (
        (queries[:, None, :].astype(np.float64)
         - base[None, :, :].astype(np.float64)) ** 2
    ).sum(axis=-1)
    k = 5
    gt = np.lexsort((np.arange(600)[None, :].repeat(40, 0), d2), axis=1)[
        :, :k
    ].astype(np.int32)

    bp = str(tmp_path / "base.fvecs")
    qp = str(tmp_path / "query.fvecs")
    gp = str(tmp_path / "gt.ivecs")
    _write_fvecs(bp, base)
    _write_fvecs(qp, queries)
    with open(gp, "wb") as f:
        for row in gt:
            f.write(struct.pack("<i", k))
            f.write(row.tobytes())

    xb = read_fvecs(bp)
    xq = read_fvecs(qp)
    gt_read = read_ivecs(gp)
    np.testing.assert_array_equal(gt_read, gt)

    idx = build(xb, str(tmp_path / "sift_idx"), spark=spark, seed=9)
    D, I = idx.search(xq, k=k, n_probe=idx.nlist)  # full probe = exact
    recall_full = np.mean(
        [len(set(I[q]) & set(gt_read[q])) / k for q in range(len(xq))]
    )
    assert recall_full == 1.0
    np.testing.assert_array_equal(I, gt_read.astype(I.dtype))

    D2, I2 = idx.search(xq, k=k, n_probe=max(1, idx.nlist // 4))
    recall_pruned = np.mean(
        [len(set(I2[q]) & set(gt_read[q])) / k for q in range(len(xq))]
    )
    assert recall_pruned >= 0.6  # BASELINE.md recall floor


class TestTrainingShards:
    def test_roundtrip_layout_and_manifest(self, spark, tmp_path):
        from vector_indexer_spark.sinks import (
            read_training_shards,
            write_training_shards,
        )

        df = spark.createDataFrame(
            [(i, f"doc {i}", i % 7) for i in range(200)],
            "doc_id long, text string, bin_id long",
        )
        path = str(tmp_path / "shards")
        m = write_training_shards(
            df, path, n_shards=4, sort_cols=("bin_id",)
        )
        assert m["rows"] == 200 and m["n_shards"] == 4
        assert sum(m["shard_rows"].values()) == 200
        back = read_training_shards(spark, path)
        assert back.count() == 200
        assert {r.doc_id for r in back.select("doc_id").collect()} == set(
            range(200)
        )
        # selective read prunes to the requested partition dirs
        one = read_training_shards(spark, path, shards=[0])
        assert one.count() == m["shard_rows"]["0"]
        from vector_indexer_spark.plans import audit

        assert any(
            "shard" in f for f in audit.plan_summary(one)["partition_filters"]
        )

    def test_routing_deterministic_and_spread(self, spark, tmp_path):
        from vector_indexer_spark.sinks import (
            read_training_shards,
            write_training_shards,
        )

        df = spark.createDataFrame(
            [(i, "x") for i in range(500)], "doc_id long, text string"
        )
        p1, p2 = str(tmp_path / "a"), str(tmp_path / "b")
        m1 = write_training_shards(df.repartition(3), p1, n_shards=8)
        m2 = write_training_shards(df.repartition(17), p2, n_shards=8)
        assert m1["shard_rows"] == m2["shard_rows"]
        a = {
            (r.doc_id, r.shard)
            for r in read_training_shards(spark, p1).collect()
        }
        b = {
            (r.doc_id, r.shard)
            for r in read_training_shards(spark, p2).collect()
        }
        assert a == b
        # all shards populated, none grossly fat
        assert set(m1["shard_rows"].values()) and min(
            m1["shard_rows"].values()
        ) > 0

    def test_manifest_write_crash_keeps_previous_manifest(
        self, spark, tmp_path, monkeypatch
    ):
        """A rewrite whose manifest write fails midway leaves the
        previous complete manifest: the shard set still loads."""
        import json
        import shutil

        from vector_indexer_spark.sinks import (
            read_training_shards,
            write_training_shards,
        )

        df = spark.createDataFrame(
            [(i, f"doc {i}") for i in range(20)], "doc_id long, text string"
        )
        path = str(tmp_path / "shards")
        first = write_training_shards(df, path, n_shards=2)
        orig = json.dump

        def crash(obj, fp, *args, **kwargs):
            if "manifest" in getattr(fp, "name", ""):
                fp.write("{")  # a partial write, then the crash
                raise OSError("disk full")
            return orig(obj, fp, *args, **kwargs)

        shutil.rmtree(os.path.join(path, "data"))
        monkeypatch.setattr(json, "dump", crash)
        with pytest.raises(OSError, match="disk full"):
            write_training_shards(df, path, n_shards=2)
        monkeypatch.setattr(json, "dump", orig)
        assert read_training_shards(spark, path).count() == first["rows"]

    def test_errors(self, spark, tmp_path):
        from vector_indexer_spark.sinks import (
            read_training_shards,
            shard_expr,
            write_training_shards,
        )

        with pytest.raises(ValueError):
            shard_expr("doc_id", 0)
        with pytest.raises(FileNotFoundError):
            read_training_shards(spark, str(tmp_path / "nope"))
        df = spark.createDataFrame([(0, "t")], "doc_id long, text string")
        path = str(tmp_path / "dup")
        write_training_shards(df, path, n_shards=1)
        with pytest.raises(Exception):  # errorifexists write mode
            write_training_shards(df, path, n_shards=1)


def test_read_documents_jsonl_corrupt_handling(spark, tmp_path):
    from vector_indexer_spark.sources.files import read_documents_jsonl

    p = tmp_path / "docs.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "alpha", "lang": "en", "source": "a", "n_chars": 5}\n'
        "this line is not json\n"
        '{"doc_id": 2, "text": "beta", "lang": "de", "source": "b", "n_chars": 4}\n'
    )
    clean = read_documents_jsonl(spark, str(p))
    # the most basic use — an immediate count() with no other column
    # referenced — must not trip QUERY_ONLY_CORRUPT_RECORD_COLUMN
    assert clean.count() == 2
    rows = {r.doc_id: r.text for r in clean.collect()}
    assert rows == {1: "alpha", 2: "beta"}
    assert "_corrupt_record" not in clean.columns

    audited = read_documents_jsonl(spark, str(p), keep_corrupt=True).cache()
    try:
        corrupt = audited.filter(F.col("_corrupt_record").isNotNull())
        assert corrupt.count() == 1
        assert "not json" in corrupt.collect()[0]._corrupt_record
    finally:
        audited.unpersist()


class TestShardIntegrity:
    def test_verify_clean_and_detect_corruption(self, spark, tmp_path):
        import glob
        import os

        from vector_indexer_spark.sinks import (
            verify_training_shards,
            write_training_shards,
        )

        df = spark.createDataFrame(
            [(i, f"doc {i}") for i in range(300)],
            "doc_id long, text string",
        )
        path = str(tmp_path / "shards")
        m = write_training_shards(df, path, n_shards=4)
        assert m["content_cols"] == ["doc_id", "text"]
        assert verify_training_shards(spark, path)["ok"]

        # corrupt one shard: drop a parquet file entirely
        victim = sorted(
            glob.glob(f"{path}/data/shard=*/*.parquet")
        )[0]
        shard = int(victim.split("shard=")[1].split("/")[0])
        os.remove(victim)
        res = verify_training_shards(spark, path)
        assert not res["ok"] and shard in res["mismatched_shards"]

    def test_content_digest_partition_invariant(self, spark, tmp_path):
        from vector_indexer_spark.sinks import write_training_shards

        df = spark.createDataFrame(
            [(i, f"t{i}") for i in range(400)], "doc_id long, text string"
        )
        m1 = write_training_shards(
            df.repartition(2), str(tmp_path / "x"), n_shards=8
        )
        m2 = write_training_shards(
            df.repartition(23), str(tmp_path / "y"), n_shards=8
        )
        # order-independent digests: identical regardless of layout
        assert m1["shard_content_sums"] == m2["shard_content_sums"]


def test_sql_interface_views(spark):
    from vector_indexer_spark.sql import register_corpus_views, sql

    register_corpus_views(
        spark, "/root/testdata/sf0.001", tables=("nation", "region")
    )
    out = sql(
        spark,
        "SELECT r.r_name, count(*) AS n FROM nation n "
        "JOIN region r ON r.r_regionkey = n.n_regionkey GROUP BY 1",
    )
    rows = {r.r_name: r.n for r in out.collect()}
    assert sum(rows.values()) == 25 and len(rows) == 5


def test_content_hash_encodes_nulls_distinctly(spark):
    """(NULL, 'x') and ('x', NULL) must hash differently — concat_ws
    alone would skip the NULL and make a null-shift corruption
    invisible to verify_training_shards."""
    from vector_indexer_spark.sinks import content_hash_expr

    df = spark.createDataFrame(
        [(None, "x"), ("x", None), ("", "x"), (None, None)],
        "a string, b string",
    )
    hashes = [
        r.h
        for r in df.select(content_hash_expr(("a", "b")).alias("h")).collect()
    ]
    assert len(set(hashes)) == 4


def test_documents_jsonl_roundtrip_gzip(spark, documents, tmp_path):
    from vector_indexer_spark.sources.files import (
        read_documents_jsonl,
        write_documents_jsonl,
    )

    path = str(tmp_path / "docs_jsonl")
    write_documents_jsonl(documents, path, partitions=3)
    import glob

    assert glob.glob(f"{path}/*.json.gz"), "expected gzip part files"
    back = read_documents_jsonl(spark, path)
    a = {r.doc_id: r for r in documents.collect()}
    b = {r.doc_id: r for r in back.collect()}
    assert set(a) == set(b)
    for k in a:
        assert (a[k].text, a[k].lang, a[k].source, a[k].n_chars) == (
            b[k].text, b[k].lang, b[k].source, b[k].n_chars
        )


def test_csv_source_schema_and_malformed(spark, tmp_path):
    from vector_indexer_spark.sources.files import read_documents_csv

    p = str(tmp_path / "docs.csv")
    with open(p, "w") as f:
        f.write("doc_id,text,lang,source\n")
        f.write('0,"hello, world",en,src0\n')
        f.write('1,"quoted ""x"" text",de,src1\n')
        f.write("not_a_number,oops,xx,src2\n")  # malformed doc_id
    clean = read_documents_csv(spark, p)
    rows = {r["doc_id"]: r for r in clean.collect()}
    assert set(rows) == {0, 1}
    assert rows[0]["text"] == "hello, world"  # embedded comma survives
    assert rows[1]["text"] == 'quoted "x" text'  # escaped quotes

    audit = read_documents_csv(spark, p, keep_corrupt=True)
    bad = audit.filter(F.col("_corrupt_record").isNotNull())
    assert bad.count() == 1


def test_orc_roundtrip_identical(spark, tmp_path):
    # format coverage: the engine's tables round-trip through ORC
    # byte-identically (Avro needs the external spark-avro package —
    # not bundled; documented, not silently skipped)
    src = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    p = str(tmp_path / "docs_orc")
    src.write.orc(p)
    back = spark.read.orc(p)
    assert back.schema == src.schema
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, src.collect())
    )
