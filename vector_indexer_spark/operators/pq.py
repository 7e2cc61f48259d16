"""Product quantization (PQ) — compressed vectors + ADC search.

A beyond-the-reference scale extension (the reference is IVF-*flat*:
raw f32 vectors in every posting list, src/shards.rs:130-148). At
100 TB of embeddings the raw vectors themselves are the bottleneck —
PQ (Jégou, Douze, Schmid, "Product Quantization for Nearest Neighbor
Search", TPAMI 2011; the public Faiss ``IndexIVFPQ`` family the
reference's own bench harness evaluates, bench/faiss_bench_official/
bench_all_ivf.py:171-214 ``parse_index``/"IVF…,PQ…" keys) compresses
each d-dim float32 vector to ``m`` one-byte codes: the vector is split
into ``m`` subspaces of ``d/m`` dims, each subspace quantized against
its own ``ksub``-codeword codebook. d=128 float32 (512 B) → m=16 codes
(16 B): a 32× smaller scan, small enough to cache the whole corpus.

Search is **asymmetric distance computation (ADC)**: the query stays
uncompressed; per query a (m × ksub) lookup table of subspace distances
is built once, and each candidate's distance is ``Σ_j LUT[j, code_j]``
— m table lookups instead of d multiply-adds, over a 32× smaller table.

Spark shape (all DataFrame-native):

- **train** — driver-side per-subspace k-means on a seeded sample
  (same pattern as the IVF coarse quantizer: the codebooks are tiny,
  m·ksub·dsub doubles, and sampling ≤100k rows is how Faiss trains PQ
  too). Distributed encode/search; only training samples.
- **encode** — ``mapInPandas`` argmin per subspace against broadcast
  codebooks → ``(id, codes ARRAY<INT>)``. One scan, no shuffle.
- **search** — broadcast per-query LUTs; one running ADC top-k per
  task (the map-side stream every arrow scorer shares,
  ``search.stream_topk``) → one merge of ``≤ tasks × nq × k`` rows,
  on the driver while that is driver-sized. The 100 TB scan
  reads ONLY the codes column (Parquet column pruning) — the raw
  vector table is never touched at query time.

Exact-vs-approx contract: ADC distance equals the squared L2 distance
between the query and the *reconstruction* (concatenated codewords) of
the candidate — ``Σ_j ||q_j − cb_j[code_j]||² = ||q − recon(x)||²``.
The correctness oracle exploits this: the fixed-codebook oracle query
reconstructs in SQL and reuses the bit-reproducible ``dist2`` fold.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vector_indexer_spark.ioutil import atomic_write_json
from vector_indexer_spark.functions.kernels import stack_arrays, topk_per_row
from vector_indexer_spark.operators.index_build import (
    IvfHandle,
    append_rows,
    attach_shards,
    check_build_input,
    coarse_stage,
    driver_frame,
    handle_meta,
    load_layout,
    read_meta,
    write_centroids,
    write_meta,
    write_sharded,
)
from vector_indexer_spark.operators.kmeans import (
    KMEANS_INIT_SAMPLE_CAP,
    _collect_sample,
    kmeans_numpy,
)
from vector_indexer_spark.operators.search import (
    ALL_QUERIES,
    probed_clusters,
    rank_winners,
    search_persisted,
    stream_queries,
    stream_topk,
)

PQ_FORMAT_VERSION = 1


@dataclass
class PQModel:
    """Trained product quantizer: ``m`` codebooks of ``ksub`` codewords."""

    codebooks: np.ndarray  # (m, ksub, dsub) float64

    @property
    def m(self) -> int:
        return self.codebooks.shape[0]

    @property
    def ksub(self) -> int:
        return self.codebooks.shape[1]

    @property
    def dsub(self) -> int:
        return self.codebooks.shape[2]

    @property
    def dimension(self) -> int:
        return self.m * self.dsub

    # -- persistence: a tall codeword table + JSON sidecar, the same
    # layout discipline as the IVF index (centroid parquet + meta.json)
    def save(self, spark: SparkSession, path: str) -> None:
        m, ksub, dsub = self.codebooks.shape
        cols = {
            "subspace": np.repeat(np.arange(m, dtype=np.int32), ksub),
            "code": np.tile(np.arange(ksub, dtype=np.int32), m),
            "codeword": list(self.codebooks.reshape(m * ksub, dsub)),
        }
        schema = "subspace INT, code INT, codeword ARRAY<DOUBLE>"
        driver_frame(spark, cols, schema).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(path, "codebooks")
        )
        meta = {
            "version": PQ_FORMAT_VERSION,
            "m": self.m,
            "ksub": self.ksub,
            "dsub": self.dsub,
        }
        os.makedirs(path, exist_ok=True)
        atomic_write_json(os.path.join(path, "pq_meta.json"), meta)

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "PQModel":
        meta_path = os.path.join(path, "pq_meta.json")
        if not os.path.exists(meta_path):
            raise FileNotFoundError(f"no PQ model at {path}")
        with open(meta_path) as f:
            meta = json.load(f)
        if meta.get("version") != PQ_FORMAT_VERSION:
            raise ValueError(
                f"unsupported PQ model version {meta.get('version')!r}"
            )
        rows = (
            spark.read.parquet(os.path.join(path, "codebooks"))
            .orderBy("subspace", "code")
            .collect()
        )
        cb = np.zeros((meta["m"], meta["ksub"], meta["dsub"]), dtype=np.float64)
        for r in rows:
            cb[r.subspace, r.code] = np.asarray(r.codeword, dtype=np.float64)
        return cls(codebooks=cb)


def pq_train(
    df: DataFrame,
    *,
    vec_col: str = "values",
    m: int = 8,
    ksub: int = 256,
    seed: int = 42,
    sample_cap: int = KMEANS_INIT_SAMPLE_CAP,
    max_iters: int = 25,
) -> PQModel:
    """Train per-subspace codebooks on a seeded driver sample.

    The sample bound is the same contract as IVF coarse training
    (kmeans._collect_sample): PQ codebooks are statistics of the value
    distribution, not of every row — Faiss defaults to ≤ 256·ksub
    training points per subspace for the same reason.
    """
    if m <= 0 or ksub <= 0:
        raise ValueError("m and ksub must be positive")
    if ksub > 2**16:
        raise ValueError("ksub above 65536 is not supported")
    sample, _ = _collect_sample(df, vec_col, sample_cap, seed)
    d = sample.shape[1]
    if d % m != 0:
        raise ValueError(f"dimension {d} not divisible by m={m}")
    dsub = d // m
    cb = np.zeros((m, ksub, dsub), dtype=np.float64)
    for j in range(m):
        sub = sample[:, j * dsub : (j + 1) * dsub]
        # derived per-subspace seed, same discipline as config.derive_seeds
        cb[j] = kmeans_numpy(sub, ksub, max_iters=max_iters, seed=seed * 31 + j)
    return PQModel(codebooks=cb)


def _encode_batch(x: np.ndarray, codebooks: np.ndarray) -> np.ndarray:
    """(n, d) float64 → (n, m) int32 codes; argmin per subspace.

    Expanded-form distances per subspace: O(n·ksub) scratch per
    subspace, never the (n, ksub, dsub) broadcast cube. Ties break to
    the lowest code (np.argmin first-wins), matching the relational
    ``ORDER BY dist2, code`` the oracle uses.
    """
    m, ksub, dsub = codebooks.shape
    n = x.shape[0]
    codes = np.empty((n, m), dtype=np.int32)
    for j in range(m):
        sub = x[:, j * dsub : (j + 1) * dsub]
        cbj = codebooks[j]
        d2 = (
            np.einsum("ij,ij->i", sub, sub)[:, None]
            - 2.0 * (sub @ cbj.T)
            + np.einsum("ij,ij->i", cbj, cbj)[None, :]
        )
        codes[:, j] = np.argmin(d2, axis=1)
    return codes


def _luts(qmat: np.ndarray, codebooks: np.ndarray) -> np.ndarray:
    """ADC lookup tables ``LUT[q, j, c] = ||q_j − cb_j[c]||²`` — one
    expanded-form block per subspace, (nq, ksub) scratch each."""
    m, ksub, dsub = codebooks.shape
    lut = np.empty((qmat.shape[0], m, ksub), dtype=np.float64)
    for j in range(m):
        qj = qmat[:, j * dsub : (j + 1) * dsub]
        cbj = codebooks[j]
        lut[:, j, :] = (
            np.einsum("ij,ij->i", qj, qj)[:, None]
            - 2.0 * (qj @ cbj.T)
            + np.einsum("ij,ij->i", cbj, cbj)[None, :]
        )
    np.maximum(lut, 0.0, out=lut)
    return lut


def _int_codes(codes) -> np.ndarray:
    """A ``codes`` column → (n, m) int64 matrix."""
    return np.asarray([np.asarray(c, dtype=np.int64) for c in codes])


def _adc(lut: np.ndarray, codes: np.ndarray) -> np.ndarray:
    """(nq, n) ADC distances ``Σ_j lut[q, j, codes[i, j]]``: the
    gather of one (nq, n) block per subspace, summed in order."""
    d2 = lut[:, 0, codes[:, 0]]
    for j in range(1, lut.shape[1]):
        d2 = d2 + lut[:, j, codes[:, j]]
    return d2


def pq_encode(
    df: DataFrame,
    model: PQModel,
    *,
    id_col: str = "id",
    vec_col: str = "values",
) -> DataFrame:
    """Encode every vector to its ``m`` codes → ``(id, codes)``.

    One pass over the data, zero shuffle; the output is the compressed
    corpus a 100 TB deployment persists (and scans at query time)
    instead of the raw vectors.
    """
    spark = df.sparkSession
    d = model.dimension
    bcb = spark.sparkContext.broadcast(model.codebooks)

    def _encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cb = bcb.value
        for pdf in batches:
            if pdf.empty:
                continue
            x = stack_arrays(pdf[vec_col])
            if x.shape[1] != d:
                raise ValueError(
                    f"vector dimension {x.shape[1]} != PQ dimension {d}"
                )
            codes = _encode_batch(x, cb)
            yield pd.DataFrame(
                {"id": pdf[id_col].to_numpy(), "codes": list(codes)}
            )

    return df.select(id_col, vec_col).mapInPandas(
        _encode, "id long, codes array<int>"
    )


def pq_reconstruct(codes: np.ndarray, model: PQModel) -> np.ndarray:
    """(n, m) codes → (n, d) reconstructed vectors (test/diagnostic)."""
    m, _, dsub = model.codebooks.shape
    out = np.empty((codes.shape[0], m * dsub), dtype=np.float64)
    for j in range(m):
        out[:, j * dsub : (j + 1) * dsub] = model.codebooks[j][codes[:, j]]
    return out


def refine_topk(
    shortlist: DataFrame,
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    *,
    id_col: str = "id",
    vec_col: str = "values",
    query_id_col: str = "query_id",
    query_col: str = "query",
) -> DataFrame:
    """Exact re-rank of an approximate candidate shortlist — the public
    Faiss ``IndexRefineFlat`` pattern (the reference bench harness's
    "RFlat" suffix keys, bench/faiss_bench_official/bench_all_ivf.py:
    parse_index refine handling): an ANN stage (PQ/SQ/IVF-PQ/LSH)
    produces ``(query_id, neighbor_id)`` candidates, and this stage
    rescores ONLY those against the raw vectors with the
    bit-reproducible fold, returning the exact-distance top-k.

    Returns ``(query_id, rank, neighbor_id, dist2)``, rank ascending by
    ``(dist2, neighbor_id)``.

    Plan shape for 100 TB: the shortlist is tiny (nq × refine depth) —
    it is BROADCAST against the raw vector table, so the big side never
    shuffles; the scan reads only (id, vector) columns and, when the
    table is sorted/bucketed by id, parquet row-group stats skip
    everything outside the candidate set. The rescored rows are
    nq × depth, driver-scale, ranked by one window.
    """
    if k <= 0:
        raise ValueError("k must be positive")
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(query_col).alias("__q")
    )
    cand = shortlist.select("query_id", "neighbor_id")
    v = vectors.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__v")
    )
    from vector_indexer_spark.functions.distance import (  # noqa: PLC0415
        dist2_expr,
    )

    scored = (
        v.join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            dist2_expr("__q", "__v").alias("dist2"),
        )
    )
    return rank_winners(scored, k, "dist2")


def pq_search_refined(
    codes_df: DataFrame,
    queries: DataFrame,
    model: PQModel,
    k: int,
    vectors: DataFrame,
    *,
    refine_factor: int = 4,
    id_col: str = "id",
    codes_col: str = "codes",
    vec_col: str = "values",
    query_id_col: str = "query_id",
    query_col: str = "query",
) -> DataFrame:
    """PQ ADC shortlist of ``refine_factor·k`` candidates, exact-refined
    to top-k. Two scans: the compressed codes table (full, tiny) and a
    candidate-pruned read of the raw vectors — the standard way to get
    exact-quality top-k without ever scanning raw vectors fully."""
    if refine_factor < 1:
        raise ValueError("refine_factor must be >= 1")
    shortlist = pq_search(
        codes_df,
        queries,
        model,
        k=refine_factor * k,
        id_col=id_col,
        codes_col=codes_col,
        query_id_col=query_id_col,
        query_col=query_col,
    )
    return refine_topk(
        shortlist,
        vectors,
        queries,
        k,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
        query_col=query_col,
    )


def pq_search(
    codes_df: DataFrame,
    queries: DataFrame,
    model: PQModel,
    k: int,
    *,
    id_col: str = "id",
    codes_col: str = "codes",
    query_id_col: str = "query_id",
    query_col: str = "query",
) -> DataFrame:
    """ADC top-k per query over the compressed corpus.

    Returns ``(query_id, rank, neighbor_id, adc_dist2)`` — rank 1-based
    ascending by ``(adc_dist2, neighbor_id)``, the engine-wide tie rule.
    ``adc_dist2`` is exact squared L2 to the candidate's reconstruction
    (the PQ approximation of its true distance).

    Plan shape: the query batch is collected (bounded-batch contract,
    same as ``knn_exact``'s arrow path), per-query LUTs are broadcast
    (nq·m·ksub doubles — 256 queries × 16 × 256 ≈ 8 MB), each task
    emits one running top-k, and ``search.merge_winners`` ranks the
    ``≤ tasks × nq × k`` survivors. The big side never shuffles.
    """
    if k <= 0:
        raise ValueError("k must be positive")

    return stream_queries(
        codes_df.select(id_col, codes_col), queries, model.dimension, k,
        "adc_dist2", _adc_blocks(k, id_col, codes_col),
        lambda qmat: _luts(qmat, model.codebooks), query_id_col, query_col,
    )


def _adc_blocks(k: int, id_col: str = "id", codes_col: str = "codes"):
    """The flat ADC scorer's block function for ``search.stream_topk``:
    each Arrow batch's codes gathered against the broadcast per-query
    LUTs (its state), every query scored, cut to a per-query top-k."""

    def blocks(pdf, lut):
        d2 = _adc(lut, _int_codes(pdf[codes_col]))
        yield ALL_QUERIES, *topk_per_row(d2, k, ids=pdf[id_col].to_numpy())

    return blocks


# ---------------------------------------------------------------------------
# IVF-PQ: coarse cluster pruning + residual PQ codes — the 100 TB layout
# ---------------------------------------------------------------------------


@dataclass
class IvfPqIndex(IvfHandle):
    """Persisted IVF-PQ index: centroid table + per-vector codes
    partitioned by shard (NO raw vectors — the corpus on disk is m
    bytes-ish per vector plus ids). Classic residual encoding (Jégou
    et al. 2011 §IV; Faiss ``IndexIVFPQ``): each vector is stored as
    its coarse cluster plus PQ codes of the residual ``x − c``."""

    pq: PQModel


IVFPQ_FORMAT_VERSION = 1
_META = "ivfpq_meta.json"


def _encode_residuals(
    assigned: DataFrame, centroids: np.ndarray, codebooks: np.ndarray
) -> DataFrame:
    """``(id, __vec, cluster_id)`` → ``(id, codes, cluster_id)``: the
    residual ``x − c`` of each row against its own coarse centroid,
    PQ-encoded per Arrow batch against broadcast codebooks — the
    encoder of both the build and :func:`add_vectors_ivfpq`."""
    bstate = assigned.sparkSession.sparkContext.broadcast(
        (centroids, codebooks)
    )

    def _encode_res(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cents_, cb_ = bstate.value
        for pdf in batches:
            if pdf.empty:
                continue
            x = stack_arrays(pdf["__vec"])
            cl = pdf["cluster_id"].to_numpy()
            yield pd.DataFrame(
                {
                    "id": pdf["id"].to_numpy(),
                    "codes": list(_encode_batch(x - cents_[cl], cb_)),
                    "cluster_id": cl,
                }
            )

    return assigned.select("id", "__vec", "cluster_id").mapInPandas(
        _encode_res, "id long, codes array<int>, cluster_id long"
    )


def build_ivfpq_index(
    df: DataFrame,
    path: str,
    *,
    id_col: str = "id",
    vec_col: str = "values",
    nlist: int | None = None,
    m: int = 8,
    ksub: int = 256,
    seed: int = 42,
    mode: str = "full",
    max_iters: int | None = None,
) -> IvfPqIndex:
    """Train coarse + PQ quantizers and persist the compressed index.

    Pipeline (each phase streams; nothing driver-sized except the
    quantizers themselves):

    1. coarse k-means (reuses the IVF trainer incl. hierarchical
       assignment above k=100),
    2. distributed cluster assignment, dense renumber + sharding
       (same layout contract as the flat index),
    3. PQ codebooks trained on a seeded sample of *residuals*
       ``x − c(x)`` (driver NumPy, bounded sample — same contract as
       coarse training),
    4. one distributed encode pass: residual → m codes per vector,
       written ``partitionBy(shard_id)`` sorted by cluster — Hive
       pruning + row-group stats exactly like the flat index, but the
       table is ~m bytes per vector instead of 4d.
    """
    from vector_indexer_spark.functions.kernels import assign_nearest

    n, dimension = check_build_input(df, vec_col, None)
    if dimension % m != 0:
        raise ValueError(f"dimension {dimension} not divisible by m={m}")
    assigned, dense, base = coarse_stage(
        df, path, n, dimension, vec_col=vec_col, nlist=nlist, seed=seed,
        mode=mode, max_iters=max_iters,
    )
    centroids = base.centroids

    # 3. PQ on residual sample (seed offset keeps the PQ sample draw
    # independent of the coarse-training draw)
    sample, _ = _collect_sample(df, vec_col, KMEANS_INIT_SAMPLE_CAP, seed + 1)
    res = sample - centroids[assign_nearest(sample, centroids)]
    dsub = dimension // m
    cb = np.zeros((m, ksub, dsub), dtype=np.float64)
    for j in range(m):
        cb[j] = kmeans_numpy(
            res[:, j * dsub : (j + 1) * dsub],
            ksub,
            max_iters=25,
            seed=seed * 31 + j,
        )
    pqm = PQModel(codebooks=cb)

    # 4. residual-encode + partitioned write
    dense = dense.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("__vec"), "cluster_id"
    )
    write_sharded(
        attach_shards(_encode_residuals(dense, centroids, cb), base),
        base.codes_path(),
        "overwrite",
    )
    assigned.unpersist()
    write_centroids(
        df.sparkSession, path, "vector", centroids, base.centroid_shards
    )
    pqm.save(df.sparkSession, path)
    meta = handle_meta(base, IVFPQ_FORMAT_VERSION, "ivfpq")
    meta.update(m=m, ksub=ksub)
    write_meta(path, _META, meta)
    return IvfPqIndex(**vars(base), pq=pqm)


def load_ivfpq_index(spark: SparkSession, path: str) -> IvfPqIndex:
    meta = read_meta(path, _META, IVFPQ_FORMAT_VERSION, "IVF-PQ")
    fields, _ = load_layout(spark, path, meta, "vector")
    return IvfPqIndex(**fields, pq=PQModel.load(spark, path))


def search_ivfpq(
    spark: SparkSession,
    index: IvfPqIndex,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 20,
    *,
    query_id_col: str = "query_id",
    query_col: str = "query",
    codes: DataFrame | None = None,
) -> DataFrame:
    """Pruned ADC search over the compressed index.

    Same two-action shape as the flat arrow search (driver probe
    ranking → one pruned scan+score job), but the scan reads only
    ``(id, codes, cluster_id)`` of the probed partitions and scoring is
    per-cluster residual ADC: for each scanned cluster, LUTs are built
    from ``q − c`` for exactly the queries probing that cluster (LUT
    state is per-batch local — never a broadcast of nq × nlist tables).
    Returns ``(query_id, rank, neighbor_id, adc_dist2)``.
    """
    return search_persisted(
        spark, index, queries, k, n_probe, codes, "adc_dist2",
        lambda pruned, plan, cents: _ivfpq_score(
            pruned, plan, cents, index.pq.codebooks, k
        ),
        query_id_col, query_col,
    )


def _ivfpq_score(codes_df, plan, cents, codebooks, k):
    """Per-cluster residual ADC over a pruned codes scan (the
    :func:`search_ivfpq` kernel, shared with IVF-OPQ): for each scanned
    cluster, residual LUTs for its probing queries only, then the
    LUT-gather distances, through the shared top-k stream."""

    def blocks(pdf, state):
        qmat_, cents_, cb_, qprobe_ = state
        codes = _int_codes(pdf["codes"])
        vids = pdf["id"].to_numpy()
        for c, rows, qidx in probed_clusters(pdf, qprobe_):
            d2 = _adc(_luts(qmat_[qidx] - cents_[c], cb_), codes[rows])
            yield qidx, *topk_per_row(d2, k, ids=vids[rows])

    return stream_topk(
        codes_df.select("id", "codes", "cluster_id"), plan.qids, k,
        "adc_dist2", blocks, (plan.qmat, cents, codebooks, plan.qprobe),
    )


def add_vectors_ivfpq(
    spark: SparkSession,
    index: IvfPqIndex,
    df: DataFrame,
    *,
    id_col: str = "id",
    vec_col: str = "values",
    check_duplicate_ids: bool = True,
) -> dict:
    """Incremental ingest for the compressed tier (Faiss
    ``IndexIVFPQ.add``): assign the new batch to the FROZEN coarse
    centroids, residual-encode with the FROZEN codebooks, and append
    shard-partitioned code files — the quantizers are never retrained,
    so recall on added data drifts only as its distribution drifts
    from the training sample (re-``build_ivfpq_index`` when it does).

    One shuffle of the new batch only; the live codes table is never
    read (beyond the optional duplicate-id scan) or rewritten. Each
    add appends ~n_shards small code files;
    :func:`~vector_indexer_spark.operators.index_build.compact_table`
    over ``index.codes_path()`` restores the as-built layout through
    the same staged swap as the flat index's compaction.
    Returns ``{n_added, n_vectors}``.
    """
    n_new = append_rows(
        spark,
        index,
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("__vec")),
        index.codes_path(),
        _META,
        id_col="id",
        vec_col="__vec",
        check_duplicate_ids=check_duplicate_ids,
        encode=lambda assigned: _encode_residuals(
            assigned, index.centroids, index.pq.codebooks
        ),
    )
    return {"n_added": n_new, "n_vectors": index.n_vectors}
