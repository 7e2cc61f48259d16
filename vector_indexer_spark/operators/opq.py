"""OPQ — Optimized Product Quantization (parametric variant).

Plain PQ quantizes fixed dimension slices; when variance is spread
unevenly or correlated across dimensions, some subspaces carry most of
the signal and quantization error concentrates there. OPQ first
applies a learned orthogonal rotation that (a) decorrelates dimensions
(PCA) and (b) balances variance across the ``m`` subspaces
(eigenvalue allocation — Ge et al., CVPR 2013, the parametric OPQ_P
solution), then runs ordinary PQ in the rotated space. Because the
rotation is orthogonal and the mean shift is applied to queries too,
rotated-space distances equal original-space distances exactly — ADC
search needs no correction.

Composition, not new machinery: the rotation comes from
:func:`~vector_indexer_spark.operators.pca.pca_train` (full-rank) and
the codebooks from :func:`~vector_indexer_spark.operators.pq.pq_train`;
encode/search reuse the PQ Arrow kernels on rotated input.

Scale shape: training touches a seeded driver sample (same contract
as PQ/IVF coarse training); encode is one mapInPandas GEMM pass over
the scan (zero shuffle); search is PQ ADC over the rotated query
batch. The rotation matrix is d×d doubles (64 KB at d=768 — trivially
broadcastable).

Oracle strategy: a permutation IS an orthogonal rotation, so the
fixed-model oracle (``opq_perm_codes_fixed``) uses a fixed dimension
permutation + the PQ fixed-codebook encode — the full
rotate→slice→argmin composition runs bit-exact on both engines. The
learned-rotation path is pinned by pytest: orthogonality, exact
distance preservation, balanced allocation, and quantization error
no worse than plain PQ on anisotropic data.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vector_indexer_spark.functions.kernels import stack_arrays
from vector_indexer_spark.ioutil import atomic_write_json
from vector_indexer_spark.operators.index_build import (
    driver_frame,
    read_meta,
    write_meta,
)
from vector_indexer_spark.operators.kmeans import KMEANS_INIT_SAMPLE_CAP
from vector_indexer_spark.operators.pca import pca_train
from vector_indexer_spark.operators.pq import (
    PQModel,
    _adc_blocks,
    _ivfpq_score,
    _luts,
    pq_encode,
    pq_train,
)
from vector_indexer_spark.operators.search import (
    collect_queries,
    empty_result,
    probe_plan,
    prune,
    stream_queries,
    winners_frame,
)

OPQ_FORMAT_VERSION = 1


def eigenvalue_allocation(variances: np.ndarray, m: int) -> np.ndarray:
    """Assign ``d`` principal directions to ``m`` equal-size buckets,
    balancing the product of variances per bucket (Ge et al. §3.2).

    Greedy in descending-variance order: each direction goes to the
    non-full bucket with the smallest current log-variance sum. Returns
    the row order (bucket 0's dims first, then bucket 1's, ...) to
    apply to the PCA component matrix.
    """
    d = len(variances)
    if d % m != 0:
        raise ValueError(f"dimension {d} not divisible by m={m}")
    dsub = d // m
    # log-domain (products → sums) against underflow on tiny
    # eigenvalues; shift to non-negative weights so the classic LPT
    # greedy applies regardless of the spectrum's absolute scale
    # (buckets hold equally many dims, so the constant shift cancels)
    logv = np.log(np.maximum(np.asarray(variances, dtype=np.float64),
                             1e-300))
    w = logv.max() - logv
    buckets: list[list[int]] = [[] for _ in range(m)]
    sums = np.zeros(m)
    for i in np.argsort(-w, kind="stable"):
        open_ = [b for b in range(m) if len(buckets[b]) < dsub]
        b = min(open_, key=lambda b: (sums[b], b))
        buckets[b].append(int(i))
        sums[b] += w[i]
    return np.concatenate([np.sort(b) for b in buckets]).astype(np.int64)



def _write_rotation(spark: SparkSession, rotation: np.ndarray, path: str) -> None:
    """The ``(row_id, basis)`` rotation table, one row per basis row."""
    cols = {"row_id": np.arange(len(rotation), dtype=np.int32), "basis": list(rotation)}
    driver_frame(spark, cols, "row_id INT, basis ARRAY<DOUBLE>").coalesce(
        1
    ).write.mode("overwrite").parquet(os.path.join(path, "rotation"))


@dataclass
class OPQModel:
    """Learned rotation + trained PQ codebooks (rotated space)."""

    mean: np.ndarray  # (d,)
    rotation: np.ndarray  # (d, d), rows = rotated basis
    pq: PQModel

    @property
    def dimension(self) -> int:
        return int(self.rotation.shape[1])

    def rotate(self, x: np.ndarray) -> np.ndarray:
        """(n, d) original-space → rotated-space coordinates."""
        return (np.asarray(x, dtype=np.float64) - self.mean) @ self.rotation.T

    def save(self, spark: SparkSession, path: str) -> None:
        os.makedirs(path, exist_ok=True)
        _write_rotation(spark, self.rotation, path)
        self.pq.save(spark, os.path.join(path, "pq"))
        atomic_write_json(
            os.path.join(path, "opq_meta.json"),
            {
                "version": OPQ_FORMAT_VERSION,
                "d": self.dimension,
                "mean": [float(x) for x in self.mean],
            },
        )

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "OPQModel":
        meta_path = os.path.join(path, "opq_meta.json")
        if not os.path.exists(meta_path):
            raise FileNotFoundError(f"no OPQ model at {path}")
        with open(meta_path) as f:
            meta = json.load(f)
        if meta.get("version") != OPQ_FORMAT_VERSION:
            raise ValueError(
                f"unsupported OPQ model version {meta.get('version')!r}"
            )
        rows = (
            spark.read.parquet(os.path.join(path, "rotation"))
            .orderBy("row_id")
            .collect()
        )
        rot = np.asarray([r.basis for r in rows], dtype=np.float64)
        return cls(
            mean=np.asarray(meta["mean"], dtype=np.float64),
            rotation=rot,
            pq=PQModel.load(spark, os.path.join(path, "pq")),
        )


def _rotate_df(
    df: DataFrame,
    mean: np.ndarray,
    rotation: np.ndarray,
    *,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """One-pass GEMM rotation: (id, rvec) with rvec = R(x − μ)."""
    spark = df.sparkSession
    d = rotation.shape[1]
    brot = spark.sparkContext.broadcast(
        (np.asarray(mean, dtype=np.float64), np.asarray(rotation))
    )

    def _rot(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        mu, rot = brot.value
        for pdf in batches:
            if pdf.empty:
                continue
            x = stack_arrays(pdf[vec_col])
            if x.shape[1] != d:
                raise ValueError(
                    f"vector dimension {x.shape[1]} != rotation dim {d}"
                )
            r = (x - mu) @ rot.T
            yield pd.DataFrame(
                {"id": pdf[id_col].to_numpy(), "rvec": list(r)}
            )

    return df.select(id_col, vec_col).mapInPandas(
        _rot, "id long, rvec array<double>"
    )


def opq_train(
    df: DataFrame,
    *,
    vec_col: str = "values",
    m: int = 8,
    ksub: int = 256,
    seed: int = 42,
    sample_cap: int = KMEANS_INIT_SAMPLE_CAP,
    max_iters: int = 25,
) -> OPQModel:
    """Fit rotation (distributed PCA + eigenvalue allocation) and PQ
    codebooks (seeded driver sample, rotated space)."""
    first = df.select(vec_col).first()
    if first is None:
        raise ValueError("cannot fit OPQ on empty input")
    d = len(first[0])
    if d % m != 0:
        raise ValueError(f"dimension {d} not divisible by m={m}")
    pca = pca_train(df, k=d, vec_col=vec_col)
    order = eigenvalue_allocation(
        np.asarray(pca.explained_variance), m
    )
    rotation = np.asarray(pca.components, dtype=np.float64)[order]
    mean = np.asarray(pca.mean, dtype=np.float64)
    # PQ trains on the rotated view; ids are irrelevant for training
    rot_df = _rotate_df(
        df.select(
            F.monotonically_increasing_id().alias("__rid"), vec_col
        ),
        mean,
        rotation,
        id_col="__rid",
        vec_col=vec_col,
    )
    pq = pq_train(
        rot_df,
        vec_col="rvec",
        m=m,
        ksub=ksub,
        seed=seed,
        sample_cap=sample_cap,
        max_iters=max_iters,
    )
    return OPQModel(mean=mean, rotation=rotation, pq=pq)


def opq_encode(
    df: DataFrame,
    model: OPQModel,
    *,
    id_col: str = "id",
    vec_col: str = "values",
) -> DataFrame:
    """Rotate + PQ-encode: ``(id, codes)``, one scan, zero shuffle."""
    rotated = _rotate_df(
        df, model.mean, model.rotation, id_col=id_col, vec_col=vec_col
    )
    return pq_encode(rotated, model.pq, id_col="id", vec_col="rvec")


def opq_search(
    codes_df: DataFrame,
    queries: DataFrame,
    model: OPQModel,
    k: int,
    *,
    id_col: str = "id",
    codes_col: str = "codes",
    query_id_col: str = "query_id",
    query_col: str = "query",
) -> DataFrame:
    """ADC top-k under the rotation: the one query collect rotates the
    batch driver-side (bounded batch) into the per-query LUTs, then the
    standard PQ ADC stream runs over the codes-only scan. Distances are
    rotated-space ≡ original-space.
    """
    if k <= 0:
        raise ValueError("k must be positive")
    return stream_queries(
        codes_df.select(id_col, codes_col), queries, model.dimension, k,
        "adc_dist2", _adc_blocks(k, id_col, codes_col),
        lambda qmat: _luts(model.rotate(qmat), model.pq.codebooks),
        query_id_col, query_col,
    )


@dataclass
class IvfOpqIndex:
    """Rotation + persisted IVF-PQ index over the rotated space —
    Faiss's ``OPQd_m,IVFnlist,PQm`` factory string as a composition:
    the learned rotation feeds the standard IVF-PQ build unchanged
    (coarse quantizer, residual PQ, codes-only partitioned layout)."""

    mean: np.ndarray
    rotation: np.ndarray
    ivfpq: "object"  # IvfPqIndex

    @property
    def dimension(self) -> int:
        return int(self.rotation.shape[1])

    def rotate(self, x: np.ndarray) -> np.ndarray:
        return (np.asarray(x, dtype=np.float64) - self.mean) @ self.rotation.T


def build_ivfopq_index(
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
) -> IvfOpqIndex:
    """Train the rotation (distributed PCA + eigenvalue allocation),
    rotate the corpus in one GEMM pass, and hand the rotated view to
    the standard IVF-PQ build. Rotation sidecar persists beside the
    index so load/search reconstruct the full pipeline."""
    from vector_indexer_spark.operators.pq import build_ivfpq_index  # noqa: PLC0415

    first = df.select(vec_col).first()
    if first is None:
        raise ValueError("cannot build IVF-OPQ on empty input")
    d = len(first[0])
    if d % m != 0:
        raise ValueError(f"dimension {d} not divisible by m={m}")
    pca = pca_train(df, k=d, vec_col=vec_col)
    order = eigenvalue_allocation(np.asarray(pca.explained_variance), m)
    rotation = np.asarray(pca.components, dtype=np.float64)[order]
    mean = np.asarray(pca.mean, dtype=np.float64)
    rotated = _rotate_df(df, mean, rotation, id_col=id_col, vec_col=vec_col)
    ivfpq = build_ivfpq_index(
        rotated,
        os.path.join(path, "ivfpq"),
        id_col="id",
        vec_col="rvec",
        nlist=nlist,
        m=m,
        ksub=ksub,
        seed=seed,
        mode=mode,
        max_iters=max_iters,
    )
    os.makedirs(path, exist_ok=True)
    _write_rotation(df.sparkSession, rotation, path)
    write_meta(
        path,
        "ivfopq_meta.json",
        {
            "version": OPQ_FORMAT_VERSION,
            "d": d,
            "mean": [float(x) for x in mean],
        },
    )
    return IvfOpqIndex(mean=mean, rotation=rotation, ivfpq=ivfpq)


def load_ivfopq_index(spark: SparkSession, path: str) -> IvfOpqIndex:
    from vector_indexer_spark.operators.pq import load_ivfpq_index  # noqa: PLC0415

    meta = read_meta(path, "ivfopq_meta.json", OPQ_FORMAT_VERSION, "IVF-OPQ")
    rows = (
        spark.read.parquet(os.path.join(path, "rotation"))
        .orderBy("row_id")
        .collect()
    )
    return IvfOpqIndex(
        mean=np.asarray(meta["mean"], dtype=np.float64),
        rotation=np.asarray([r.basis for r in rows], dtype=np.float64),
        ivfpq=load_ivfpq_index(spark, os.path.join(path, "ivfpq")),
    )


def search_ivfopq(
    spark: SparkSession,
    index: IvfOpqIndex,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 20,
    *,
    query_id_col: str = "query_id",
    query_col: str = "query",
) -> DataFrame:
    """Rotate the query batch driver-side (bounded), then run the
    standard pruned residual-ADC search — distances in rotated space
    equal original-space distances exactly (orthogonal rotation). The
    batch is collected once: the rotated matrix goes straight into the
    IVF-PQ probe plan and scorer."""
    if k <= 0 or n_probe <= 0:
        raise ValueError("k and n_probe must be positive")
    batch = collect_queries(queries, index.dimension, query_id_col, query_col)
    if batch is None:
        return empty_result(spark, "adc_dist2")
    pq = index.ivfpq
    plan = probe_plan(
        batch[0],
        index.rotate(batch[1]),
        pq.centroids,
        n_probe,
        shards=pq.centroid_shards,
        hierarchy=pq.probe_hierarchy,
    )
    winners = _ivfpq_score(
        prune(pq.codes(spark), plan.shard_ids, plan.cluster_ids),
        plan,
        pq.centroids,
        pq.pq.codebooks,
        k,
    )
    return winners_frame(spark, winners, "adc_dist2")
