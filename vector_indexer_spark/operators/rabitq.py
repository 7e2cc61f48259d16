"""RaBitQ-style rotated binary quantization (1 bit/dim + correction
factors) with an unbiased asymmetric distance estimator.

The principled upgrade over the plain sign-bit tier (``operators.bq``):
instead of thresholding raw dimensions, each vector is **centered,
randomly rotated, and sign-quantized**, and two per-vector doubles are
kept next to the code — the residual norm ``||x − c||`` and the
quantization fidelity ``<ō, o>`` (dot of the quantized unit vector with
the true unit direction). At query time the inner product between the
data direction and the query direction is estimated as
``<ō, u_q> / <ō, o>`` — unbiased with an O(1/√d) error bound
(Gao & Long, "RaBitQ: Quantizing High-Dimensional Vectors with a
Theoretical Error Bound for Approximate Nearest Neighbor Search",
SIGMOD 2024) — and the squared L2 distance is reconstructed exactly
from the stored norms:

    dist²(x, q) = ||x−c||² + ||q−c||² − 2·||x−c||·||q−c||·<o, u_q>

Rotation: the default is a **randomized Hadamard transform**
``P = H·D/√d`` (D = seeded ±1 diagonal; H[i][j] = (−1)^popcount(i&j)),
the standard fast substitute for a dense random rotation — orthogonal,
O(d log d) in principle, and every entry is exactly ``±1/√d`` so the
DuckDB oracle can recompute the matrix arithmetically instead of
carrying d² literals. A dense seeded-QR rotation is also provided.

Scale posture (mirrors ``bq_adc_search``): encoding is scan-local
(zero shuffle; the arrow path GEMMs each Arrow batch against the
broadcast d×d rotation), search reads the **codes+factors table only**
(16 B + d/8 B per vector — the raw vector table is never scanned),
broadcasts the bounded rotated query batch, scores per partition, and
shuffles only per-partition winners. ``native`` is the flat-codegen
fold path the correctness oracle replays term-for-term in DuckDB;
``arrow`` is the NumPy/GEMM hot path (different accumulation order —
final-ULP score drift possible, ranking preserved for distinct scores).

Parity anchor: top-k/tie contract per reference src/api.rs:89-94; the
quantization tier itself extends the reference the same way SQ8/PQ/BQ
do (reference is a flat+IVF f32 engine).
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from vector_indexer_spark.functions.kernels import topk_per_row
from vector_indexer_spark.operators.bq import WORD_BITS, _unpack_bits
from vector_indexer_spark.operators.index_build import (
    IvfHandle,
    attach_shards,
    check_build_input,
    coarse_stage,
    collect_centroids,
    handle_meta,
    load_layout,
    read_meta,
    write_centroids,
    write_meta,
    write_sharded,
)
from vector_indexer_spark.operators.search import (
    collect_queries,
    empty_result,
    rank_winners,
    search_frames,
    search_persisted,
)

RABITQ_FORMAT_VERSION = 1


@dataclass(frozen=True)
class RaBitQModel:
    """Centering point + orthogonal rotation (row-major tuple-of-tuples).

    ``rotation[i][j]`` multiplies centered dimension ``j`` into rotated
    dimension ``i`` — i.e. ``r = P @ (x − c)``.
    """

    centroid: tuple  # d doubles
    rotation: tuple  # d rows, each a tuple of d doubles
    seed: int = 0

    @property
    def d(self) -> int:
        return len(self.centroid)

    @property
    def n_words(self) -> int:
        return (self.d + WORD_BITS - 1) // WORD_BITS

    def rotation_matrix(self) -> np.ndarray:
        return np.asarray(self.rotation, dtype=np.float64)


def hadamard_rotation(d: int, seed: int = 0) -> np.ndarray:
    """Randomized Hadamard rotation ``P = H·D/√d`` (requires d a power
    of two). Every entry is exactly ``±1/√d``; orthogonality:
    ``P Pᵀ = H D Dᵀ Hᵀ / d = H Hᵀ / d = I``."""
    if d <= 0 or (d & (d - 1)) != 0:
        raise ValueError(f"hadamard rotation requires d a power of 2, got {d}")
    rng = np.random.default_rng(seed)
    signs = rng.choice(np.array([-1.0, 1.0]), size=d)
    i = np.arange(d)
    # H[i][j] = (−1)^popcount(i & j): the standard Sylvester construction
    parity = np.array(
        [[bin(a & b).count("1") & 1 for b in i] for a in i], dtype=np.float64
    )
    h = 1.0 - 2.0 * parity
    return (h * signs[None, :]) * (1.0 / math.sqrt(d))


def random_rotation(d: int, seed: int = 0) -> np.ndarray:
    """Dense random orthogonal matrix: QR of a seeded Gaussian with the
    sign of diag(R) fixed so the factorization is unique."""
    rng = np.random.default_rng(seed)
    q, r = np.linalg.qr(rng.standard_normal((d, d)))
    return q * np.sign(np.diag(r))[None, :]


def rabitq_train(
    df: DataFrame,
    *,
    vec_col: str = "values",
    seed: int = 0,
    rotation: str = "hadamard",
) -> RaBitQModel:
    """Fit the centering point (per-dimension mean — ONE distributed
    agg pass, same shape as ``bq_train``) and build the seeded rotation.
    ``rotation``: ``"hadamard"`` (fast, d must be a power of 2) or
    ``"qr"`` (dense, any d)."""
    first = df.select(F.size(vec_col).alias("d")).first()
    if first is None:
        raise ValueError("cannot train RaBitQ on empty input")
    d = first["d"]
    bad = df.filter(F.size(vec_col) != d).count()  # P1 fail-fast
    if bad:
        raise ValueError(f"{bad} records have dimension != {d}")
    row = df.agg(
        *[
            F.avg(F.element_at(F.col(vec_col), j + 1)).alias(f"m{j}")
            for j in range(d)
        ]
    ).first()
    cent = tuple(float(row[f"m{j}"]) for j in range(d))
    if rotation == "hadamard":
        mat = hadamard_rotation(d, seed)
    elif rotation == "qr":
        mat = random_rotation(d, seed)
    else:
        raise ValueError(f"unknown rotation {rotation!r}")
    return RaBitQModel(
        centroid=cent,
        rotation=tuple(tuple(float(v) for v in rw) for rw in mat),
        seed=seed,
    )


def rotate_expr(vec: Column | str, model: RaBitQModel) -> Column:
    """``ARRAY<DOUBLE>`` rotated residual ``r = P @ (x − c)``: element
    ``i`` is a flat left fold over ``j`` in index order —
    ``((0 + t₁) + t₂) + …`` with ``t_j = P[i][j]·(x_j − c_j)`` — pure
    codegen arithmetic replayed verbatim by the DuckDB oracle's
    ``list_reduce(list_prepend(0.0, …))`` over the same term order."""
    vec = F.col(vec) if isinstance(vec, str) else vec
    d = model.d
    cent = F.array(*[F.lit(float(c)) for c in model.centroid])

    def component(i: int) -> Column:
        row = F.array(*[F.lit(float(v)) for v in model.rotation[i]])
        return F.aggregate(
            F.sequence(F.lit(1), F.lit(d)),
            F.lit(0.0),
            lambda acc, j: acc
            + F.element_at(row, j)
            * (
                F.element_at(vec, j).cast("double") - F.element_at(cent, j)
            ),
        )

    return F.array(*[component(i) for i in range(d)])


def _pack_pos_bits_expr(r: Column, d: int) -> Column:
    """Pack ``r_i > 0`` sign bits, 32 per BIGINT word, MSB-first within
    the word (identical layout + fold to ``bq.pack_bits_expr``)."""
    n_words = (d + WORD_BITS - 1) // WORD_BITS

    def word(w: int) -> Column:
        base = w * WORD_BITS
        return F.aggregate(
            F.sequence(F.lit(1), F.lit(WORD_BITS)),
            F.lit(0).cast("long"),
            lambda acc, j: acc * 2
            + F.when(
                (F.lit(base) + j <= d)
                & (F.element_at(r, F.lit(base) + j) > F.lit(0.0)),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .cast("long"),
        )

    return F.array(*[word(w) for w in range(n_words)])


def rabitq_encode(
    df: DataFrame,
    model: RaBitQModel,
    *,
    id_col: str = "id",
    vec_col: str = "values",
    method: str = "native",
) -> DataFrame:
    """``(id, codes ARRAY<BIGINT>, norm DOUBLE, dot_o DOUBLE)`` —
    scan-local, zero shuffle.

    ``norm = ||x − c||`` (rotation preserves norms, so computed on the
    rotated residual); ``dot_o = <ō, o> = Σ|r_i| / (√d·||r||)`` — the
    per-vector fidelity the estimator divides by (0.0 for ``x == c``).

    ``native`` is the fold-exact oracle path; ``arrow`` GEMMs each
    Arrow batch against the broadcast rotation (the 100-TB encode path
    — d² flops/row in BLAS instead of a d²-term codegen fold). Arrow
    sums in a different order, so a residual exactly on the sign
    boundary could pack differently (measure-zero on real data).
    """
    if method == "native":
        r = rotate_expr(vec_col, model)
        out = df.select(
            F.col(id_col).alias("id"), r.alias("__r")
        ).select(
            "id",
            _pack_pos_bits_expr(F.col("__r"), model.d).alias("codes"),
            F.sqrt(
                F.aggregate(
                    F.col("__r"), F.lit(0.0), lambda acc, x: acc + x * x
                )
            ).alias("norm"),
            F.aggregate(
                F.col("__r"), F.lit(0.0), lambda acc, x: acc + F.abs(x)
            ).alias("__sum_abs"),
        )
        sqrt_d = float(math.sqrt(model.d))
        return out.select(
            "id",
            "codes",
            "norm",
            F.when(
                F.col("norm") > 0.0,
                F.col("__sum_abs") / (F.lit(sqrt_d) * F.col("norm")),
            )
            .otherwise(F.lit(0.0))
            .alias("dot_o"),
        )
    if method == "arrow":
        return _rabitq_encode_arrow(df, model, id_col, vec_col)
    raise ValueError(f"unknown method {method!r}")


def _np_encode(r: np.ndarray, d: int, n_words: int):
    """(packed words, norm, dot_o) from a rotated-residual matrix —
    MSB-first within each 32-bit word, words in the LOW half of each
    BIGINT (same layout bq's arrow paths unpack)."""
    norm = np.sqrt(np.einsum("ij,ij->i", r, r))
    sum_abs = np.abs(r).sum(axis=1)
    dot_o = np.divide(
        sum_abs,
        math.sqrt(d) * norm,
        out=np.zeros_like(norm),
        where=norm > 0,
    )
    bits = (r > 0).astype(np.uint8)  # (n, d)
    padded = np.zeros((bits.shape[0], n_words * WORD_BITS), np.uint8)
    padded[:, :d] = bits
    words = np.zeros((bits.shape[0], n_words), dtype=np.int64)
    for w in range(n_words):
        blk = padded[:, w * WORD_BITS : (w + 1) * WORD_BITS]
        words[:, w] = blk.astype(np.int64) @ (
            1 << np.arange(WORD_BITS - 1, -1, -1, dtype=np.int64)
        )
    return words, norm, dot_o


def _rabitq_encode_arrow(df, model, id_col, vec_col):
    spark = df.sparkSession
    d, n_words = model.d, model.n_words
    bp = spark.sparkContext.broadcast(
        (model.rotation_matrix(), np.asarray(model.centroid, dtype=np.float64))
    )

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        p, c = bp.value
        for pdf in batches:
            if pdf.empty:
                continue
            x = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["__v"]]
            )
            if x.shape[1] != d:
                raise ValueError(
                    f"vector dimension {x.shape[1]} != model {d}"
                )
            r = (x - c[None, :]) @ p.T  # (n, d)
            words, norm, dot_o = _np_encode(r, d, n_words)
            yield pd.DataFrame(
                {
                    "id": pdf["__id"].to_numpy(),
                    "codes": list(words),
                    "norm": norm,
                    "dot_o": dot_o,
                }
            )

    return df.select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__v")
    ).mapInPandas(
        encode, "id long, codes array<bigint>, norm double, dot_o double"
    )


def rabitq_query_prep_expr(query: Column | str, model: RaBitQModel):
    """Rotated unit query direction + factors, as native expressions:
    ``(uq ARRAY<DOUBLE>, q_norm DOUBLE, sum_u DOUBLE)`` — evaluated on
    the (bounded, broadcast) query side only."""
    rq = rotate_expr(query, model)
    q_norm = F.sqrt(
        F.aggregate(rq, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    uq = F.when(
        q_norm > 0.0, F.transform(rq, lambda x: x / q_norm)
    ).otherwise(F.transform(rq, lambda x: F.lit(0.0)))
    sum_u = F.aggregate(uq, F.lit(0.0), lambda acc, x: acc + x)
    return uq, q_norm, sum_u


def rabitq_score_expr(
    codes: Column | str,
    norm: Column | str,
    dot_o: Column | str,
    uq: Column | str,
    q_norm: Column | str,
    sum_u: Column | str,
    model: RaBitQModel,
) -> Column:
    """Estimated squared L2 distance from a packed code + factors
    against a prepped query — ONE flat left fold over dimensions for
    ``s1 = Σ_{bit_j=1} u_j`` (literal shifts + ``& 1``, the
    ``adc_score_expr`` idiom), then

        <ō,u> = (2·s1 − Σu)/√d,  <o,u> ≈ <ō,u>/<ō,o>,
        d̂² = norm² + q_norm² − 2·norm·q_norm·<o,u>

    Bit-replayable in DuckDB over the same term order."""
    return _score_expr(codes, norm, dot_o, uq, q_norm, sum_u, model.d)


def _score_expr(codes, norm, dot_o, uq, q_norm, sum_u, d: int) -> Column:
    codes = F.col(codes) if isinstance(codes, str) else codes
    norm = F.col(norm) if isinstance(norm, str) else norm
    dot_o = F.col(dot_o) if isinstance(dot_o, str) else dot_o
    uq = F.col(uq) if isinstance(uq, str) else uq
    q_norm = F.col(q_norm) if isinstance(q_norm, str) else q_norm
    sum_u = F.col(sum_u) if isinstance(sum_u, str) else sum_u
    s1 = F.lit(0.0)
    for j in range(1, d + 1):
        wi = (j - 1) // WORD_BITS + 1
        shift = WORD_BITS - ((j - 1) % WORD_BITS + 1)
        bit = F.shiftrightunsigned(
            F.element_at(codes, wi), shift
        ).bitwiseAND(F.lit(1))
        s1 = s1 + F.element_at(uq, j) * bit.cast("double")
    scale = float(1.0 / math.sqrt(d))
    est_obar_u = (s1 * F.lit(2.0) - sum_u) * F.lit(scale)
    est_ip = F.when(dot_o > 0.0, est_obar_u / dot_o).otherwise(F.lit(0.0))
    return (
        norm * norm + q_norm * q_norm - F.lit(2.0) * norm * q_norm * est_ip
    )


def rabitq_search(
    codes_df: DataFrame,
    model: RaBitQModel,
    queries: DataFrame,
    *,
    k: int = 10,
    query_id_col: str = "query_id",
    query_col: str = "query",
    method: str = "native",
) -> DataFrame:
    """Top-k by estimated distance over the codes+factors table (ties
    by id): ``(query_id, rank, neighbor_id, est_dist2)``, rank 1-based
    ascending by ``(est_dist2, neighbor_id)``.

    The raw-vector table is never read. ``native``: broadcast prepped
    queries × codes scored by the codegen fold (oracle path).
    ``arrow``: per-partition unpack-to-bits + GEMM against the query
    block, local top-k, winners-only shuffle (hot path)."""
    if k <= 0:
        raise ValueError("k must be positive")  # P3
    if method == "native":
        uq, q_norm, sum_u = rabitq_query_prep_expr(query_col, model)
        q = queries.select(
            F.col(query_id_col).alias("query_id"),
            uq.alias("__uq"),
            q_norm.alias("__qn"),
            sum_u.alias("__su"),
        )
        scored = codes_df.crossJoin(F.broadcast(q)).select(
            "query_id",
            F.col("id").alias("neighbor_id"),
            rabitq_score_expr(
                "codes", "norm", "dot_o", "__uq", "__qn", "__su", model
            ).alias("est_dist2"),
        )
        w = Window.partitionBy("query_id").orderBy("est_dist2", "neighbor_id")
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "neighbor_id", "est_dist2")
        )
    if method == "arrow":
        return _rabitq_search_arrow(
            codes_df, model, queries, k, query_id_col, query_col
        )
    raise ValueError(f"unknown method {method!r}")


def _rabitq_search_arrow(codes_df, model, queries, k, query_id_col, query_col):
    spark = codes_df.sparkSession
    d = model.d
    batch = collect_queries(queries, d, query_id_col, query_col)
    if batch is None:
        return empty_result(spark, "est_dist2")
    qids, qmat = batch
    p = model.rotation_matrix()
    c = np.asarray(model.centroid, dtype=np.float64)
    rq = (qmat - c[None, :]) @ p.T  # (nq, d)
    qn = np.sqrt(np.einsum("ij,ij->i", rq, rq))
    u = np.divide(rq, qn[:, None], out=np.zeros_like(rq), where=qn[:, None] > 0)
    sum_u = u.sum(axis=1)
    scale = 1.0 / math.sqrt(d)
    bq_ = spark.sparkContext.broadcast((qids, u, qn, sum_u))

    def local_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qids_, u_, qn_, sum_u_ = bq_.value
        for pdf in batches:
            if pdf.empty:
                continue
            cbits = _unpack_bits(pdf["codes"], d)
            norm = pdf["norm"].to_numpy()
            dot_o = pdf["dot_o"].to_numpy()
            ids = pdf["id"].to_numpy()
            s1 = u_ @ cbits.T  # (nq, n)
            est_obar_u = (2.0 * s1 - sum_u_[:, None]) * scale
            est_ip = np.divide(
                est_obar_u,
                dot_o[None, :],
                out=np.zeros_like(est_obar_u),
                where=dot_o[None, :] > 0,
            )
            d2 = (
                (norm * norm)[None, :]
                + (qn_ * qn_)[:, None]
                - 2.0 * norm[None, :] * qn_[:, None] * est_ip
            )
            # tie-safe local cut: plain argpartition keeps ARBITRARY
            # members of an equal-distance tie group straddling the k
            # boundary, so a lower-id tied candidate could be dropped
            # before the global (dist, id) window — violating the
            # engine-wide ties-by-id contract on duplicate-heavy data
            td, ti = topk_per_row(d2, k, ids.astype(np.int64))
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(qids_, td.shape[1]),
                    "neighbor_id": ti.reshape(-1),
                    "est_dist2": td.reshape(-1),
                }
            )

    local = codes_df.select("id", "codes", "norm", "dot_o").mapInPandas(
        local_topk, "query_id long, neighbor_id long, est_dist2 double"
    )
    return rank_winners(local, k, "est_dist2")


# --------------------------------------------------------------------------
# IVF-RaBitQ: the composition the paper actually deploys (RaBitQ §4 /
# its IVF experiments) — residuals are taken against each vector's OWN
# coarse centroid (so codes adapt per cluster like IVF-BQ's), with ONE
# shared rotation across clusters, and the estimator's query factors
# (u_qc, ‖q−c‖, Σu) computed per (query, probed-cluster) pair on the
# bounded probe frame. J3/J4 pruning unchanged: candidates are
# codes ⋈ broadcast(probes) — the codes+factors table never shuffles.
# --------------------------------------------------------------------------


def rotate_vs_expr(
    vec: Column | str, cvec: Column | str, rotation: tuple
) -> Column:
    """``r = P @ (vec − cvec)`` with a COLUMN centroid (each row's own
    coarse centroid) — the column-threshold twin of :func:`rotate_expr`,
    same flat fold order per component."""
    vec = F.col(vec) if isinstance(vec, str) else vec
    cvec = F.col(cvec) if isinstance(cvec, str) else cvec
    d = len(rotation)

    def component(i: int) -> Column:
        row = F.array(*[F.lit(float(v)) for v in rotation[i]])
        return F.aggregate(
            F.sequence(F.lit(1), F.lit(d)),
            F.lit(0.0),
            lambda acc, j: acc
            + F.element_at(row, j)
            * (
                F.element_at(vec, j).cast("double")
                - F.element_at(cvec, j).cast("double")
            ),
        )

    return F.array(*[component(i) for i in range(d)])


def _factor_cols(r: Column, d: int):
    """(codes, norm, dot_o) expressions from a rotated-residual array —
    the shared encode tail of the flat and IVF paths."""
    sqrt_d = float(math.sqrt(d))
    norm = F.sqrt(F.aggregate(r, F.lit(0.0), lambda acc, x: acc + x * x))
    sum_abs = F.aggregate(r, F.lit(0.0), lambda acc, x: acc + F.abs(x))
    dot_o = F.when(norm > 0.0, sum_abs / (F.lit(sqrt_d) * norm)).otherwise(
        F.lit(0.0)
    )
    return _pack_pos_bits_expr(r, d), norm, dot_o


def ivf_rabitq_encode(
    assigned: DataFrame,
    centroids: DataFrame,
    rotation: tuple,
    *,
    id_col: str = "id",
    vec_col: str = "values",
    cluster_col: str = "cluster_id",
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "cvec",
    method: str = "native",
) -> DataFrame:
    """``(id, cluster_id, codes, norm, dot_o)`` — RaBitQ factors for
    the residual against each vector's own coarse centroid. Scan-local
    after the broadcast nlist-sized centroid join; write
    ``partitionBy(shard)`` cluster-sorted for the pruned layout,
    exactly like the IVF-SQ/IVF-BQ codes tables.

    ``native`` is the fold-exact oracle path (d² codegen terms/row —
    fine at oracle scale); ``arrow`` broadcasts the (rotation,
    nlist×d centroid matrix) pair and GEMMs each Arrow batch — the
    1M+ encode path (same per-batch BLAS shape as the flat encoder)."""
    first = assigned.select(F.size(vec_col).alias("d")).first()
    if first is None:
        raise ValueError("cannot encode an empty DataFrame")
    d = first["d"]
    if d != len(rotation):
        raise ValueError(f"vector dimension {d} != rotation {len(rotation)}")
    if method == "arrow":
        return _ivf_rabitq_encode_arrow(
            assigned, centroids, rotation, d,
            id_col, vec_col, cluster_col, centroid_id_col, centroid_vec_col,
        )
    if method != "native":
        raise ValueError(f"unknown method {method!r}")
    c = centroids.select(
        F.col(centroid_id_col).alias(cluster_col),
        F.col(centroid_vec_col).alias("__cvec"),
    )
    r = rotate_vs_expr(vec_col, "__cvec", rotation)
    codes, norm, dot_o = _factor_cols(F.col("__r"), d)
    return (
        assigned.join(F.broadcast(c), cluster_col)
        .select(
            F.col(id_col).alias("id"), cluster_col, r.alias("__r")
        )
        .select(
            "id",
            cluster_col,
            codes.alias("codes"),
            norm.alias("norm"),
            dot_o.alias("dot_o"),
        )
    )


def _ivf_rabitq_encode_arrow(
    assigned, centroids, rotation, d,
    id_col, vec_col, cluster_col, centroid_id_col, centroid_vec_col,
):
    spark = assigned.sparkSession
    p = np.asarray(rotation, dtype=np.float64)
    n_words = (d + WORD_BITS - 1) // WORD_BITS
    # `present` mask: the dense id-indexed matrix leaves zero-filled
    # rows for any cluster_id missing from the centroids frame — a row
    # assigned there would be silently encoded against an all-zeros
    # centroid, where the native path's inner join drops it. Mirror the
    # native drop.
    cents, present = collect_centroids(
        centroids, centroid_id_col, centroid_vec_col
    )
    bp = spark.sparkContext.broadcast((p, cents, present))

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        p_, cents_, present_ = bp.value
        for pdf in batches:
            if pdf.empty:
                continue
            cl_all = pdf["__cl"].to_numpy()
            keep = (cl_all >= 0) & (cl_all < len(present_))
            keep &= present_[np.clip(cl_all, 0, len(present_) - 1)]
            if not keep.any():
                continue
            if not keep.all():
                pdf = pdf.iloc[np.flatnonzero(keep)]
            x = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["__v"]]
            )
            if x.shape[1] != d:
                raise ValueError(
                    f"vector dimension {x.shape[1]} != rotation {d}"
                )
            cl = pdf["__cl"].to_numpy()
            r = (x - cents_[cl]) @ p_.T  # (n, d)
            words, norm, dot_o = _np_encode(r, d, n_words)
            yield pd.DataFrame(
                {
                    "id": pdf["__id"].to_numpy(),
                    "cluster_id": cl,
                    "codes": list(words),
                    "norm": norm,
                    "dot_o": dot_o,
                }
            )

    return assigned.select(
        F.col(id_col).alias("__id"),
        F.col(cluster_col).alias("__cl"),
        F.col(vec_col).alias("__v"),
    ).mapInPandas(
        encode,
        "id long, cluster_id long, codes array<bigint>, "
        "norm double, dot_o double",
    )


def ivf_rabitq_search(
    codes_df: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    rotation: tuple,
    *,
    k: int = 10,
    n_probe: int = 20,
    query_id_col: str = "query_id",
    query_col: str = "query",
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "cvec",
    method: str = "native",
) -> DataFrame:
    """Pruned RaBitQ search: J3 probe ranking by ``|q−c|²`` → per
    (query, probed-cluster) rotated query factors on the bounded probe
    frame → J4 candidates from probed clusters only → estimator
    ranking. Returns ``(query_id, rank, neighbor_id, est_dist2)``,
    ties by id. Like every 1-bit tier the deployment shape is
    shortlist → :func:`ivf_rabitq_search_refined`.

    ``native``: whole-stage-codegen folds, the oracle path. ``arrow``:
    driver probe ranking on the nlist-sized centroid matrix, literal
    IN pruning of the codes scan, then a per-cluster GEMM of unpacked
    bits against that cluster's probing-query block inside
    ``mapInPandas`` — winners-only shuffle."""
    if k <= 0 or n_probe <= 0:
        raise ValueError("k and n_probe must be positive")  # P3
    d = len(rotation)
    if method == "arrow":
        return search_frames(
            codes_df, centroids, queries, n_probe, "est_dist2",
            lambda pruned, plan, cents: _ivf_rabitq_score(
                pruned, plan, cents, rotation, k
            ),
            query_id_col, query_col, centroid_id_col, centroid_vec_col,
        )
    if method != "native":
        raise ValueError(f"unknown method {method!r}")
    from vector_indexer_spark.functions.distance import (  # noqa: PLC0415
        dist2_expr,
    )

    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(query_col).alias("__q")
    )
    cents = centroids.select(
        F.col(centroid_id_col).alias("cluster_id"),
        F.col(centroid_vec_col).alias("__cvec"),
    )
    pscore = q.crossJoin(F.broadcast(cents)).select(
        "query_id",
        "cluster_id",
        dist2_expr("__q", "__cvec").alias("cdist2"),
    )
    pw = Window.partitionBy("query_id").orderBy("cdist2", "cluster_id")
    probes = (
        pscore.withColumn("pr", F.row_number().over(pw))
        .filter(F.col("pr") <= n_probe)
        .select("query_id", "cluster_id")
    )
    # per-pair query factors on the (n_queries × n_probe)-row frame
    rq = rotate_vs_expr("__q", "__cvec", rotation)
    prep = (
        probes.join(F.broadcast(q), "query_id")
        .join(F.broadcast(cents), "cluster_id")
        .select("query_id", "cluster_id", rq.alias("__rq"))
    )
    q_norm = F.sqrt(
        F.aggregate("__rq", F.lit(0.0), lambda acc, x: acc + x * x)
    )
    prep = prep.select(
        "query_id", "cluster_id", "__rq", q_norm.alias("__qn")
    ).select(
        "query_id",
        "cluster_id",
        "__qn",
        F.when(
            F.col("__qn") > 0.0,
            F.transform("__rq", lambda x: x / F.col("__qn")),
        )
        .otherwise(F.transform("__rq", lambda x: F.lit(0.0)))
        .alias("__uq"),
    ).select(
        "query_id",
        "cluster_id",
        "__qn",
        "__uq",
        F.aggregate("__uq", F.lit(0.0), lambda acc, x: acc + x).alias("__su"),
    )
    cand = codes_df.join(F.broadcast(prep), "cluster_id")
    scored = cand.select(
        "query_id",
        F.col("id").alias("neighbor_id"),
        _score_expr(
            "codes", "norm", "dot_o", "__uq", "__qn", "__su", d
        ).alias("est_dist2"),
    )
    w = Window.partitionBy("query_id").orderBy("est_dist2", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "est_dist2")
    )


def _ivf_rabitq_score(codes_df, plan, cents, rotation, k):
    """Arrow RaBitQ estimator over a pruned codes scan: per probed
    cluster, the rotated unit residuals of its probing queries vs THIS
    centroid are prepared on the driver — (nq × n_probe × d) total,
    bounded — then each cluster's unpacked bits are GEMMed against
    that block inside ``mapInPandas``; winners-only window rank."""
    d = len(rotation)
    if plan.qmat.shape[1] != d:
        raise ValueError(
            f"query dimension {plan.qmat.shape[1]} != rotation {d}"
        )
    p = np.asarray(rotation, dtype=np.float64)
    prep: dict = {}
    for c, qidx in plan.qprobe.items():
        rq = (plan.qmat[qidx] - cents[c][None, :]) @ p.T
        qn = np.sqrt(np.einsum("ij,ij->i", rq, rq))
        u = np.divide(
            rq, qn[:, None], out=np.zeros_like(rq), where=qn[:, None] > 0
        )
        prep[c] = (qidx, u, qn, u.sum(axis=1))
    scale = 1.0 / math.sqrt(d)
    bc = codes_df.sparkSession.sparkContext.broadcast((plan.qids, prep))

    def local_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qids_, prep_ = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            cl = pdf["cluster_id"].to_numpy()
            cbits = _unpack_bits(pdf["codes"], d)
            norm = pdf["norm"].to_numpy()
            dot_o = pdf["dot_o"].to_numpy()
            ids = pdf["id"].to_numpy()
            for c in np.unique(cl):
                entry = prep_.get(int(c))
                if entry is None:
                    continue
                qidx, u, qn, su = entry
                rows = np.flatnonzero(cl == c)
                s1 = u @ cbits[rows].T  # (nq_c, n_c)
                est_obar_u = (2.0 * s1 - su[:, None]) * scale
                do = dot_o[rows]
                est_ip = np.divide(
                    est_obar_u,
                    do[None, :],
                    out=np.zeros_like(est_obar_u),
                    where=do[None, :] > 0,
                )
                nr = norm[rows]
                d2 = (
                    (nr * nr)[None, :]
                    + (qn * qn)[:, None]
                    - 2.0 * nr[None, :] * qn[:, None] * est_ip
                )
                # tie-safe local cut (see rabitq_search's local_topk)
                td, ti = topk_per_row(
                    d2, k, ids[rows].astype(np.int64)
                )
                yield pd.DataFrame(
                    {
                        "query_id": np.repeat(qids_[qidx], td.shape[1]),
                        "neighbor_id": ti.reshape(-1),
                        "est_dist2": td.reshape(-1),
                    }
                )

    local = codes_df.select(
        "id", "cluster_id", "codes", "norm", "dot_o"
    ).mapInPandas(
        local_topk, "query_id long, neighbor_id long, est_dist2 double"
    )
    return rank_winners(local, k, "est_dist2")


def ivf_rabitq_search_refined(
    codes_df: DataFrame,
    centroids: DataFrame,
    vectors: DataFrame,
    queries: DataFrame,
    rotation: tuple,
    *,
    k: int = 10,
    shortlist: int = 100,
    n_probe: int = 20,
    id_col: str = "id",
    vec_col: str = "values",
    query_id_col: str = "query_id",
    query_col: str = "query",
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "cvec",
    method: str = "native",
) -> DataFrame:
    """Pruned estimator shortlist → exact L2 rescoring (the deployment
    shape: probe → 1-bit shortlist → semi-join-sized exact refine)."""
    from vector_indexer_spark.operators.pq import refine_topk

    short = ivf_rabitq_search(
        codes_df,
        centroids,
        queries,
        rotation,
        k=shortlist,
        n_probe=n_probe,
        query_id_col=query_id_col,
        query_col=query_col,
        centroid_id_col=centroid_id_col,
        centroid_vec_col=centroid_vec_col,
        method=method,
    )
    return refine_topk(
        short,
        vectors,
        queries,
        k=k,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
        query_col=query_col,
    )


# ---------------------------------------------------------------------------
# Persisted IVF-RaBitQ index: the stages above wired into the engine's
# standard on-disk contract (codes+factors table partitioned by shard,
# cluster-sorted; centroid parquet; JSON meta). The rotation is stored
# as (kind, seed, d) and rebuilt deterministically at load — 3 meta
# fields instead of d² floats.
# ---------------------------------------------------------------------------

IVF_RABITQ_FORMAT_VERSION = 1
_META = "ivf_rabitq_meta.json"


def _build_rotation(kind: str, d: int, seed: int) -> np.ndarray:
    if kind == "hadamard":
        return hadamard_rotation(d, seed)
    if kind == "qr":
        return random_rotation(d, seed)
    raise ValueError(f"unknown rotation kind {kind!r}")


@dataclass
class IvfRaBitQIndex(IvfHandle):
    rotation_kind: str
    rotation_seed: int
    rotation: tuple  # d rows × d doubles, rebuilt from (kind, seed, d)


def build_ivf_rabitq_index(
    df: DataFrame,
    path: str,
    *,
    id_col: str = "id",
    vec_col: str = "values",
    nlist: int | None = None,
    seed: int = 42,
    rotation_seed: int = 7,
    rotation: str | None = None,
    mode: str = "full",
    max_iters: int | None = None,
) -> IvfRaBitQIndex:
    """Coarse k-means → dense relabel + sharding → arrow RaBitQ encode
    against each vector's own centroid → ``partitionBy(shard_id)``
    cluster-sorted codes+factors write. ~d/8 + 16 bytes per vector on
    disk; the query-time scan Hive-prunes to probed shards exactly
    like the flat / IVF-SQ / IVF-PQ / IVF-BQ tiers.

    ``rotation`` defaults to ``"hadamard"`` when d is a power of two
    (entries exactly ±1/√d), else the seeded-QR dense rotation (QR is
    deterministic for a given BLAS/LAPACK build — the meta stores
    (kind, seed, d), and a load on a different BLAS could in principle
    rebuild a different-sign matrix; the hadamard kind is
    build-independent)."""
    n, dimension = check_build_input(df, vec_col, None)
    if rotation is None:
        rotation = (
            "hadamard" if (dimension & (dimension - 1)) == 0 else "qr"
        )
    rot_mat = _build_rotation(rotation, dimension, rotation_seed)
    rot = tuple(tuple(float(v) for v in row) for row in rot_mat)

    assigned, dense, base = coarse_stage(
        df, path, n, dimension, vec_col=vec_col, nlist=nlist, seed=seed,
        mode=mode, max_iters=max_iters,
    )
    # residuals are taken against the float32 centroids the table
    # stores, so the handle holds exactly what a reload would read
    base.centroids = base.centroids.astype(np.float32).astype(np.float64)
    dense = dense.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("__vec"), "cluster_id"
    )
    codes = ivf_rabitq_encode(
        dense, base.centroids_df(df.sparkSession), rot, id_col="id",
        vec_col="__vec", method="arrow",
    )
    write_sharded(attach_shards(codes, base), base.codes_path(), "overwrite")
    assigned.unpersist()
    write_centroids(
        df.sparkSession, path, "cvec", base.centroids, base.centroid_shards
    )
    meta = handle_meta(base, IVF_RABITQ_FORMAT_VERSION, "ivf_rabitq")
    n_vectors = meta.pop("n_vectors")  # keeps the sidecar's key order
    meta.update(
        rotation_kind=rotation, rotation_seed=rotation_seed, n_vectors=n_vectors
    )
    write_meta(path, _META, meta)
    return IvfRaBitQIndex(
        **vars(base),
        rotation_kind=rotation,
        rotation_seed=rotation_seed,
        rotation=rot,
    )


def load_ivf_rabitq_index(spark, path: str) -> IvfRaBitQIndex:
    meta = read_meta(path, _META, IVF_RABITQ_FORMAT_VERSION, "IVF-RaBitQ")
    fields, _ = load_layout(spark, path, meta, "cvec")
    rot_mat = _build_rotation(
        meta["rotation_kind"], meta["dimension"], meta["rotation_seed"]
    )
    return IvfRaBitQIndex(
        **fields,
        rotation_kind=meta["rotation_kind"],
        rotation_seed=meta["rotation_seed"],
        rotation=tuple(tuple(float(v) for v in row) for row in rot_mat),
    )


def search_ivf_rabitq_index(
    spark,
    index: IvfRaBitQIndex,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 20,
    *,
    method: str = "arrow",
    query_id_col: str = "query_id",
    query_col: str = "query",
    codes: DataFrame | None = None,
) -> DataFrame:
    """Pruned search against the persisted index: one driver probe plan
    on the resident centroid matrix → literal shard/cluster predicates
    (Hive partition pruning + row-group stats on the cluster-sorted
    layout) → the estimator over only the scanned clusters. The arrow
    kernel scores each query against exactly its own probe list; the
    native path hands :func:`ivf_rabitq_search` the centroid table
    restricted to the scanned clusters — so at ``nlist >=
    _HIER_PROBE_NLIST`` (approximate hierarchical probes) pruning and
    scoring always agree: no cluster is scored that was not
    scanned."""
    def score(pruned, plan, cents):
        if method == "arrow":
            return _ivf_rabitq_score(pruned, plan, cents, index.rotation, k)
        return ivf_rabitq_search(
            pruned,
            index.centroids_df(spark).where(
                F.col("centroid_id").isin(plan.cluster_ids.tolist())
            ),
            queries,
            index.rotation,
            k=k,
            n_probe=n_probe,
            query_id_col=query_id_col,
            query_col=query_col,
            method=method,
        )

    return search_persisted(
        spark, index, queries, k, n_probe, codes, "est_dist2", score,
        query_id_col, query_col,
    )


def rabitq_search_refined(
    codes_df: DataFrame,
    model: RaBitQModel,
    vectors: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    shortlist: int = 100,
    id_col: str = "id",
    vec_col: str = "values",
    query_id_col: str = "query_id",
    query_col: str = "query",
    method: str = "native",
) -> DataFrame:
    """Estimator shortlist → exact L2 rescoring (semi-join-sized exact
    pass — the same refine stage every compressed tier shares)."""
    from vector_indexer_spark.operators.pq import refine_topk

    short = rabitq_search(
        codes_df,
        model,
        queries,
        k=shortlist,
        query_id_col=query_id_col,
        query_col=query_col,
        method=method,
    )
    return refine_topk(
        short,
        vectors,
        queries,
        k=k,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
        query_col=query_col,
    )
