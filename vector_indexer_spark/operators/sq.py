"""Scalar quantization (SQ8) — per-dimension affine uint8 codes.

A beyond-the-reference scale extension complementing PQ
(operators/pq.py). The reference stores raw f32 vectors in every
posting list (src/shards.rs:130-148); at 100 TB the scan bytes are the
bottleneck. SQ8 (the public Faiss ``IndexScalarQuantizer`` /
``SQ8`` family the reference's bench harness keys parse,
bench/faiss_bench_official/bench_all_ivf.py:171-214) maps each
dimension affinely onto 0..255: ``code_j = round((x_j - min_j) /
scale_j)`` with ``scale_j = (max_j - min_j)/255`` — a 4x smaller scan
with far better fidelity than PQ at the same compression tier.

Unlike PQ/IVF (k-means-trained → RNG-dependent → rows-only checkable),
SQ training is **deterministic aggregates** (per-dimension min/max), so
the *entire* train → encode → search pipeline is reproducible in SQL
and oracle-checked end-to-end (``sq_codes`` / ``sq_search_top10`` in
entry_queries).

Spark shape — all JVM codegen, zero Python in the hot path:

- **train** — one pass: ``df.agg(min(vec[j]), max(vec[j]) for j in d)``
  (2·d aggregate expressions, map-side combined; no explode, no
  shuffle of data rows). The model is 2·d doubles on the driver.
- **encode** — ``transform(values, (x, j) -> affine(x))`` against
  broadcast literal min/scale arrays. Scan-local projection.
- **search** — decode-and-score: candidates reconstructed
  (``min_j + code_j·scale_j``) and scored with the bit-reproducible
  fold (functions/distance.py) against the broadcast query batch; a
  query-time scan reads ONLY the codes column (Parquet column
  pruning) — the raw vector table is never touched.

Error contract: ``|x_j − recon_j| ≤ scale_j/2``, so ADC distance
converges to exact distance as the value range tightens; the pytest
asserts the bound and recall-vs-exact on clustered data.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from vector_indexer_spark.functions.kernels import (
    chunked_topk,
    pairwise_dist2,
    topk_per_row,
)
from vector_indexer_spark.ioutil import atomic_write_json
from vector_indexer_spark.operators.index_build import (
    IvfHandle,
    append_rows,
    attach_shards,
    check_build_input,
    coarse_stage,
    handle_meta,
    load_layout,
    read_meta,
    write_centroids,
    write_meta,
    write_sharded,
)
from vector_indexer_spark.operators.knn import knn_exact
from vector_indexer_spark.operators.search import (
    ALL_QUERIES,
    probed_clusters,
    rank_winners,
    search_frames,
    search_persisted,
    stream_queries,
    stream_topk,
)

SQ_FORMAT_VERSION = 1
SQ_LEVELS = 255  # 8-bit codes: 0..255
_META = "ivfsq_meta.json"


@dataclass(frozen=True)
class SQModel:
    """Per-dimension affine quantizer: ``code = round((x-dmin)/scale)``.

    ``dmin``/``dmax`` are Python floats (doubles) — exact copies of the
    float32 data values, so every engine reproduces the arithmetic
    bit-for-bit.
    """

    dmin: tuple
    dmax: tuple

    @property
    def dimension(self) -> int:
        return len(self.dmin)

    @property
    def scale(self) -> tuple:
        return tuple(
            (mx - mn) / float(SQ_LEVELS) for mn, mx in zip(self.dmin, self.dmax)
        )

    def save(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)
        atomic_write_json(
            os.path.join(path, "sq_model.json"),
            {
                "version": SQ_FORMAT_VERSION,
                "dmin": list(self.dmin),
                "dmax": list(self.dmax),
            },
        )

    @classmethod
    def load(cls, path: str) -> "SQModel":
        with open(os.path.join(path, "sq_model.json")) as fh:
            meta = json.load(fh)
        if meta.get("version") != SQ_FORMAT_VERSION:
            raise ValueError(
                f"unsupported sq model version {meta.get('version')!r}"
            )
        return cls(dmin=tuple(meta["dmin"]), dmax=tuple(meta["dmax"]))


def sq_train(df: DataFrame, *, vec_col: str = "values") -> SQModel:
    """Fit per-dimension min/max in ONE distributed pass.

    2·d scalar aggregates over array element references — map-side
    combined, shuffles exactly 2·d·partitions doubles, never explodes
    the n×d rows. The d is read from the first row (fixed-dimension
    contract, reference src/api.rs:11).
    """
    first = df.select(F.size(vec_col).alias("d")).first()
    if first is None:
        raise ValueError("cannot train scalar quantizer on empty input")
    d = first["d"]
    bad = df.filter(F.size(vec_col) != d).count()  # P1 fail-fast
    if bad:
        raise ValueError(f"{bad} records have dimension != {d}")
    aggs = [
        F.min(F.element_at(F.col(vec_col), j + 1)).alias(f"mn{j}")
        for j in range(d)
    ] + [
        F.max(F.element_at(F.col(vec_col), j + 1)).alias(f"mx{j}")
        for j in range(d)
    ]
    row = df.agg(*aggs).first()
    return SQModel(
        dmin=tuple(float(row[f"mn{j}"]) for j in range(d)),
        dmax=tuple(float(row[f"mx{j}"]) for j in range(d)),
    )


def _lit_darray(vals) -> Column:
    return F.array(*[F.lit(float(v)) for v in vals])


def encode_expr(vec: Column | str, model: SQModel) -> Column:
    """``ARRAY<INT>`` of uint8 codes for a float-array column.

    ``floor(u + 0.5)`` rather than ``round``: identical
    round-half-up semantics in every engine (SQL ``round`` tie rules
    differ between dialects). Constant dimensions (range 0) encode as 0.
    """
    vec = F.col(vec) if isinstance(vec, str) else vec
    mn = _lit_darray(model.dmin)
    sc = _lit_darray(model.scale)

    def one(x, j):
        mnj = F.element_at(mn, j + 1)
        scj = F.element_at(sc, j + 1)
        code = F.least(
            F.lit(255),
            F.greatest(
                F.lit(0),
                F.floor((x.cast("double") - mnj) / scj + F.lit(0.5)).cast(
                    "int"
                ),
            ),
        )
        return F.when(scj == 0.0, F.lit(0)).otherwise(code)

    return F.transform(vec, one)


def reconstruct_expr(codes: Column | str, model: SQModel) -> Column:
    """``ARRAY<DOUBLE>`` reconstruction ``dmin_j + code_j·scale_j``."""
    codes = F.col(codes) if isinstance(codes, str) else codes
    mn = _lit_darray(model.dmin)
    sc = _lit_darray(model.scale)
    return F.transform(
        codes,
        lambda c, j: F.element_at(mn, j + 1)
        + c.cast("double") * F.element_at(sc, j + 1),
    )


def sq_encode(
    df: DataFrame,
    model: SQModel,
    *,
    id_col: str = "id",
    vec_col: str = "values",
) -> DataFrame:
    """``(id, codes ARRAY<INT>)`` — scan-local codegen projection."""
    return df.select(
        F.col(id_col).alias("id"),
        encode_expr(vec_col, model).alias("codes"),
    )


def sq_search(
    codes_df: DataFrame,
    model: SQModel,
    queries: DataFrame,
    k: int,
    *,
    query_id_col: str = "query_id",
    query_col: str = "query",
    method: str = "arrow",
) -> DataFrame:
    """Top-k by asymmetric distance: exact query vs reconstructed
    candidates. Returns ``(query_id, rank, neighbor_id, adist2)``.

    Two physical strategies, same semantics (the knn_exact split):

    - ``"arrow"`` (default): per-batch NumPy decode + GEMM top-k
      against the broadcast query matrix, one running top-k per task
      (``search.stream_topk``) — at most ``tasks × nq × k`` winners
      reach the final merge, the plan that survives a 100 TB codes
      scan.
    - ``"native"``: reconstruction + fold inside whole-stage codegen,
      the one native window rank (``search.rank_winners``) over the
      full cross product — bit-reproducible; the correctness oracle's
      path (a pytest bridges the two).

    Either way only the ``codes`` column is read (column pruning); the
    raw vector table is never touched.
    """
    if k <= 0:
        raise ValueError("k must be positive")  # P3
    if method == "native":
        return _sq_search_native(
            codes_df, model, queries, k, query_id_col, query_col
        )
    if method != "arrow":
        raise ValueError(f"unknown method {method!r}")
    return _sq_search_arrow(
        codes_df, model, queries, k, query_id_col, query_col
    )


def _sq_search_native(codes_df, model, queries, k, query_id_col, query_col):
    from vector_indexer_spark.functions.distance import (  # noqa: PLC0415
        dist2_expr,
    )

    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_col).alias("__q"),
    )
    recon = codes_df.select(
        F.col("id").alias("neighbor_id"),
        reconstruct_expr("codes", model).alias("__r"),
    )
    scored = recon.crossJoin(F.broadcast(q)).select(
        "query_id", "neighbor_id", dist2_expr("__q", "__r").alias("adist2")
    )
    return rank_winners(scored, k, "adist2")


def _sq_decode(codes, dmin, scale, centroid=None) -> np.ndarray:
    """A ``codes`` column → (n, d) float64 reconstructions
    ``dmin + code·scale``, offset by the cluster ``centroid`` for the
    residual codes of IVF-SQ."""
    codes = np.asarray([np.asarray(c, dtype=np.float64) for c in codes])
    base = dmin if centroid is None else centroid[None, :] + dmin
    return base + codes * scale


def _sq_search_arrow(codes_df, model, queries, k, query_id_col, query_col):
    def blocks(pdf, state):
        qmat_, dmin_, scale_ = state
        recon = _sq_decode(pdf["codes"], dmin_, scale_)
        yield ALL_QUERIES, *chunked_topk(qmat_, recon, pdf["id"].to_numpy(), k)

    dmin = np.asarray(model.dmin, dtype=np.float64)
    scale = np.asarray(model.scale, dtype=np.float64)
    return stream_queries(
        codes_df.select("id", "codes"), queries, model.dimension, k,
        "adist2", blocks, lambda qmat: (qmat, dmin, scale), query_id_col,
        query_col,
    )


# ---------------------------------------------------------------------------
# IVF-SQ: coarse cluster pruning + residual SQ8 codes.
#
# The compressed-IVF combination whose ENTIRE numeric pipeline stays in
# whole-stage codegen: residuals, the per-dimension min/max training
# aggregates, encode, reconstruction, and scoring are all Catalyst
# expressions (contrast IVF-PQ, whose codebooks need k-means + Python
# LUT kernels). Consequently, given a pinned centroid table the WHOLE
# train → encode → pruned-search pipeline is SQL-reproducible and
# oracle-checked end-to-end (``ivfsq_search_fixed``) — the strongest
# correctness anchor any compressed index here can have.
#
# These are composable table-in/table-out stages; the persisted layout
# story is identical to IVF-PQ (operators/pq.py: codes-only table,
# partitionBy(shard), cluster-sorted — Hive pruning + row-group stats),
# so it is not duplicated here.
# ---------------------------------------------------------------------------


def residuals(
    assigned: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "id",
    vec_col: str = "values",
    cluster_col: str = "cluster_id",
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "cvec",
) -> DataFrame:
    """``(id, cluster_id, res ARRAY<DOUBLE>)`` — per-vector residual
    ``x − c(x)`` via a broadcast centroid join; scan-local otherwise."""
    c = centroids.select(
        F.col(centroid_id_col).alias(cluster_col),
        F.col(centroid_vec_col).alias("__cvec"),
    )
    return assigned.join(F.broadcast(c), cluster_col).select(
        F.col(id_col).alias("id"),
        F.col(cluster_col).alias("cluster_id"),
        F.zip_with(
            F.col(vec_col),
            F.col("__cvec"),
            lambda x, y: x.cast("double") - y.cast("double"),
        ).alias("res"),
    )


def ivfsq_train(
    assigned: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "id",
    vec_col: str = "values",
    cluster_col: str = "cluster_id",
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "cvec",
) -> SQModel:
    """Residual SQ8 model: per-dimension min/max over ALL residuals —
    deterministic distributed aggregates (2·d values), no sampling, no
    RNG.

    The aggregates reference elements directly
    (``min(x[j] − c[j])``) rather than going through an intermediate
    residual-array column: Catalyst's project-collapse would inline the
    array alias into every one of the 2·d aggregate children,
    re-evaluating the O(d) zip_with 2·d times per row (measured ~25x
    slower at d=128).
    """
    c = centroids.select(
        F.col(centroid_id_col).alias(cluster_col),
        F.col(centroid_vec_col).alias("__cvec"),
    )
    joined = assigned.join(F.broadcast(c), cluster_col)
    first = joined.select(F.size(vec_col).alias("d")).first()
    if first is None:
        raise ValueError("cannot train scalar quantizer on empty input")
    d = first["d"]

    def res_j(j):
        return F.element_at(F.col(vec_col), j + 1).cast(
            "double"
        ) - F.element_at(F.col("__cvec"), j + 1).cast("double")

    aggs = [F.min(res_j(j)).alias(f"mn{j}") for j in range(d)] + [
        F.max(res_j(j)).alias(f"mx{j}") for j in range(d)
    ]
    row = joined.agg(*aggs).first()
    return SQModel(
        dmin=tuple(float(row[f"mn{j}"]) for j in range(d)),
        dmax=tuple(float(row[f"mx{j}"]) for j in range(d)),
    )


def ivfsq_encode(
    assigned: DataFrame,
    centroids: DataFrame,
    model: SQModel,
    **res_kwargs,
) -> DataFrame:
    """``(id, cluster_id, codes ARRAY<INT>)`` — the compressed corpus
    (write it ``partitionBy(shard)`` cluster-sorted for the pruned
    layout, exactly like the IVF-PQ codes table)."""
    res = residuals(assigned, centroids, **res_kwargs)
    return res.select(
        "id", "cluster_id", encode_expr("res", model).alias("codes")
    )


def ivfsq_search(
    codes_df: DataFrame,
    centroids: DataFrame,
    model: SQModel,
    queries: DataFrame,
    k: int,
    n_probe: int,
    *,
    query_id_col: str = "query_id",
    query_col: str = "query",
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "cvec",
    method: str = "arrow",
) -> DataFrame:
    """Pruned decode-and-score search over residual codes. Returns
    ``(query_id, rank, neighbor_id, adist2)``.

    - ``"arrow"`` (default): each scanned cluster's rows decoded and
      GEMMed against only the queries probing it, one running top-k
      per task (``search.stream_topk``). The scan-scale path: the
      native fold over ~10⁶ (query, candidate) pairs × d element ops
      is an order of magnitude slower (measured 24 s vs 2 s at
      n=200k, nq=256).
    - ``"native"``: probe ranking (exact kNN's native plan over the
      centroid frame), reconstruction ``c + (dmin + code·scale)`` and
      the fold all in whole-stage codegen, ranked by
      ``search.rank_winners`` — bit-reproducible; the oracle's path
      (``ivfsq_search_fixed``).
    """
    if k <= 0 or n_probe <= 0:
        raise ValueError("k and n_probe must be positive")  # P3
    if method == "arrow":
        return search_frames(
            codes_df, centroids, queries, n_probe, "adist2",
            lambda pruned, plan, cents: _ivfsq_score(
                pruned, plan, cents, model, k
            ),
            query_id_col, query_col, centroid_id_col, centroid_vec_col,
        )
    if method != "native":
        raise ValueError(f"unknown method {method!r}")
    from vector_indexer_spark.functions.distance import (  # noqa: PLC0415
        dist2_expr,
    )

    # J3/W1: top-n_probe clusters per query
    probes = knn_exact(
        centroids, queries, n_probe, id_col=centroid_id_col,
        vec_col=centroid_vec_col, query_id_col=query_id_col,
        query_col=query_col, method="native",
    ).select("query_id", F.col("neighbor_id").alias("cluster_id"))
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(query_col).alias("__q")
    )
    cents = centroids.select(
        F.col(centroid_id_col).alias("cluster_id"),
        F.col(centroid_vec_col).alias("__cvec"),
    )
    # J4/P6: candidates from probed clusters only
    cand = codes_df.join(F.broadcast(probes), "cluster_id").join(
        F.broadcast(cents), "cluster_id"
    )
    recon = F.zip_with(
        F.col("__cvec"),
        reconstruct_expr("codes", model),
        lambda c, r: c.cast("double") + r,
    )
    scored = cand.join(F.broadcast(q), "query_id").select(
        "query_id",
        F.col("id").alias("neighbor_id"),
        dist2_expr("__q", recon).alias("adist2"),
    )
    return rank_winners(scored, k, "adist2")


# ---------------------------------------------------------------------------
# Persisted IVF-SQ index: the composable stages above wired into the
# engine's standard on-disk contract (codes-only table partitioned by
# shard, cluster-sorted; centroid table; JSON meta) — same layout and
# pruning behavior as the flat and IVF-PQ indexes.
# ---------------------------------------------------------------------------

IVFSQ_FORMAT_VERSION = 1


@dataclass
class IvfSqIndex(IvfHandle):
    sq: SQModel  # residual quantizer


def build_ivfsq_index(
    df: DataFrame,
    path: str,
    *,
    id_col: str = "id",
    vec_col: str = "values",
    nlist: int | None = None,
    seed: int = 42,
    mode: str = "full",
    max_iters: int | None = None,
) -> IvfSqIndex:
    """Coarse k-means → dense relabel + sharding → residual SQ8 train
    (distributed min/max over ALL residuals — no sampling) → codegen
    encode → ``partitionBy(shard_id)`` cluster-sorted codes write.

    The persisted table is ~d bytes per vector (uint8-ranged ints,
    dictionary/RLE-packed by parquet) instead of 4d — and the
    query-time scan Hive-prunes to probed shards exactly like the flat
    index.
    """
    n, dimension = check_build_input(df, vec_col, None)
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
    cents_df = base.centroids_df(df.sparkSession)
    kw = dict(id_col="id", vec_col="__vec")
    sqm = ivfsq_train(dense, cents_df, **kw)
    write_sharded(
        attach_shards(ivfsq_encode(dense, cents_df, sqm, **kw), base),
        base.codes_path(),
        "overwrite",
    )
    assigned.unpersist()
    write_centroids(
        df.sparkSession, path, "cvec", base.centroids, base.centroid_shards
    )
    sqm.save(path)
    write_meta(path, _META, handle_meta(base, IVFSQ_FORMAT_VERSION, "ivfsq"))
    return IvfSqIndex(**vars(base), sq=sqm)


def load_ivfsq_index(spark, path: str) -> IvfSqIndex:
    meta = read_meta(path, _META, IVFSQ_FORMAT_VERSION, "IVF-SQ")
    fields, _ = load_layout(spark, path, meta, "cvec")
    return IvfSqIndex(**fields, sq=SQModel.load(path))


def search_ivfsq_index(
    spark,
    index: IvfSqIndex,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 20,
    *,
    query_id_col: str = "query_id",
    query_col: str = "query",
    codes: DataFrame | None = None,
) -> DataFrame:
    """Pruned search against the persisted index: one driver probe plan
    on the resident centroid matrix → literal shard/cluster predicates
    (Hive partition pruning + row-group stats on the cluster-sorted
    layout) → the decode-and-score kernel of :func:`ivfsq_search` over
    exactly each query's own probed clusters."""
    return search_persisted(
        spark, index, queries, k, n_probe, codes, "adist2",
        lambda pruned, plan, cents: _ivfsq_score(
            pruned, plan, cents, index.sq, k
        ),
        query_id_col, query_col,
    )


def _ivfsq_score(codes_df, plan, cents, model, k):
    """Arrow decode-and-score over a pruned codes scan: each cluster's
    block is reconstructed (``c + dmin + code·scale``) and scored
    against ONLY the queries that probe it (the masked all-queries
    GEMM scored every query against every kept row and discarded the
    misses — at 256 localized queries / 16 of 4000 probes that is
    ~99% wasted flops; same fix as the IVF-BQ arrow kernel), through
    the shared top-k stream."""
    if plan.qmat.shape[1] != model.dimension:
        raise ValueError(
            f"query dimension {plan.qmat.shape[1]} != SQ dimension "
            f"{model.dimension}"
        )

    def blocks(pdf, state):
        qmat_, qprobe_, cents_, dmin_, scale_ = state
        codes = pdf["codes"].to_numpy()
        vids = pdf["id"].to_numpy()
        for c, rows, qidx in probed_clusters(pdf, qprobe_):
            rc = _sq_decode(codes[rows], dmin_, scale_, cents_[c])
            d2 = pairwise_dist2(qmat_[qidx], rc)
            yield qidx, *topk_per_row(d2, k, ids=vids[rows])

    dmin = np.asarray(model.dmin, dtype=np.float64)
    scale = np.asarray(model.scale, dtype=np.float64)
    return stream_topk(
        codes_df.select("id", "cluster_id", "codes"), plan.qids, k, "adist2",
        blocks, (plan.qmat, plan.qprobe, cents, dmin, scale),
    )


def add_vectors_ivfsq(
    spark,
    index: IvfSqIndex,
    df: DataFrame,
    *,
    id_col: str = "id",
    vec_col: str = "values",
    check_duplicate_ids: bool = True,
) -> dict:
    """Incremental ingest for the IVF-SQ tier (Faiss
    ``IndexIVFScalarQuantizer.add``): assign the new batch to the
    FROZEN coarse centroids, encode residuals with the FROZEN
    quantizer (values outside the trained [dmin, dmax] clamp to the
    0/255 edge codes — standard frozen-quantizer behavior; rebuild
    when the data distribution drifts), append shard-partitioned code
    files, bump the meta count. One shuffle of the new batch only.
    Returns ``{n_added, n_vectors}``.
    """
    cents_df = index.centroids_df(spark)
    n_new = append_rows(
        spark,
        index,
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("__vec")),
        index.codes_path(),
        _META,
        id_col="id",
        vec_col="__vec",
        check_duplicate_ids=check_duplicate_ids,
        encode=lambda assigned: ivfsq_encode(
            assigned, cents_df, index.sq, id_col="id", vec_col="__vec"
        ),
    )
    return {"n_added": n_new, "n_vectors": index.n_vectors}
