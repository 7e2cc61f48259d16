"""IVF-BQ: per-cluster binary quantization over the IVF layout.

Completes the quantization-tier × index matrix (IVF-flat / IVF-SQ /
IVF-PQ / **IVF-BQ**) at the smallest code size: 1 bit/dimension, d/8
bytes per vector — 32× below flat, 8× below SQ8. The analog of FAISS's
``IndexBinaryIVF``, upgraded the same way the engine's SQ tier was:
codes are **residual signs** — bit_j = (x_j > c_j) against the
vector's OWN coarse centroid — so the quantizer adapts per cluster
with ZERO extra training (the threshold vector IS the centroid; the
flat-BQ failure on clustered data — every member of a far-from-origin
cluster getting identical bits — cannot happen).

Scoring, both over probed clusters only (J3/J4 pruning unchanged):

- ``adc`` (default): asymmetric — the query stays float and each
  vector is modeled as ``c + ρ_c·sign(x−c)`` with ONE trained scalar
  per cluster (``ivfbq_train_scales``: the RMS residual, order-free
  integer-micros aggregate), giving the distance ESTIMATOR ``adist2 =
  |q−c|² − 2ρ_c·(q−c)·sign(x−c) + d·ρ_c²``. The ``|q−c|²`` term makes
  estimates comparable ACROSS probed clusters — a raw alignment dot
  is swamped by far-cluster residual magnitudes (measured: recall 0 →
  0.9+ on a spread-cluster fixture). Like every 1-bit shortlist, the
  deployment shape is shortlist → exact refine
  (:func:`ivfbq_search_refined`).
- ``hamming``: symmetric — the query is sign-packed against EACH
  probed cluster's centroid and scored with XOR+popcount. Cheapest
  possible kernel; bounded [0, d] in every cluster, no scale needed.

Scale posture: candidates = codes ⋈ broadcast(probes) — the codes
table never shuffles; the native paths are whole-stage-codegen folds
(bit-replayable in DuckDB — oracles ``ivfbq_search_fixed`` /
``ivfbq_hamming_fixed``); the arrow ADC path decodes each Arrow batch
to a ±1 matrix and GEMMs each cluster's rows against only its probing
queries, in the one map-side top-k stream every arrow scorer shares
(``search.stream_topk``, the IVF-SQ arrow shape).

Reference parity: the reference is flat-IVF only (src/shards.rs); this
tier extends it like SQ/PQ do, same result contract (ties by id).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from vector_indexer_spark.functions.kernels import topk_per_row
from vector_indexer_spark.operators.bq import (
    WORD_BITS,
    _unpack_bits,
    bit_fold,
    codes_fit,
    hamming_expr,
)
from vector_indexer_spark.operators.index_build import (
    IvfHandle,
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
from vector_indexer_spark.operators.knn import knn_exact
from vector_indexer_spark.operators.search import (
    probe_pairs,
    probed_clusters,
    rank_winners,
    search_frames,
    search_persisted,
    stream_topk,
)

__all__ = [
    "ivfbq_encode",
    "ivfbq_search",
    "ivfbq_search_refined",
    "ivfbq_train_scales",
    "pack_sign_vs_expr",
]


def pack_sign_vs_expr(vec: Column | str, thr: Column | str, d: int) -> Column:
    """``ARRAY<BIGINT>`` of packed sign bits of one array column
    against another (bit_j = vec[j] > thr[j]) — the column-threshold
    twin of ``bq.pack_bits_expr``'s literal thresholds; same word
    layout (32 bits/word, big-endian fold ``acc*2 + bit``), same
    DuckDB replay."""
    vec = F.col(vec) if isinstance(vec, str) else vec
    thr = F.col(thr) if isinstance(thr, str) else thr
    n_words = (d + WORD_BITS - 1) // WORD_BITS

    def word(w: int) -> Column:
        base = w * WORD_BITS
        return F.aggregate(
            F.sequence(F.lit(1), F.lit(WORD_BITS)),
            F.lit(0).cast("long"),
            lambda acc, j: acc * 2
            + F.when(
                (F.lit(base) + j <= d)
                & (
                    F.element_at(vec, F.lit(base) + j)
                    > F.element_at(thr, F.lit(base) + j)
                ),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .cast("long"),
        )

    return F.array(*[word(w) for w in range(n_words)])


def _resid_adc_expr(
    codes: Column | str, qvec: Column | str, cvec: Column | str, d: int
) -> Column:
    """Residual 1-bit ADC: ONE flat left-fold over dims of
    ``(q_j − c_j) · (2·bit_j − 1)`` — the ``bq.adc_score_expr`` shape
    with a column centroid subtracted from the query term."""
    codes = F.col(codes) if isinstance(codes, str) else codes
    qvec = F.col(qvec) if isinstance(qvec, str) else qvec
    cvec = F.col(cvec) if isinstance(cvec, str) else cvec
    s = bit_fold(
        codes,
        d,
        lambda j, bit: (
            F.element_at(qvec, j).cast("double")
            - F.element_at(cvec, j).cast("double")
        )
        * (bit * 2 - 1).cast("double"),
    )
    return F.when(codes_fit(codes, d), s)


def ivfbq_encode(
    assigned: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "id",
    vec_col: str = "values",
    cluster_col: str = "cluster_id",
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "cvec",
) -> DataFrame:
    """``(id, cluster_id, codes ARRAY<BIGINT>)`` — residual sign bits
    against each vector's own coarse centroid. Scan-local after the
    broadcast centroid join; no training pass (the centroid table is
    the quantizer). Write ``partitionBy(shard)`` cluster-sorted for
    the pruned layout, exactly like the IVF-SQ codes table."""
    first = assigned.select(F.size(vec_col).alias("d")).first()
    if first is None:
        raise ValueError("cannot encode an empty DataFrame")
    d = first["d"]
    c = centroids.select(
        F.col(centroid_id_col).alias(cluster_col),
        F.col(centroid_vec_col).alias("__cvec"),
    )
    return (
        assigned.join(F.broadcast(c), cluster_col)
        .select(
            F.col(id_col).alias("id"),
            cluster_col,
            pack_sign_vs_expr(vec_col, "__cvec", d).alias("codes"),
        )
    )


def ivfbq_train_scales(
    assigned: DataFrame,
    centroids: DataFrame,
    *,
    vec_col: str = "values",
    cluster_col: str = "cluster_id",
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "cvec",
) -> DataFrame:
    """Per-cluster residual scale ``ρ_c`` — the one scalar that turns
    sign bits into a distance estimator: model ``x ≈ c + ρ_c·sign(x−c)``
    with ``ρ_c = RMS residual per dimension`` over the cluster's
    members. Returns the nlist-sized ``(cluster_id, rho)`` table.

    Deterministic/oracle-exact: each member contributes its residual
    energy as ONE integer — ``floor(micros · dist2(x, c))`` where the
    dist2 is the engine's fixed-order fold (bit-identical on both
    engines) — so the cross-member sum is order-free; ρ is one sqrt at
    the end. One broadcast join + one cluster-key aggregate. (A
    per-dimension floor fold was semantically equivalent for the
    estimator but ~10× more expression nodes — measured 71 s → 8 s at
    1M×128.)"""
    from vector_indexer_spark.functions.distance import (  # noqa: PLC0415
        dist2_expr,
    )

    c = centroids.select(
        F.col(centroid_id_col).alias(cluster_col),
        F.col(centroid_vec_col).alias("__cvec"),
    )
    joined = assigned.join(F.broadcast(c), cluster_col)
    first = joined.select(F.size(vec_col).alias("d")).first()
    if first is None:
        raise ValueError("cannot train scales on empty input")
    d = first["d"]
    energy = F.floor(
        dist2_expr(vec_col, "__cvec") * F.lit(1_000_000.0)
    ).cast("long")
    agg = joined.select(cluster_col, energy.alias("__e")).groupBy(
        cluster_col
    ).agg(
        F.sum("__e").alias("__esum"), F.count(F.lit(1)).alias("__n")
    )
    rho = F.sqrt(
        F.col("__esum").cast("double")
        / F.lit(1_000_000.0)
        / (F.col("__n").cast("double") * F.lit(float(d)))
    )
    return agg.select(cluster_col, rho.alias("rho"))


def _check_scoring(scoring: str, method: str) -> None:
    if scoring not in ("adc", "hamming"):
        raise ValueError(f"unknown scoring {scoring!r}")
    if method not in ("arrow", "native"):
        raise ValueError(f"unknown method {method!r}")
    if method == "arrow" and scoring != "adc":
        raise ValueError("arrow path implements adc scoring only")


def ivfbq_search(
    codes_df: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 20,
    *,
    scales: DataFrame | None = None,
    scoring: str = "adc",
    method: str = "native",
    query_id_col: str = "query_id",
    query_col: str = "query",
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "cvec",
) -> DataFrame:
    """Pruned binary search over residual sign codes.

    - ``adc`` (default, requires ``scales`` from
      :func:`ivfbq_train_scales`): ranks by the 1-bit distance
      ESTIMATOR ``adist2 = |q−c|² − 2ρ_c·(q−c)·sign(x−c) + d·ρ_c²`` —
      i.e. ``|q − (c + ρ_c·s)|²`` — ascending. The ``|q−c|²`` term is
      what makes scores comparable ACROSS probed clusters (a raw
      alignment dot is swamped by far-cluster residual magnitudes);
      the estimator can dip slightly negative (1-bit resolution), the
      ranking contract is unaffected. Returns ``(query_id, rank,
      neighbor_id, adist2)``.
    - ``hamming``: symmetric XOR+popcount against the query's
      per-cluster sign pack, ascending; bounded [0, d] in every
      cluster. Returns ``(query_id, rank, neighbor_id, hamming)``.

    Ties by id. ``native`` is the codegen/oracle path: probes ranked
    by exact kNN's native plan over the centroid frame, candidates
    scored by the fold and ranked by ``search.rank_winners``;
    ``method="arrow"`` (adc only) is the scan-scale kernel: per-batch
    ±1 decode, a per-cluster GEMM against the probing queries, one
    running top-k per task.
    """
    if k <= 0 or n_probe <= 0:
        raise ValueError("k and n_probe must be positive")  # P3
    _check_scoring(scoring, method)
    if scoring == "adc" and scales is None:
        raise ValueError(
            "adc scoring needs the per-cluster scale table — "
            "pass scales=ivfbq_train_scales(...)"
        )
    if method == "arrow":

        def score(pruned, plan, cents):
            rhov = np.zeros(len(cents), dtype=np.float64)
            for r in scales.select("cluster_id", "rho").collect():
                rhov[r[0]] = float(r[1])
            return _ivfbq_adc_score(pruned, plan, cents, rhov, k)

        return search_frames(
            codes_df, centroids, queries, n_probe, "adist2", score,
            query_id_col, query_col, centroid_id_col, centroid_vec_col,
        )
    qd = queries.select(F.size(query_col).alias("d")).first()
    if qd is None:
        raise ValueError("empty query batch")
    # J3/W1: top-n_probe clusters per query
    probes = knn_exact(
        centroids, queries, n_probe, id_col=centroid_id_col,
        vec_col=centroid_vec_col, query_id_col=query_id_col,
        query_col=query_col, method="native",
    ).select("query_id", F.col("neighbor_id").alias("cluster_id"))
    return _ivfbq_native_score(
        codes_df, centroids, queries, probes, k, scales, scoring, qd["d"],
        query_id_col, query_col, centroid_id_col, centroid_vec_col,
    )


def _ivfbq_native_score(
    codes_df, centroids, queries, probes, k, scales, scoring, d,
    query_id_col, query_col, centroid_id_col="centroid_id",
    centroid_vec_col="cvec",
):
    """The codegen scorer of the candidates of ``probes`` — each query's
    ``(query_id, cluster_id)`` probe pairs — ranked by
    :func:`search.rank_winners`. Codes join the broadcast probes, so
    they never shuffle; ``|q−c|²``, the ADC estimator's first term, is
    the same fold the probe ranking uses."""
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
    # J4/P6: candidates from probed clusters only; codes never shuffle
    cand = (
        codes_df.join(F.broadcast(probes), "cluster_id")
        .join(F.broadcast(cents), "cluster_id")
        .join(F.broadcast(q), "query_id")
    )
    if scoring == "hamming":
        dist_col = "hamming"
        dist = hamming_expr(
            F.col("codes"), pack_sign_vs_expr("__q", "__cvec", d)
        )
    else:
        cand = cand.join(
            F.broadcast(scales.select("cluster_id", "rho")), "cluster_id"
        )
        dist_col = "adist2"
        raw = _resid_adc_expr("codes", "__q", "__cvec", d)
        rho = F.col("rho")
        dist = (
            dist2_expr("__q", "__cvec")
            - F.lit(2.0) * rho * raw
            + F.lit(float(d)) * rho * rho
        )
    scored = cand.select(
        "query_id", F.col("id").alias("neighbor_id"), dist.alias(dist_col)
    )
    return rank_winners(scored, k, dist_col)


def _ivfbq_adc_score(codes_df, plan, cents, rhov, k):
    """Arrow residual 1-bit ADC over a pruned codes scan: each Arrow
    batch decodes to a ±1 matrix, and each cluster's code block is
    scored against ONLY the queries that probe it (a masked
    all-queries GEMM scored every query against every partition row
    and discarded the misses — measured 4.29 s vs 1.30 s for the
    per-cluster shape at 1M×128, 256 localized queries / 16 probes),
    through the shared top-k stream. The ``|q−c|²`` term is the plan's
    own probe distance."""
    d = plan.qmat.shape[1]
    # per-cluster |q−c|² of its probing queries, aligned with qprobe
    qd2 = {
        c: plan.probe_d2[qidx, np.argmax(plan.probe_ids[qidx] == c, axis=1)]
        for c, qidx in plan.qprobe.items()
    }

    def blocks(pdf, state):
        qmat_, cents_, qprobe_, qd2_, rhov_ = state
        signs = _unpack_bits(pdf["codes"], d) * 2.0 - 1.0
        ids = pdf["id"].to_numpy().astype(np.int64)
        # raw = (q − c)·signs_row; adist2 = |q−c|² − 2ρ·raw + d·ρ²
        for c, rows, qidx in probed_clusters(pdf, qprobe_):
            raw = (qmat_[qidx] - cents_[c][None, :]) @ signs[rows].T
            rho = rhov_[c]
            adist2 = qd2_[c][:, None] - 2.0 * rho * raw + d * rho * rho
            yield qidx, *topk_per_row(adist2, k, ids[rows])

    return stream_topk(
        codes_df.select("id", "cluster_id", "codes"), plan.qids, k, "adist2",
        blocks, (plan.qmat, cents, plan.qprobe, qd2, rhov),
    )


def ivfbq_search_refined(
    codes_df: DataFrame,
    centroids: DataFrame,
    vectors: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    shortlist: int = 100,
    n_probe: int = 20,
    scales: DataFrame | None = None,
    scoring: str = "adc",
    method: str = "native",
    id_col: str = "id",
    vec_col: str = "values",
    query_id_col: str = "query_id",
    query_col: str = "query",
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "cvec",
) -> DataFrame:
    """IVF-BQ shortlist → exact L2 rescoring (the deployment shape:
    the 1-bit tier generates candidates, the raw rows settle the final
    ranking — a semi-join-sized exact pass)."""
    from vector_indexer_spark.operators.pq import refine_topk  # noqa: PLC0415

    short = ivfbq_search(
        codes_df,
        centroids,
        queries,
        k=shortlist,
        n_probe=n_probe,
        scales=scales,
        scoring=scoring,
        method=method,
        query_id_col=query_id_col,
        query_col=query_col,
        centroid_id_col=centroid_id_col,
        centroid_vec_col=centroid_vec_col,
    )
    return refine_topk(
        short.select("query_id", "neighbor_id"),
        vectors,
        queries,
        k=k,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
        query_col=query_col,
    )


# ---------------------------------------------------------------------------
# Persisted IVF-BQ index: the composable stages above wired into the
# engine's standard on-disk contract (codes-only table partitioned by
# shard, cluster-sorted; centroid parquet; nlist-sized scales parquet;
# JSON meta) — same layout and pruning behavior as the flat / IVF-SQ /
# IVF-PQ indexes, at d/8 bytes per vector.
# ---------------------------------------------------------------------------

IVFBQ_FORMAT_VERSION = 1
_META = "ivfbq_meta.json"


@dataclass
class IvfBqIndex(IvfHandle):
    rhos: object  # (nlist,) float64 ndarray — per-cluster ADC scales

    def scales_df(self, spark) -> DataFrame:
        cols = {"cluster_id": np.arange(self.nlist), "rho": self.rhos}
        return driver_frame(spark, cols, "cluster_id long, rho double")


def build_ivfbq_index(
    df: DataFrame,
    path: str,
    *,
    id_col: str = "id",
    vec_col: str = "values",
    nlist: int | None = None,
    seed: int = 42,
    mode: str = "full",
    max_iters: int | None = None,
) -> IvfBqIndex:
    """Coarse k-means → dense relabel + sharding → per-cluster sign
    encode (no quantizer training pass — the centroids ARE the
    thresholds) + one scale aggregate → ``partitionBy(shard_id)``
    cluster-sorted codes write. ~d/8 bytes per vector on disk; the
    query-time scan Hive-prunes to probed shards exactly like the
    other tiers."""
    n, dimension = check_build_input(df, vec_col, None)
    assigned, dense, base = coarse_stage(
        df, path, n, dimension, vec_col=vec_col, nlist=nlist, seed=seed,
        mode=mode, max_iters=max_iters,
    )
    # signs and scales are taken against the float32 centroids the
    # table stores, so the handle holds exactly what a reload would read
    base.centroids = base.centroids.astype(np.float32).astype(np.float64)
    dense = dense.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("__vec"), "cluster_id"
    )
    cents_df = base.centroids_df(df.sparkSession)
    rho_rows = {
        r.cluster_id: float(r.rho)
        for r in ivfbq_train_scales(dense, cents_df, vec_col="__vec").collect()
    }
    rhos = np.array(
        [rho_rows.get(i, 0.0) for i in range(base.nlist)], dtype=np.float64
    )
    write_sharded(
        attach_shards(
            ivfbq_encode(dense, cents_df, id_col="id", vec_col="__vec"), base
        ),
        base.codes_path(),
        "overwrite",
    )
    assigned.unpersist()
    write_centroids(
        df.sparkSession, path, "cvec", base.centroids, base.centroid_shards,
        rhos,
    )
    write_meta(path, _META, handle_meta(base, IVFBQ_FORMAT_VERSION, "ivfbq"))
    return IvfBqIndex(**vars(base), rhos=rhos)


def load_ivfbq_index(spark, path: str) -> IvfBqIndex:
    meta = read_meta(path, _META, IVFBQ_FORMAT_VERSION, "IVF-BQ")
    fields, rows = load_layout(spark, path, meta, "cvec")
    return IvfBqIndex(
        **fields, rhos=np.asarray([r.rho for r in rows], dtype=np.float64)
    )


def search_ivfbq_index(
    spark,
    index: IvfBqIndex,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 20,
    *,
    scoring: str = "adc",
    method: str | None = None,
    query_id_col: str = "query_id",
    query_col: str = "query",
    codes: DataFrame | None = None,
) -> DataFrame:
    """Pruned search against the persisted index: one driver probe plan
    on the resident centroid matrix → literal shard/cluster predicates
    (Hive partition pruning + row-group stats on the cluster-sorted
    layout) → the tier scorer over exactly each query's own probe
    list, so at ``nlist >= _HIER_PROBE_NLIST`` (where that list is the
    approximate hierarchical one) pruning and scoring always agree.

    ``method`` defaults by ``scoring``: the arrow GEMM kernel for adc,
    the codegen path for hamming (the arrow path implements adc only).
    The codegen path joins the pruned scan against the plan's own
    ``(query_id, cluster_id)`` pairs (:func:`search.probe_pairs`)."""
    if method is None:
        method = "arrow" if scoring == "adc" else "native"
    _check_scoring(scoring, method)

    def score(pruned, plan, cents):
        if method == "arrow":
            return _ivfbq_adc_score(pruned, plan, cents, index.rhos, k)
        return _ivfbq_native_score(
            pruned,
            index.centroids_df(spark),
            queries,
            probe_pairs(spark, plan),
            k,
            index.scales_df(spark) if scoring == "adc" else None,
            scoring,
            index.dimension,
            query_id_col,
            query_col,
        )

    return search_persisted(
        spark, index, queries, k, n_probe, codes,
        "hamming" if scoring == "hamming" else "adist2", score,
        query_id_col, query_col,
    )
