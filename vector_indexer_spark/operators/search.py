"""Batch ANN search over a persisted IVF index (K9 = J3→J4→F1→W2).

Reference query pipeline (src/ivf_index.rs:179-267): rank all
centroids by distance to the query, take ``n_probe`` (W1), read only
those clusters' bytes from their shards (S8), score every candidate
(F1), return the top ``k`` ascending (W2).

Spark-first re-expression, one job for a whole *batch* of queries:

1. **Probe ranking** (J3/W1): the centroid matrix is driver-resident
   (≤ 4√n·d floats — 12 MB at n=1M,d=768) and broadcast; each Arrow
   batch of queries gets a vectorized top-``n_probe`` (NumPy
   argpartition). Above ``_HIER_PROBE_NLIST`` centroids the ranking
   goes two-stage (J2 reused: shortlist √nlist meta-centroids, exact
   top-n_probe among members) so per-query compute stays
   O(top_meta·√nlist·d) instead of O(nlist·d) at 100 TB sizing
   (nlist≈1.3M). The matrix itself still broadcasts once per batch —
   ~8 GB float64 at that ceiling, within (at) Spark's torrent
   broadcast capacity; a fully-distributed centroid-join ranking is
   the next step beyond that.
2. **Pruned scan** (J4/P6/S8): probed cluster ids are always
   collectible (bounded by nlist), so the vector scan gets literal
   ``shard_id IN (...) AND cluster_id IN (...)`` predicates —
   partition pruning reads only the probed Hive directories, the
   exact analog of the reference's per-cluster byte-range reads.
   cluster ids are globally unique, so the cluster predicate alone is
   exact; the shard predicate prunes directories earlier.
3. **Scoring + top-k** (F1/W2): per-Arrow-batch NumPy scoring of each
   candidate cluster against only the queries that probed it, folded
   into one running *local* top-k per task that the task emits once,
   then one global rank over ``≤ tasks × nq × k`` rows
   (:func:`merge_winners`: on the driver when the real task count
   keeps that driver-sized, a window beyond). The full candidate ×
   query cross-product never hits a shuffle.

``method="native"`` runs the same logical plan as pure DataFrame ops
(broadcast joins + fold expression + window) — bit-reproducible and
SQL-oracle-checkable; the arrow path is the throughput path. Every
native (codegen) twin of every tier ends in the one window rank,
:func:`rank_winners`; the composable IVF-SQ/BQ/RaBitQ twins rank
their probes with ``knn_exact(method="native")`` over the centroid
frame, and the persisted native BQ/RaBitQ searches score the driver
plan's own probe pairs (:func:`probe_pairs`) instead.

The arrow path's driver probe plan (:func:`probe_plan`) and pruning
(:func:`prune`) are the one search skeleton of every persisted tier:
the compressed tiers (IVF-SQ/BQ/RaBitQ/PQ) reach them through
:func:`search_persisted`, their composable stages through
:func:`search_frames`. Every Arrow scorer — flat and IVF, exact kNN
included — runs through one map-side top-k stream
(:func:`stream_topk`) and supplies only its block function.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from vector_indexer_spark.config import MAX_K, MAX_N_PROBE
from vector_indexer_spark.functions.distance import dist2_expr
from vector_indexer_spark.functions.kernels import (
    pairwise_dist2,
    stack_arrays,
    topk_per_row,
    topk_per_row_hierarchical,
)
from vector_indexer_spark.operators.index_build import (
    IvfHandle,
    IvfIndex,
    collect_centroids,
    driver_frame,
)

# Above this many estimated local-top-k rows, the final merge falls
# back to a distributed window rank instead of a driver merge.
_DRIVER_MERGE_LIMIT = 50_000_000

# Above this many centroids, probe ranking goes hierarchical: rank
# ~sqrt(nlist) meta-centroids, then exact top-n_probe among only the
# shortlisted metas' members (kernels.topk_per_row_hierarchical).
# Flat ranking is O(nq*nlist*d) against a driver/broadcast-resident
# matrix — at 100 TB sizing (nlist≈1.3M, d=768) that matrix is ~8 GB,
# at the broadcast ceiling; hierarchical ranking touches
# O(top_meta*sqrt(nlist)) rows per query and needs only the same
# matrix partitioned by meta label. The hierarchy itself is
# sqrt(nlist) extra centroids — negligible.
_HIER_PROBE_NLIST = 65_536

# The arrow path broadcasts a dense (nq × probed-clusters) bool mask;
# past this many mask bytes (256 MB ≈ nq=100k × 2.5k clusters) the
# batch routes to the fully-distributed native path instead.
_ARROW_DENSE_MASK_LIMIT = 256 * 1024 * 1024

# Past this many queries, the arrow path leaves the masked all-queries
# GEMM kernel: it wastes ~(1 − n_probe/nlist) of its flops, and at
# bulk query batches that waste dominates (measured 102 s masked vs
# 7.4 s native at 20k queries × 20k docs, nlist 284, n_probe 8 —
# ~5 ms/query). Bulk batches whose query matrix still fits
# _ARROW_BULK_QUERY_BYTES go to the per-cluster GEMM kernel
# (_search_arrow_bulk); truly corpus-sized query sides are a join
# workload and run the fully-relational native plan.
_ARROW_MAX_QUERY_BATCH = 8192

# Broadcast budget for the bulk per-cluster kernel's query matrix
# (float64); 256 MB ≈ 250k × 128d or 1M × 32d queries.
_ARROW_BULK_QUERY_BYTES = 256 * 1024 * 1024

# Query-chunk size for driver probe ranking in the bulk kernel — keeps
# the dense (chunk × nlist) distance matrix bounded (~8192 × 4000 × 8B
# ≈ 256 MB at the default).
_BULK_PROBE_CHUNK = 8192

# Past this many centroid-matrix bytes (nlist·d·8), the native path
# stops broadcasting the matrix and ranks probes RELATIONALLY — a
# knn_exact over the persisted centroid table with the query batch
# broadcast — so neither the driver nor any executor ever holds the
# full matrix. 1 GiB default: comfortably inside torrent-broadcast
# range below it, memory-safe scan above it.
_CENTROID_BROADCAST_LIMIT = 1 << 30


def rank_probes(
    queries: DataFrame,
    centroids: np.ndarray,
    centroid_shards: np.ndarray,
    n_probe: int,
    *,
    query_id_col: str = "query_id",
    query_col: str = "query",
    hierarchy: tuple[np.ndarray, np.ndarray] | None = None,
) -> DataFrame:
    """J3/W1 — per-query top-``n_probe`` centroids.

    Returns ``(query_id, probe_rank, cluster_id, shard_id, centroid_dist2)``
    with probe_rank 1-based ascending and (dist, id) tie-break.

    ``hierarchy`` = (meta_centroids, meta_labels): when given, ranking
    is two-stage (shortlist metas, exact top-n_probe among members) —
    the large-nlist path; callers pass ``index.probe_hierarchy()``
    above ``_HIER_PROBE_NLIST``.
    """
    spark = queries.sparkSession
    bc = spark.sparkContext.broadcast(
        (
            np.asarray(centroids, dtype=np.float64),
            np.asarray(centroid_shards),
            None
            if hierarchy is None
            else (
                np.asarray(hierarchy[0], dtype=np.float64),
                np.asarray(hierarchy[1]),
            ),
        )
    )

    def _rank(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cents, shards, hier = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            q = stack_arrays(pdf[query_col])
            if hier is not None:
                dists, ids = topk_per_row_hierarchical(
                    q, cents, hier[0], hier[1], n_probe
                )
            else:
                d2 = pairwise_dist2(q, cents)
                dists, ids = topk_per_row(d2, n_probe)
            nq, p = ids.shape
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(pdf[query_id_col].to_numpy(), p),
                    "probe_rank": np.tile(np.arange(1, p + 1), nq),
                    "cluster_id": ids.reshape(-1),
                    "shard_id": shards[ids.reshape(-1)],
                    "centroid_dist2": dists.reshape(-1),
                }
            )

    return queries.select(query_id_col, query_col).mapInPandas(
        _rank,
        "query_id long, probe_rank int, cluster_id long, shard_id long,"
        " centroid_dist2 double",
    )


def rank_probes_relational(
    spark: SparkSession,
    index: IvfIndex,
    queries: DataFrame,
    n_probe: int,
    *,
    query_id_col: str = "query_id",
    query_col: str = "query",
) -> DataFrame:
    """J3/W1 with NO centroid matrix anywhere: probe ranking as an
    exact kNN over the persisted centroid TABLE (query batch
    broadcast, per-partition top-n_probe map-side combine — knn.py's
    scale plan). Same output contract as :func:`rank_probes`.

    This is the memory-ceiling escape hatch: at nlist≈1.3M, d=768
    (100 TB sizing) the matrix is ~8 GB — too fat to broadcast per
    batch and to pin on the driver. Here the centroid table is just
    another distributed scan; compute stays O(nq·nlist·d) but spread
    across the cluster. (The hierarchical broadcast path above prunes
    compute instead; this one removes the memory bound. They compose
    in principle — shortlist metas relationally first — once a
    workload needs both at once.)

    Distance-tie caveat: the table stores float32 vectors, the
    freshly-trained in-memory matrix is float64 — a near-tie can order
    differently between this path and :func:`rank_probes` on an index
    that was built (not loaded) in this session.
    """
    from vector_indexer_spark.operators.knn import knn_exact  # noqa: PLC0415

    cents = index.centroids_df(spark)
    ranked = knn_exact(
        cents,
        queries,
        k=n_probe,
        id_col="centroid_id",
        vec_col="vector",
        query_id_col=query_id_col,
        query_col=query_col,
    )
    shard_map = cents.select(
        F.col("centroid_id").alias("neighbor_id"), "shard_id"
    )
    # nlist (id, shard) pairs — bounded small even at nlist=1.3M
    return ranked.join(F.broadcast(shard_map), "neighbor_id").select(
        "query_id",
        F.col("rank").alias("probe_rank"),
        F.col("neighbor_id").alias("cluster_id"),
        "shard_id",
        F.col("dist2").alias("centroid_dist2"),
    )


class ProbePlan(NamedTuple):
    """The driver probe plan of one query batch (J3/W1) — the single
    probe ranking every arrow search path consumes: flat, and the
    persisted and composable IVF-SQ / IVF-BQ / IVF-RaBitQ / IVF-PQ
    scorers."""

    qids: np.ndarray  # (nq,) int64 query ids
    qmat: np.ndarray  # (nq, d) float64 query matrix
    probe_ids: np.ndarray  # (nq, n_probe) cluster ids, (dist, id) ascending
    probe_d2: np.ndarray  # (nq, n_probe) their squared centroid distances
    cluster_ids: np.ndarray  # sorted union of probed clusters
    shard_ids: np.ndarray | None  # sorted shards holding them (None: unknown)
    qprobe: dict  # cluster id -> indices of the queries probing it


def collect_queries(
    queries: DataFrame, dimension: int | None, query_id_col: str, query_col: str
) -> tuple[np.ndarray, np.ndarray] | None:
    """The one driver collect of a query batch (driver-sized by
    contract — the reference's whole input is a NumPy matrix), with
    P2 validation on the collected rows (no extra Spark job; a
    ``dimension`` of None checks against the first row's). Returns
    ``(qids, qmat)``, or None for an empty batch."""
    qrows = queries.select(query_id_col, query_col).collect()
    if not qrows:
        return None
    if dimension is None:
        dimension = len(qrows[0][1])
    bad = sum(1 for r in qrows if len(r[1]) != dimension)
    if bad:
        raise ValueError(f"{bad} queries have dimension != {dimension}")
    return (
        np.array([r[0] for r in qrows], dtype=np.int64),
        stack_arrays([r[1] for r in qrows]),
    )


def probe_plan(
    qids: np.ndarray,
    qmat: np.ndarray,
    centroids: np.ndarray,
    n_probe: int,
    *,
    ids: np.ndarray | None = None,
    shards: np.ndarray | None = None,
    hierarchy: Callable[[], tuple[np.ndarray, np.ndarray]] | None = None,
) -> ProbePlan:
    """J3/W1 on the driver: top-``n_probe`` centroids per query — flat
    (nq, nlist) distances below ``_HIER_PROBE_NLIST`` (read at call
    time), two-stage meta shortlist above it when the caller supplies
    the ``hierarchy`` (an index handle's ``probe_hierarchy``). Ranking
    runs in bounded query chunks, so a bulk batch never materializes
    (nq, nlist).

    ``ids`` names the cluster id of each centroid row (default: the
    row ordinal — the dense ids of a persisted index); ``shards`` maps
    a cluster id to its shard. The per-cluster probing-query index is
    inverted from one sort of the flattened (cluster, query) pairs —
    O(nq·n_probe log ·)."""
    meta = hierarchy() if (
        hierarchy is not None and len(centroids) >= _HIER_PROBE_NLIST
    ) else None
    dists, probes = [], []
    for lo in range(0, len(qids), _BULK_PROBE_CHUNK):
        chunk = qmat[lo : lo + _BULK_PROBE_CHUNK]
        if meta is not None:
            d, i = topk_per_row_hierarchical(
                chunk, centroids, meta[0], meta[1], n_probe
            )
        else:
            d, i = topk_per_row(pairwise_dist2(chunk, centroids), n_probe)
        dists.append(d)
        probes.append(i)
    probe_d2 = np.concatenate(dists, axis=0)
    probe_ids = np.concatenate(probes, axis=0)
    if ids is not None:
        probe_ids = ids[probe_ids]
    cluster_ids = np.unique(probe_ids)  # sorted
    flat_c = probe_ids.reshape(-1)
    flat_q = np.repeat(np.arange(len(qids), dtype=np.int64), probe_ids.shape[1])
    order = np.argsort(flat_c, kind="stable")
    sc, sq = flat_c[order], flat_q[order]
    bounds = np.append(np.searchsorted(sc, cluster_ids), len(sc))
    return ProbePlan(
        qids=qids,
        qmat=qmat,
        probe_ids=probe_ids,
        probe_d2=probe_d2,
        cluster_ids=cluster_ids,
        shard_ids=None if shards is None else np.unique(shards[cluster_ids]),
        qprobe={
            int(c): sq[bounds[i] : bounds[i + 1]]
            for i, c in enumerate(cluster_ids)
        },
    )


def probe_pairs(spark: SparkSession, plan: ProbePlan) -> DataFrame:
    """The plan's own ``(query_id, cluster_id)`` probe pairs as a small
    DataFrame (nq × n_probe rows): what a relational scorer joins the
    pruned scan against, so it scores exactly the clusters the scan
    read — flat or hierarchical probes alike."""
    n_probe = plan.probe_ids.shape[1]
    return driver_frame(
        spark,
        {
            "query_id": np.repeat(plan.qids, n_probe),
            "cluster_id": plan.probe_ids.reshape(-1).astype(np.int64),
        },
        "query_id long, cluster_id long",
    )


def _in_list(col: str, ids) -> str:
    """``col IN (…)`` as SQL text; an empty list is ``false``, the
    always-false result of an empty ``isin``."""
    if not len(ids):
        return "false"
    return f"{col} IN ({', '.join(str(int(i)) for i in ids)})"


def prune(table: DataFrame, shard_ids, cluster_ids) -> DataFrame:
    """J4/P6/S8 — literal ``shard_id IN (...) AND cluster_id IN (...)``
    predicates: Hive partition pruning reads only the probed shard
    directories, and the cluster-sorted layout's row-group stats skip
    non-probed clusters inside them. cluster ids are globally unique,
    so the cluster predicate alone is exact; ``shard_ids=None`` (a
    frame with no shard layout) keeps only it. The predicate is one
    SQL expression — one py4j call, where ``isin`` made one per
    literal; the optimized plan is the same."""
    cond = _in_list("cluster_id", cluster_ids)
    if shard_ids is not None:
        cond = f"{_in_list('shard_id', shard_ids)} AND {cond}"
    return table.where(F.expr(cond))


def rank_winners(scored: DataFrame, k: int, dist_col: str) -> DataFrame:
    """W2 — the global ``(dist, id)`` window rank of
    ``(query_id, neighbor_id, <dist_col>)`` rows: the top-k of every
    native (codegen) scorer, and of the arrow winners past the
    driver-merge bound. A NULL distance — a fold over a corrupt
    (wrong-length) row — ranks after every real one, and it and +inf
    are dropped after the rank. (A pre-window filter would be pushed
    into the join condition by Catalyst, re-evaluating the whole O(d)
    fold once more per pair.)"""
    dist = F.col(dist_col)
    w = Window.partitionBy("query_id").orderBy(
        dist.asc_nulls_last(), "neighbor_id"
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter((F.col("rank") <= k) & (dist < float("inf")))
        .select("query_id", "rank", "neighbor_id", dist_col)
    )


def _task_count(df: DataFrame) -> int | None:
    """The number of tasks a collect of ``df`` runs, read off the
    physical plan that the collect then reuses. Building a scan's RDD
    lists its splits and runs no job. An adaptive plan (one with an
    exchange or a subquery) runs its stages to build its RDD, so it
    gives None."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        return None
    return plan.execute().getNumPartitions()


def merge_winners(
    local: DataFrame, nq: int, k: int, dist_col: str
) -> pd.DataFrame | DataFrame:
    """W2 for ``(query_id, neighbor_id, <dist_col>)`` winners that a
    map-side kernel emits once per task — the final merge of every
    arrow scorer. The stream is ≤ tasks × nq × k rows. When the plan's
    real task count keeps that within ``_DRIVER_MERGE_LIMIT``, it is
    collected and ranked by one ``(query_id, dist, neighbor_id)``
    lexsort — the driver-side assembly the reference does, and what
    Spark's own TakeOrderedAndProject does for a global top-k — with
    no shuffle stage, and the pandas frame is returned. Otherwise
    (more rows, or a task count only an adaptive plan's stages could
    tell) the distributed window rank's DataFrame is. Columns are
    ``(query_id, rank, neighbor_id, <dist_col>)`` either way."""
    tasks = _task_count(local)
    if tasks is None or tasks * nq * k > _DRIVER_MERGE_LIMIT:
        return rank_winners(local, k, dist_col)
    pdf = local.toPandas()
    pdf = pdf.iloc[
        np.lexsort(
            (
                pdf["neighbor_id"].to_numpy(),
                pdf[dist_col].to_numpy(),
                pdf["query_id"].to_numpy(),
            )
        )
    ]
    rank = pdf.groupby("query_id", sort=False).cumcount() + 1
    out = pdf.assign(rank=rank.astype("int32"))
    return out[out["rank"] <= k][["query_id", "rank", "neighbor_id", dist_col]]


def _dist_type(dist_col: str) -> str:
    """Hamming counts are long, every distance is double."""
    return "long" if dist_col == "hamming" else "double"


def _result_schema(dist_col: str) -> str:
    return (
        f"query_id long, rank int, neighbor_id long, {dist_col} "
        + _dist_type(dist_col)
    )


def winners_frame(
    spark: SparkSession, winners: pd.DataFrame | DataFrame, dist_col: str
) -> DataFrame:
    """:func:`merge_winners`' result as a DataFrame (a driver-merged
    frame becomes a local relation: collecting it runs no job)."""
    if isinstance(winners, DataFrame):
        return winners
    if winners.empty:
        return empty_result(spark, dist_col)
    return spark.createDataFrame(winners, _result_schema(dist_col))


def empty_result(spark: SparkSession, dist_col: str) -> DataFrame:
    """The result of an empty query batch."""
    return spark.createDataFrame([], _result_schema(dist_col))


# The query rows of a block that scores every query of the batch.
ALL_QUERIES = slice(None)


def stream_topk(
    frame: DataFrame,
    qids: np.ndarray,
    k: int,
    dist_col: str,
    blocks: Callable[[pd.DataFrame, object], Iterator[tuple]],
    state=None,
) -> pd.DataFrame | DataFrame:
    """The map-side top-k stream every arrow scorer runs (F1/W2).

    ``qids`` and the scorer's driver-built ``state`` are broadcast once.
    Each task folds the blocks that ``blocks(pdf, state)`` yields for
    its non-empty Arrow batches of ``frame`` into one running
    ``(nq, k)`` top-k. A block is ``(rows, dists, ids)``: the query rows
    it scored (an index array, or ``ALL_QUERIES``) and their
    ``(distance, id)``-cut top-k (``kernels.topk_per_row`` or
    ``chunked_topk``). The task emits its finite winners once — at
    most nq × k rows however many batches and clusters it scored — and
    :func:`merge_winners` ranks them."""
    bc = frame.sparkSession.sparkContext.broadcast((qids, state))
    dtype = np.int64 if _dist_type(dist_col) == "long" else np.float64

    def _stream(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from vector_indexer_spark.functions.kernels import merge_topk

        qids_, state_ = bc.value
        # pad slots sort after every real pair and are never emitted
        dists = np.full((len(qids_), k), np.inf)
        ids = np.full((len(qids_), k), np.iinfo(np.int64).max)
        for pdf in batches:
            if pdf.empty:
                continue
            for rows, bd, bi in blocks(pdf, state_):
                dists[rows], ids[rows] = merge_topk(
                    (dists[rows], ids[rows]), (bd, bi), k
                )
        keep = np.isfinite(dists)
        if keep.any():
            yield pd.DataFrame(
                {
                    "query_id": np.broadcast_to(qids_[:, None], keep.shape)[keep],
                    "neighbor_id": ids[keep],
                    dist_col: dists[keep].astype(dtype),
                }
            )

    local = frame.mapInPandas(
        _stream,
        f"query_id long, neighbor_id long, {dist_col} {_dist_type(dist_col)}",
    )
    return merge_winners(local, len(qids), k, dist_col)


def stream_queries(
    frame: DataFrame,
    queries: DataFrame,
    dimension: int | None,
    k: int,
    dist_col: str,
    blocks: Callable[[pd.DataFrame, object], Iterator[tuple]],
    state: Callable[[np.ndarray], object],
    query_id_col: str,
    query_col: str,
) -> DataFrame:
    """A flat scorer's search: one query collect, then
    :func:`stream_topk` over ``frame`` with ``state(qmat)``, as a
    DataFrame (an empty batch is :func:`empty_result`)."""
    spark = frame.sparkSession
    batch = collect_queries(queries, dimension, query_id_col, query_col)
    if batch is None:
        return empty_result(spark, dist_col)
    qids, qmat = batch
    winners = stream_topk(frame, qids, k, dist_col, blocks, state(qmat))
    return winners_frame(spark, winners, dist_col)


def probed_clusters(
    pdf: pd.DataFrame, qprobe: dict
) -> Iterator[tuple[int, np.ndarray, np.ndarray]]:
    """The per-cluster probe loop of the IVF scorers: for each cluster
    of an Arrow batch that some query probes, ``(cluster id, its batch
    rows, the indices of the queries probing it)``."""
    cl = pdf["cluster_id"].to_numpy()
    for c in np.unique(cl):
        qidx = qprobe.get(int(c))
        if qidx is not None and len(qidx):
            yield int(c), np.flatnonzero(cl == c), qidx


def search_persisted(
    spark: SparkSession,
    index: IvfHandle,
    queries: DataFrame,
    k: int,
    n_probe: int,
    codes: DataFrame | None,
    dist_col: str,
    score: Callable[[DataFrame, ProbePlan, np.ndarray], pd.DataFrame | DataFrame],
    query_id_col: str,
    query_col: str,
) -> DataFrame:
    """The persisted compressed-tier search: one query collect → one
    driver probe plan against the index's centroid matrix → literal
    IN pruning of the codes table (``codes`` overrides the scan) →
    ``score(pruned, plan, centroids)``, the tier's kernel (a
    :func:`stream_topk` result, or a DataFrame). Every
    query's candidates come from exactly its own probe list, flat or
    hierarchical — the scan and the scorer cannot disagree."""
    if k <= 0 or n_probe <= 0:
        raise ValueError("k and n_probe must be positive")  # P3
    batch = collect_queries(queries, index.dimension, query_id_col, query_col)
    if batch is None:
        return empty_result(spark, dist_col)
    plan = probe_plan(
        *batch,
        index.centroids,
        n_probe,
        shards=index.centroid_shards,
        hierarchy=index.probe_hierarchy,
    )
    table = codes if codes is not None else index.codes(spark)
    pruned = prune(table, plan.shard_ids, plan.cluster_ids)
    return winners_frame(spark, score(pruned, plan, index.centroids), dist_col)


def search_frames(
    codes_df: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    n_probe: int,
    dist_col: str,
    score: Callable[[DataFrame, ProbePlan, np.ndarray], pd.DataFrame | DataFrame],
    query_id_col: str,
    query_col: str,
    centroid_id_col: str,
    centroid_vec_col: str,
) -> DataFrame:
    """Composable-stage twin of :func:`search_persisted`: the same
    plan, ranked flat against a (possibly id-restricted) centroid
    DataFrame, then the same cluster IN pruning and tier scorer."""
    cents, present = collect_centroids(
        centroids, centroid_id_col, centroid_vec_col
    )
    batch = collect_queries(queries, cents.shape[1], query_id_col, query_col)
    if batch is None:
        return empty_result(codes_df.sparkSession, dist_col)
    ids = np.flatnonzero(present)
    plan = probe_plan(*batch, cents[ids], n_probe, ids=ids)
    # the literal IN predicate drops non-probed rows before the kernel
    # decodes them — without it the kernel decoded and scored every
    # row of every partition (measured 16.7 s → pruned cost at 1M,
    # synth workload probing ~6% of rows)
    winners = score(prune(codes_df, None, plan.cluster_ids), plan, cents)
    return winners_frame(codes_df.sparkSession, winners, dist_col)


def warn_missing_shards(index: IvfIndex) -> None:
    """P8 — missing-shard tolerance, reference semantics (a shard file
    that disappeared logs a warning and search proceeds over the
    surviving shards, src/shards.rs): Spark's Hive partition discovery
    lists the shard dirs fresh at scan time, so an absent
    ``shard_id=N`` is silently skipped — results simply come from the
    remaining shards (proven exact vs kNN-over-survivors in
    test_index.py). This check only adds the reference's warning, and
    only where it can be had for free: a local filesystem path. Remote
    object-store paths skip it — a per-search remote listing would
    cost more than the warning is worth. Call it from the public
    search entry point itself: the warning points at its caller."""
    import os  # noqa: PLC0415
    import warnings  # noqa: PLC0415

    root = index.vectors_path
    if not os.path.isdir(os.path.dirname(root)) or not os.path.isdir(root):
        return  # remote path (or no local table) — discovery handles it
    present = sum(
        1 for d in os.listdir(root) if d.startswith("shard_id=")
    )
    if present < index.n_shards:
        warnings.warn(
            f"{index.n_shards - present} of {index.n_shards} index shards"
            " missing on disk; searching the surviving shards (P8)",
            RuntimeWarning,
            stacklevel=3,
        )


def clamp_k_probe(k: int, n_probe: int) -> tuple[int, int]:
    """P3/P4 — positivity, then clamping (reference api.rs:189-190,
    ivf_index.rs:197-202)."""
    if k <= 0 or n_probe <= 0:
        raise ValueError("k and n_probe must be positive")
    return min(k, MAX_K), min(n_probe, MAX_N_PROBE)


def search_index(
    spark: SparkSession,
    index: IvfIndex,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 20,
    *,
    query_id_col: str = "query_id",
    query_col: str = "query",
    include_vectors: bool = False,
    method: str = "arrow",
    vectors: DataFrame | None = None,
    filter_expr=None,
) -> DataFrame:
    """K9 — batched ANN search. Returns
    ``(query_id, rank, neighbor_id, dist2[, values])`` ascending per
    query; may return < k rows per query when the probed clusters hold
    fewer than k vectors (reference behavior, SURVEY §7 trap 5).

    ``filter_expr`` (Column or SQL string) pre-filters candidates on
    attribute columns persisted with the vectors (pass-through build
    columns, e.g. a label) — attribute-filtered ANN, evaluated on the
    pruned scan BEFORE scoring, so simple predicates push down to
    parquet next to the cluster predicates and filtered-out rows are
    never scored (pre-filter semantics: the top-k among matching rows;
    a post-filter would silently return < k even when k matches
    exist). May return < k rows when fewer candidates match.

    ``vectors`` optionally overrides the index's vector table scan
    (e.g. an already-cached DataFrame for repeated search batches); it
    must carry the index's *build-time* column names — ``index.id_col``
    and ``index.vec_col`` — plus ``cluster_id`` and ``shard_id``
    (i.e. the persisted table's schema; the scan normalizes names).

    The arrow path collects the query batch (driver-sized by contract
    — the reference's whole input is a NumPy matrix) and hands it to
    :func:`search_batch`: a driver-sized batch then runs one
    scan→score→top-k job and merges on the driver. Probe ranking
    happens on the driver against the resident (nlist, d) centroid
    matrix; the reference does the same scan-all-centroids ranking per
    query (src/ivf_index.rs:204-220).
    """
    k, n_probe = clamp_k_probe(k, n_probe)
    if filter_expr is not None and isinstance(filter_expr, str):
        filter_expr = F.expr(filter_expr)
    warn_missing_shards(index)
    if method == "native":
        out = _search_native(
            spark, index, queries, k, n_probe, query_id_col, query_col,
            vectors, filter_expr,
        )
    elif method == "arrow":
        out = _search_arrow(
            spark, index, queries, k, n_probe, query_id_col, query_col,
            vectors, filter_expr,
        )
    else:
        raise ValueError(f"unknown method {method!r}")

    if include_vectors:  # P7
        payload = (vectors if vectors is not None else index.vectors(spark)).select(
            F.col(index.id_col).alias("neighbor_id"),
            F.col(index.vec_col).alias("values"),
        )
        out = out.join(payload, "neighbor_id", "left").select(
            "query_id", "rank", "neighbor_id", "dist2", "values"
        )
    return out


def _pruned_scan(
    spark, index, vectors, shard_ids, cluster_ids, filter_expr=None
):
    """S8/P6 — literal partition predicates → Hive partition pruning.

    Output is normalized to ``(id, values, cluster_id, shard_id)``
    whatever column names the index was built with (meta carries
    id_col/vec_col), so downstream scoring never sees build-time names.
    """
    base = vectors if vectors is not None else index.vectors(spark)
    pruned = prune(base, shard_ids, cluster_ids)
    if filter_expr is not None:
        pruned = pruned.filter(filter_expr)
    return pruned.select(
        F.col(index.id_col).alias("id"),
        F.col(index.vec_col).alias("values"),
        "cluster_id",
        "shard_id",
    )


def _native_candidates(
    spark, index, queries, n_probe, query_id_col, query_col, vectors,
    filter_expr,
):
    """The relational plan's probe-and-prune stage, shared by the
    native search and :func:`range_search`: P2 validation, distributed
    probe ranking (against the centroid table on a lazy handle or past
    ``_CENTROID_BROADCAST_LIMIT``, hierarchical at
    ``nlist >= _HIER_PROBE_NLIST``), the pruned scan of the probed
    clusters, and the fold-scored ``(query_id, neighbor_id, dist2)``
    pair of each candidate row × each query probing its cluster."""
    # P2 — query dimension validation
    bad = queries.filter(F.size(query_col) != index.dimension).count()
    if bad:
        raise ValueError(f"{bad} queries have dimension != {index.dimension}")

    # probes feeds both the key collect and the scoring join — persist
    # so the query scan + centroid ranking runs once. No explicit
    # unpersist (the consumer's action runs later); Spark's
    # ContextCleaner unpersists the blocks once the caller drops the
    # returned plan, and the cache is small (nq × n_probe rows).
    matrix_bytes = index.nlist * index.dimension * 8
    if index.centroids is None or matrix_bytes > _CENTROID_BROADCAST_LIMIT:
        probes = rank_probes_relational(
            spark, index, queries, n_probe,
            query_id_col=query_id_col, query_col=query_col,
        ).persist()
    else:
        probes = rank_probes(
            queries,
            index.centroids,
            index.centroid_shards,
            n_probe,
            query_id_col=query_id_col,
            query_col=query_col,
            hierarchy=(
                index.probe_hierarchy()
                if index.nlist >= _HIER_PROBE_NLIST
                else None
            ),
        ).persist()
    probe_keys = probes.select("shard_id", "cluster_id").distinct().collect()
    pruned = _pruned_scan(
        spark,
        index,
        vectors,
        sorted({r.shard_id for r in probe_keys}),
        sorted({r.cluster_id for r in probe_keys}),
        filter_expr,
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(query_col).alias("__q")
    )
    probe_q = probes.select("query_id", "cluster_id").join(q, "query_id")
    # each candidate row × each query probing its cluster (both small
    # sides broadcast; the pruned scan never shuffles for the join)
    return pruned.join(F.broadcast(probe_q), "cluster_id").select(
        "query_id",
        F.col("id").alias("neighbor_id"),
        dist2_expr("__q", "values").alias("dist2"),
    )


def _search_native(
    spark, index, queries, k, n_probe, query_id_col, query_col, vectors,
    filter_expr=None,
):
    """Fully-relational pipeline (distributed probe ranking): the
    bit-reproducible / oracle-checkable path, and the scale path for
    query batches too large to collect."""
    return rank_winners(
        _native_candidates(
            spark, index, queries, n_probe, query_id_col, query_col,
            vectors, filter_expr,
        ),
        k,
        "dist2",
    )


def _search_arrow(
    spark, index, queries, k, n_probe, query_id_col, query_col, vectors,
    filter_expr=None,
):
    """The DataFrame front of :func:`search_batch`: one query collect,
    then the batch search. A lazy-centroid handle skips the collect —
    only the relational plan can rank its probes."""
    if index.centroids is None:
        return _search_native(
            spark, index, queries, k, n_probe, query_id_col, query_col,
            vectors, filter_expr,
        )
    batch = collect_queries(queries, index.dimension, query_id_col, query_col)
    if batch is None:
        return empty_result(spark, "dist2")
    return winners_frame(
        spark,
        search_batch(
            spark, index, *batch, lambda: queries, k, n_probe,
            query_id_col=query_id_col, query_col=query_col,
            vectors=vectors, filter_expr=filter_expr,
        ),
        "dist2",
    )


def search_batch(
    spark: SparkSession,
    index: IvfIndex,
    qids: np.ndarray,
    qmat: np.ndarray,
    queries: Callable[[], DataFrame],
    k: int,
    n_probe: int,
    *,
    query_id_col: str = "query_id",
    query_col: str = "query",
    vectors: DataFrame | None = None,
    filter_expr=None,
) -> pd.DataFrame | DataFrame:
    """The arrow search of one driver-resident, non-empty query batch
    (``qids`` (nq,) int64, ``qmat`` (nq, d) float64), P2-checked and
    P3/P4-clamped by the caller: driver probe plan → pruned scan →
    map-side scoring → :func:`merge_winners`. A driver-sized batch is
    one Spark job and returns the driver-merged pandas frame; larger
    ones return a DataFrame.

    ``queries()`` builds the batch as a ``(query_id_col, query_col)``
    DataFrame. Only the routes that run the relational native plan
    call it: a lazy-centroid handle, a bulk batch past
    ``_ARROW_BULK_QUERY_BYTES`` and a probe mask past
    ``_ARROW_DENSE_MASK_LIMIT``."""

    def native():
        return _search_native(
            spark, index, queries(), k, n_probe, query_id_col, query_col,
            vectors, filter_expr,
        )

    if index.centroids is None:
        # lazily-loaded handle (load_index(lazy_centroids=True)): no
        # driver matrix exists — the relational native path is the
        # only one that can rank probes
        return native()
    # bulk batch: the masked all-queries GEMM would waste
    # ~(1 − n_probe/nlist) of its flops. While the query matrix still
    # fits the broadcast budget, use the per-cluster GEMM kernel (each
    # cluster's rows scored against ONLY its probing queries — the
    # same shape as the IVF-BQ/SQ r9 rewrites, measured ~10× faster
    # than the relational join at 20k–100k queries); beyond the budget
    # the query side is a corpus and the fully-relational plan is the
    # only honest shape.
    bulk = len(qids) > _ARROW_MAX_QUERY_BATCH
    if bulk and qmat.nbytes > _ARROW_BULK_QUERY_BYTES:
        return native()
    plan = probe_plan(
        qids,
        qmat,
        index.centroids,
        n_probe,
        shards=index.centroid_shards,
        hierarchy=index.probe_hierarchy,
    )
    if not bulk and len(qids) * len(plan.cluster_ids) > _ARROW_DENSE_MASK_LIMIT:
        # the dense bool mask alone would exceed the broadcast budget —
        # run the batch through the fully-distributed relational path
        # (same semantics, no driver-sized state)
        return native()
    pruned = _pruned_scan(
        spark, index, vectors, plan.shard_ids, plan.cluster_ids, filter_expr
    )
    if bulk:
        return _search_arrow_bulk(pruned, plan, k)
    return _score_arrow_scan(pruned, plan, k)


def _search_arrow_bulk(pruned, plan, k):
    """Bulk-batch arrow search: per-cluster GEMM of each cluster's rows
    against ONLY the queries probing it (work ∝ probed rows × probing
    queries — the IVF-BQ/SQ r9 kernel shape), for query batches too
    large for the masked all-queries GEMM but small enough to
    broadcast. The probe plan ranked on the driver in bounded query
    chunks."""

    def blocks(pdf, state):
        from vector_indexer_spark.functions.kernels import (
            pairwise_dist2,
            stack_arrays,
            topk_per_row,
        )

        qmat_, qprobe_ = state
        vmat = stack_arrays(pdf["values"])
        vids = pdf["id"].to_numpy()
        for _, rows, qidx in probed_clusters(pdf, qprobe_):
            d2 = pairwise_dist2(qmat_[qidx], vmat[rows])
            yield qidx, *topk_per_row(d2, k, vids[rows])

    return stream_topk(
        pruned.select("id", "values", "cluster_id"), plan.qids, k, "dist2",
        blocks, (plan.qmat, plan.qprobe),
    )


def _score_arrow_scan(vectors, plan, k):
    """Arrow scoring with a probe mask: one GEMM per Arrow batch for
    all queries × all batch rows, non-probed (query, row) slots masked
    to +inf, through :func:`stream_topk`.

    A per-cluster Python group loop was ~2× slower at nlist≈1.3k
    (thousands of tiny GEMMs); masking trades a few redundant flops on
    the already-pruned rows for batch-sized vectorized kernels.
    """
    # (nq, n_probed_clusters) membership mask over the compacted
    # cluster list — the executor-side scoring mask
    nq = len(plan.qids)
    probe_mask = np.zeros((nq, len(plan.cluster_ids)), dtype=bool)
    probe_mask[
        np.arange(nq)[:, None],
        np.searchsorted(plan.cluster_ids, plan.probe_ids),
    ] = True

    def blocks(pdf, state):
        from vector_indexer_spark.functions.kernels import (
            chunked_topk,
            stack_arrays,
        )

        qmat_, cids_, mask_ = state
        # compact position of each row's cluster (cids_ is sorted; the
        # scan predicate guarantees membership)
        rowpos = np.searchsorted(cids_, pdf["cluster_id"].to_numpy())

        def _mask(sl, d2):
            d2[~mask_[:, rowpos[sl]]] = np.inf

        vmat = stack_arrays(pdf["values"])
        vids = pdf["id"].to_numpy()
        yield ALL_QUERIES, *chunked_topk(qmat_, vmat, vids, k, mask_fn=_mask)

    return stream_topk(
        vectors.select("id", "values", "cluster_id"), plan.qids, k, "dist2",
        blocks, (plan.qmat, plan.cluster_ids, probe_mask),
    )


def range_search(
    spark: SparkSession,
    index: IvfIndex,
    queries: DataFrame,
    radius2: float,
    n_probe: int = 20,
    *,
    query_id_col: str = "query_id",
    query_col: str = "query",
    vectors: DataFrame | None = None,
    filter_expr=None,
) -> DataFrame:
    """All neighbors within squared distance ``radius2`` (extension —
    the near-duplicate query shape: "everything closer than τ", not
    top-k). The probe-and-prune stage of :func:`search_index`'s native
    path — P2 validation, relational probes on a lazy-centroid handle,
    hierarchical probes at large nlist, the missing-shard warning —
    with a distance filter instead of a rank cut. Results carry no
    rank; at scale output size is data-dependent, so no driver merge
    is attempted.

    Approximate like any IVF query: only probed clusters are scanned
    (``n_probe >= nlist`` makes it exact). ``filter_expr`` pre-filters
    candidates on persisted attribute columns, same contract as
    :func:`search_index`.
    """
    if radius2 < 0:
        raise ValueError("radius2 must be non-negative")
    if n_probe <= 0:
        raise ValueError("n_probe must be positive")
    if filter_expr is not None and isinstance(filter_expr, str):
        filter_expr = F.expr(filter_expr)
    warn_missing_shards(index)
    cand = _native_candidates(
        spark, index, queries, min(n_probe, MAX_N_PROBE), query_id_col,
        query_col, vectors, filter_expr,
    )
    # a generator's output is never inlined, so the fold runs once per
    # pair, not again in the join condition the filter is pushed into
    cand = cand.withColumn("dist2", F.explode(F.array("dist2")))
    return cand.filter(F.col("dist2") <= F.lit(float(radius2)))


def calculate_recall(
    results: DataFrame, ground_truth: DataFrame, k: int
) -> float:
    """A7 — |found ∩ true| / |true| averaged over queries
    (reference tests/test_utils/mod.rs:212-221).

    Both inputs are ``(query_id, rank, neighbor_id, ...)`` frames;
    rows with rank > k are ignored.
    """
    r = results.filter(F.col("rank") <= k).select("query_id", "neighbor_id")
    g = ground_truth.filter(F.col("rank") <= k).select("query_id", "neighbor_id")
    hits = r.join(g, ["query_id", "neighbor_id"], "inner").count()
    total = g.count()
    return hits / total if total else 0.0
