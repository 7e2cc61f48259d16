"""Exact brute-force k-nearest-neighbor search.

This is the reference's own ground truth (tests/test_utils/mod.rs:223-235;
bench ground truth via Faiss FlatL2, bench_all_ivf.py:73-80) and the
recall denominator for the ANN path. Semantics: squared L2 (F1, no
sqrt), per-query ascending top-k with a deterministic
``(dist2, id)`` tie-break (reference relies on unstable f32 sort order,
src/ivf_index.rs:264-266 — we pin ties for reproducibility, SURVEY §2.6).

Two physical strategies for the same logical query:

- ``method="native"``: ``broadcast(queries) cross-join vectors`` scored
  by a Catalyst fold, ranked by the one window rank every native twin
  shares (``search.rank_winners``). Fully JVM-side / codegen;
  bit-reproducible (the correctness oracle's path). The composable
  IVF tiers rank their probes with it too.
- ``method="arrow"`` (default): per-partition NumPy top-k against the
  broadcast query matrix inside ``mapInPandas`` — a map-side combine
  that reduces the ``n_vectors × n_queries`` candidates to
  ``n_partitions × n_queries × k`` winners (one running top-k per
  partition) before the global rank — the map-side stream every arrow
  scorer shares (``search.stream_topk``). When the scan's partition
  count keeps those winners driver-sized, they merge on the driver:
  one Spark job, no shuffle. At 100 TB the native plan's window over
  the full cross product is the bottleneck; past the driver-merge
  bound this one window-ranks only the per-partition winners.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vector_indexer_spark.functions.distance import dist2_expr
from vector_indexer_spark.operators.search import (
    ALL_QUERIES,
    rank_winners,
    stream_queries,
)


def knn_exact(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    *,
    id_col: str = "id",
    vec_col: str = "values",
    query_id_col: str = "query_id",
    query_col: str = "query",
    method: str = "arrow",
    include_vectors: bool = False,
) -> DataFrame:
    """Exact top-k by squared L2 for every query.

    Returns ``(query_id, rank, neighbor_id, dist2[, values])``, rank
    1-based ascending by ``(dist2, neighbor_id)``. Fewer than k rows per
    query iff the vector table has fewer than k rows (reference
    behavior: k>n returns n, tests/ivf_index_tests.rs:278-306).
    """
    if k <= 0:
        raise ValueError("k must be positive")  # P3
    if method == "native":
        out = _knn_native(
            vectors, queries, k, id_col, vec_col, query_id_col, query_col
        )
    elif method == "arrow":
        out = _knn_arrow(
            vectors, queries, k, id_col, vec_col, query_id_col, query_col
        )
    else:
        raise ValueError(f"unknown method {method!r}")
    if include_vectors:  # P7
        payload = vectors.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("values")
        )
        out = out.join(payload, "neighbor_id", "left").select(
            "query_id", "rank", "neighbor_id", "dist2", "values"
        )
    return out


def _knn_native(vectors, queries, k, id_col, vec_col, query_id_col, query_col):
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(query_col).alias("__q")
    )
    v = vectors.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__v")
    )
    # The query batch is the small side at scale — broadcast it so the
    # 100 TB vector table never shuffles for the join itself.
    scored = v.crossJoin(F.broadcast(q)).select(
        "query_id", "neighbor_id", dist2_expr("__q", "__v").alias("dist2")
    )
    return rank_winners(scored, k, "dist2")


def _knn_arrow(vectors, queries, k, id_col, vec_col, query_id_col, query_col):
    def blocks(pdf, qmat_):
        from vector_indexer_spark.functions.kernels import (
            chunked_topk,
            stack_arrays,
        )

        # per-query local top-k; candidate-chunked so the scratch
        # matrix stays bounded for large query batches
        vmat = stack_arrays(pdf[vec_col])
        yield ALL_QUERIES, *chunked_topk(qmat_, vmat, pdf[id_col].to_numpy(), k)

    return stream_queries(
        vectors.select(id_col, vec_col), queries, None, k, "dist2", blocks,
        lambda qmat: qmat, query_id_col, query_col,
    )
