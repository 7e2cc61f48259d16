"""Public API parity surface — mirrors the reference's Python bindings.

Reference surface (bindings/python/src/lib.rs:123-304;
python/vector_indexer_py/__init__.py:41-133):

- ``build(xb (n,d) float32, work_dir) -> VectorIndex`` — external_id =
  row ordinal, GIL released during build (our build is a Spark job, so
  "GIL released" is inherent).
- ``load(index_dir, ...) -> VectorIndex``
- ``VectorIndex.search(xq (nq,d), k, n_probe) -> (D, I)`` with the
  padded-array contract: rows with < k hits are filled with ``inf`` /
  ``-1`` (lib.rs:179-202). The reference loops queries serially inside
  a worker thread (lib.rs:74-97); our batch is one distributed job,
  taking the matrix in and the driver-merged winners out as NumPy.
- ``search_sync`` — same result, synchronous name kept for parity.
- ``suggest_nlist`` re-export (lib.rs:307-315).

Error contract (reference tests/api_tests.rs:252-299): empty build →
error; dimension mismatch (build or query) → error; k=0 / n_probe=0 →
error; load from a missing directory → error.

Ingest semantics (S1/S10 + F4): internal ``id`` and ``external_id``
are the row ordinal; missing timestamps default to now
(src/vector_store.rs:29-46, src/api.rs:136-139).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vector_indexer_spark.config import (
    DEFAULT_K,
    DEFAULT_N_PROBE,
    suggest_nlist,  # noqa: F401  (re-export, parity surface)
)
from vector_indexer_spark.operators.index_build import (
    IvfIndex,
    add_vectors,
    build_index,
    load_index,
)
from vector_indexer_spark.operators.search import (
    clamp_k_probe,
    search_batch,
    search_index,
    warn_missing_shards,
)
from vector_indexer_spark.session import get_spark


class VectorIndex:
    """User-facing handle pairing a SparkSession with a persisted index."""

    def __init__(self, spark: SparkSession, index: IvfIndex):
        self._spark = spark
        self._index = index

    @property
    def dimension(self) -> int:
        return self._index.dimension

    @property
    def nlist(self) -> int:
        return self._index.nlist

    # -- DataFrame-native surface (the engine's real query type) -----------

    def search_df(
        self,
        queries: DataFrame,
        k: int = DEFAULT_K,
        n_probe: int = DEFAULT_N_PROBE,
        *,
        include_vectors: bool = False,
        method: str = "arrow",
    ) -> DataFrame:
        return search_index(
            self._spark,
            self._index,
            queries,
            k=k,
            n_probe=n_probe,
            include_vectors=include_vectors,
            method=method,
        )

    # -- NumPy (D, I) parity surface ---------------------------------------

    def search(
        self, xq: np.ndarray, k: int = DEFAULT_K, n_probe: int = DEFAULT_N_PROBE
    ) -> tuple[np.ndarray, np.ndarray]:
        """Batched search with the padded (D, I) contract.

        D: (nq, k) float32, squared L2, ``inf`` where < k hits.
        I: (nq, k) int64 external ids, ``-1`` where < k hits.

        The matrix goes straight to the arrow search core
        (``search.search_batch``): no query DataFrame is built unless
        the batch takes a relational route, and a driver-merged result
        fills (D, I) from its NumPy columns.
        """
        xq = np.ascontiguousarray(xq, dtype=np.float32)
        if xq.ndim != 2 or xq.shape[1] != self.dimension:  # P2
            raise ValueError(
                f"query matrix must be (nq, {self.dimension}), got {xq.shape}"
            )
        # clamp before allocating: padding columns beyond the engine's
        # clamped k would falsely read as "no neighbor found" (P4)
        k, n_probe = clamp_k_probe(k, n_probe)
        warn_missing_shards(self._index)
        nq = xq.shape[0]
        D = np.full((nq, k), np.inf, dtype=np.float32)
        I = np.full((nq, k), -1, dtype=np.int64)
        if nq == 0:
            return D, I
        qids = np.arange(nq, dtype=np.int64)
        winners = search_batch(
            self._spark,
            self._index,
            qids,
            xq.astype(np.float64),
            lambda: self._spark.createDataFrame(
                pd.DataFrame({"query_id": qids, "query": list(xq)}),
                "query_id long, query array<float>",
            ),
            k,
            n_probe,
        )
        if isinstance(winners, DataFrame):
            winners = winners.toPandas()
        q = winners["query_id"].to_numpy()
        r = winners["rank"].to_numpy() - 1
        D[q, r] = winners["dist2"].to_numpy()
        I[q, r] = winners["neighbor_id"].to_numpy()
        return D, I

    def search_sync(
        self, xq: np.ndarray, k: int = DEFAULT_K, n_probe: int = DEFAULT_N_PROBE
    ) -> tuple[np.ndarray, np.ndarray]:
        """Parity alias (reference exposes async ``search`` +
        ``search_sync``; every Spark batch query is synchronous)."""
        return self.search(xq, k=k, n_probe=n_probe)


def ingest_records(
    df: DataFrame,
    *,
    external_id_col: str = "external_id",
    vec_col: str = "values",
    ts_col: str | None = "ts",
    now: int | None = None,
) -> DataFrame:
    """S1 — normalize a user record frame to the internal vector schema.

    Missing/NULL timestamps default to now (F4 — coalesce with the
    current epoch, src/vector_store.rs:36-40); internal ``id`` is a
    row ordinal in ``external_id`` order like the reference's ingest
    (src/vector_store.rs:31-34).

    The ordinal is assigned distributed-deterministically (zipWithIndex
    shape, no single-task global sort): range-partition by external_id,
    sort within partitions, then per-partition row_number plus the
    cumulative count of the preceding ranges. The sorted frame is
    persisted so the offset-count job and the output job see identical
    range boundaries; the cache is dropped lazily once the caller
    materializes downstream.
    """
    from pyspark.sql import Window

    cols = [
        F.col(external_id_col).alias("external_id"),
        F.col(vec_col).alias("values"),
    ]
    # `now` freezes the F4 default timestamp for reproducible runs
    # (and the SQL oracle); None = wall clock, the reference default
    now_expr = (
        F.lit(int(now)).cast("long")
        if now is not None
        else F.unix_timestamp().cast("long")
    )
    if ts_col is not None and ts_col in df.columns:
        cols.append(F.coalesce(F.col(ts_col), now_expr).alias("ts"))
    else:
        cols.append(now_expr.alias("ts"))
    ranged = (
        df.select(*cols)
        .repartitionByRange("external_id")
        .sortWithinPartitions("external_id")
        .withColumn("__pid", F.spark_partition_id())
        .persist()
    )
    counts = sorted(
        (r["__pid"], r["cnt"])
        for r in ranged.groupBy("__pid").agg(F.count("*").alias("cnt")).collect()
    )
    offsets, acc = [], 0
    for pid, cnt in counts:
        offsets.append((pid, acc))
        acc += cnt
    odf = df.sparkSession.createDataFrame(
        offsets, "__pid int, __offset long"
    )
    w = Window.partitionBy("__pid").orderBy("external_id")
    return (
        ranged.join(F.broadcast(odf), "__pid")
        .withColumn(
            "id",
            F.row_number().over(w).cast("long") - 1 + F.col("__offset"),
        )
        .select("id", "external_id", "values", "ts")
    )


def build(
    xb: np.ndarray,
    work_dir: str,
    *,
    spark: SparkSession | None = None,
    seed: int = 42,
    nlist: int | None = None,
) -> VectorIndex:
    """S10 — build from a NumPy (n, d) float32 matrix; ids = ordinals."""
    spark = spark or get_spark()
    xb = np.ascontiguousarray(xb, dtype=np.float32)
    if xb.ndim != 2 or xb.shape[0] == 0:
        raise ValueError("xb must be a non-empty (n, d) matrix")
    n, d = xb.shape
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "id": np.arange(n, dtype=np.int64),
                "external_id": np.arange(n, dtype=np.int64),
                "values": list(xb),
                "ts": np.zeros(n, dtype=np.int64),
            }
        ),
        "id long, external_id long, values array<float>, ts long",
    ).withColumn("ts", F.unix_timestamp().cast("long"))
    idx = build_index(
        df, work_dir, dimension=d, nlist=nlist, seed=seed
    )
    return VectorIndex(spark, idx)


def add(
    index: VectorIndex,
    xa: np.ndarray,
    *,
    ids: np.ndarray | None = None,
) -> int:
    """Faiss-style incremental add to a built index: ``xa`` is an
    (n, d) float32 matrix; ``ids`` defaults to ordinals continuing
    from the current ``n_vectors`` (the reference is build-once —
    this extends the binding the way ``IndexIVF.add``/``add_with_ids``
    do). Returns the new total vector count."""
    spark = index._spark
    xa = np.ascontiguousarray(xa, dtype=np.float32)
    if xa.ndim != 2 or xa.shape[0] == 0:
        raise ValueError("xa must be a non-empty (n, d) matrix")
    n, d = xa.shape
    if d != index.dimension:
        raise ValueError(f"xa dimension {d} != index {index.dimension}")
    if ids is None:
        ids = np.arange(n, dtype=np.int64) + index._index.n_vectors
    ids = np.asarray(ids, dtype=np.int64)
    if ids.shape != (n,):
        raise ValueError("ids must be one id per row of xa")
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "id": ids,
                "external_id": ids,
                "values": list(xa),
                "ts": np.zeros(n, dtype=np.int64),
            }
        ),
        "id long, external_id long, values array<float>, ts long",
    ).withColumn("ts", F.unix_timestamp().cast("long"))
    stats = add_vectors(spark, index._index, df)
    return stats["n_vectors"]


def load(
    index_dir: str,
    *,
    spark: SparkSession | None = None,
    dimension: int | None = None,
) -> VectorIndex:
    """S11 — reopen a persisted index; optional dimension cross-check."""
    spark = spark or get_spark()
    idx = load_index(spark, index_dir)
    if dimension is not None and idx.dimension != dimension:
        raise ValueError(
            f"index dimension {idx.dimension} != requested {dimension}"
        )
    return VectorIndex(spark, idx)
