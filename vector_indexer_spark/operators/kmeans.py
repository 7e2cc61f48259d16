"""Seeded k-means over an ``ARRAY<FLOAT>`` DataFrame column.

Capability parity with the reference trainers (K1 mini-batch
src/kmeans.rs:62-150, K2 full-batch Lloyd's src/kmeans.rs:14-60,
k-means++ init K3/K4 src/kmeans.rs:152-310), re-architected for Spark:

- **Init** (K3/K4): k-means++ with D² weighting on a seeded sample of
  ≤``sample_cap`` rows (the reference caps the D² scan at 50k too),
  computed driver-side in NumPy with incremental min-distance
  maintenance (K5). All randomness flows through
  ``np.random.default_rng(seed)`` — reproducible builds, though not
  bit-identical to the reference's Rust ``StdRng`` stream (SURVEY §7
  "what's hard" #1; we match invariants, not RNG streams).
- **Full-batch mode** (K2 — the distributed default): each iteration
  is one Spark job — broadcast the (k,d) centroid matrix, assign every
  row (J1) and emit *per-Arrow-batch partial sums* from
  ``mapInPandas`` (map-side combine), then reduce the ≤ partitions×k
  partials to k rows. The shuffle per iteration is O(partitions·k·d)
  — independent of n — which is what survives a 100 TB table.
- **Mini-batch mode** (K1 — parity behavior): Sculley mini-batch with
  per-cluster accumulated counts and learning rate 1/count
  (src/kmeans.rs:728-787). Batches are drawn on the driver from one
  seeded sample collect (documented divergence: the reference draws
  each ≤256-row batch from the full set; over ≤300 iterations that
  touches ≤76.8k points, so a one-shot ≥cap sample is statistically
  equivalent and avoids 300 full-table scans).
- **Convergence** (A4): RMS centroid movement < ``tol`` (default 1e-4,
  reference src/kmeans.rs:22,71).
- **Empty clusters** (A3): reinitialized from random sampled data
  points (src/kmeans.rs:312-331).

The driver holds only (k,d) float64 matrices — ~60 MB at k=10k,
d=1536 — never the data.
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vector_indexer_spark.config import (
    KMEANS_DELTA_TOL,
    KMEANS_INIT_SAMPLE_CAP,
    calculate_max_iterations,
    mini_batch_size,
)
from vector_indexer_spark.functions.kernels import (
    assign_nearest,
    min_dist2,
    pairwise_dist2,
    stack_arrays,
)


@dataclass
class KMeansModel:
    """Trained centroids + fit diagnostics."""

    centroids: np.ndarray  # (k, d) float64
    n_iters: int
    converged: bool
    inertia: float | None = None

    @property
    def k(self) -> int:
        return self.centroids.shape[0]

    @property
    def dimension(self) -> int:
        return self.centroids.shape[1]


# ---------------------------------------------------------------------------
# k-means++ init (K3/K4/K5) — driver NumPy on a seeded sample
# ---------------------------------------------------------------------------


def kmeans_pp_init(mat: np.ndarray, k: int, rng: np.random.Generator) -> np.ndarray:
    """Seeded k-means++: first centroid uniform, rest D²-weighted.

    Incremental min-distance maintenance (only vs the newest centroid,
    K5 — src/kmeans.rs:421-443). When k > n or all weights collapse to
    zero, centroids are duplicated (reference behavior,
    src/kmeans.rs:152-228 / kmeans_tests.rs:744-773).
    """
    n = mat.shape[0]
    if n == 0:
        raise ValueError("cannot init k-means on empty data")
    mat = np.asarray(mat, dtype=np.float64)
    centroids = np.empty((k, mat.shape[1]), dtype=np.float64)
    first = int(rng.integers(0, n))
    centroids[0] = mat[first]
    if k == 1:
        return centroids
    # expanded form ||x||² − 2 x·c + ||c||² with ||x||² hoisted: the
    # per-step update is one GEMV instead of an (n, d) difference temp.
    # At k=4000 on a 100k×128 sample the naive form costs ~6 min of
    # memory-bandwidth-bound allocation; this form runs in seconds.
    # GEMM round-off can leave tiny residues where the naive form gives
    # exact zeros — clamp at 0 so weights stay non-negative (a residual
    # ~1e-16·||x||² weight is dominated by any true distance, so the
    # D² sampling behavior is unchanged).
    x2 = np.einsum("ij,ij->i", mat, mat)

    def _d2_to(c: np.ndarray) -> np.ndarray:
        return np.maximum(x2 - 2.0 * (mat @ c) + c @ c, 0.0)

    min_d = _d2_to(centroids[0])
    for i in range(1, k):
        total = float(min_d.sum())
        if total <= 0.0:
            # all points coincide with chosen centroids → duplicate
            centroids[i] = centroids[int(rng.integers(0, i))]
            continue
        probs = min_d / total
        idx = int(rng.choice(n, p=probs))
        centroids[i] = mat[idx]
        np.minimum(min_d, _d2_to(centroids[i]), out=min_d)
    return centroids


def _collect_sample(
    df: DataFrame, vec_col: str, cap: int, seed: int
) -> tuple[np.ndarray, int]:
    """Seeded sample of ≤cap vectors, collected to the driver as (m,d),
    plus the row count ``n`` of ``df`` it was drawn from."""
    n = df.count()
    if n == 0:
        raise ValueError("cannot fit k-means on an empty DataFrame")
    if n <= cap:
        rows = df.select(vec_col).collect()
    else:
        # oversample slightly so the post-limit count is ~cap even with
        # Bernoulli variance, then hard-limit for determinism of size
        frac = min(1.0, (cap * 1.2) / n)
        rows = df.select(vec_col).sample(False, frac, seed=seed).limit(cap).collect()
    return stack_arrays([r[0] for r in rows]), n


# ---------------------------------------------------------------------------
# Distributed assignment + partial-sum reduce (J1 + A1)
# ---------------------------------------------------------------------------


HIERARCHICAL_K_THRESHOLD = 100  # reference switch point (kmeans.rs:445-459)


def assign_clusters(
    df: DataFrame,
    centroids: np.ndarray,
    *,
    vec_col: str = "values",
    out_col: str = "cluster_id",
    hierarchical: bool | str = "auto",
    seed: int = 42,
) -> DataFrame:
    """J1/J2 — append argmin-distance cluster id to every row.

    Broadcast the (k,d) centroid matrix; NumPy argmin per Arrow batch
    (the reference's rayon+SIMD assignment, src/kmeans.rs:353-373 +
    461-470, re-expressed as a vectorized kernel). With
    ``hierarchical`` (``"auto"``: k > 100, the reference's switch
    point) assignment goes through the two-stage meta-centroid
    shortlist (J2/W3/K7) — O(√k) candidate centroids per point.
    """
    spark = df.sparkSession
    cents = np.asarray(centroids, dtype=np.float64)
    use_hier = (
        cents.shape[0] > HIERARCHICAL_K_THRESHOLD
        if hierarchical == "auto"
        else bool(hierarchical)
    )
    if use_hier:
        meta, meta_labels = build_centroid_hierarchy(cents, seed)
        bc = spark.sparkContext.broadcast((cents, meta, meta_labels))
    else:
        bc = spark.sparkContext.broadcast((cents, None, None))
    cols = df.columns

    def _assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c, meta_, labels_ = bc.value
        from vector_indexer_spark.functions.kernels import (
            assign_nearest_hierarchical,
        )

        for pdf in batches:
            if pdf.empty:
                continue
            pts = stack_arrays(pdf[vec_col])
            pdf = pdf.copy()
            if meta_ is not None:
                pdf[out_col] = assign_nearest_hierarchical(
                    pts, c, meta_, labels_
                )
            else:
                pdf[out_col] = assign_nearest(pts, c)
            yield pdf

    # build a fresh StructType — StructType.add would mutate the
    # DataFrame's cached schema object in place
    schema = T.StructType(
        list(df.schema.fields) + [T.StructField(out_col, T.LongType(), False)]
    )
    return df.mapInPandas(_assign, schema).select(*cols, out_col)


def _partial_sums(
    df: DataFrame,
    centroids: np.ndarray,
    vec_col: str,
    seed: int = 42,
    n_parts: int | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """One full-batch iteration's statistics: per-cluster (sum, count).

    Map-side: each Arrow batch emits ≤k rows of (cluster_id, count,
    vector-sum). Reduce-side: groupBy(cluster_id) folds the partials.
    Driver receives exactly k rows — the n-row shuffle of a naive
    posexplode/avg plan never happens.

    For k > 100 the per-batch assignment goes through the J2 meta
    shortlist (the reference trains through the same hierarchical
    switch, src/kmeans.rs:445-459) — per-iteration flops drop from
    O(n·k·d) to O(n·√k·d).
    """
    spark = df.sparkSession
    k, d = centroids.shape
    c64 = np.asarray(centroids, dtype=np.float64)
    if k > HIERARCHICAL_K_THRESHOLD:
        # same seed as the final assign_clusters call so training and
        # index placement use identical meta shortlists
        meta, meta_labels = build_centroid_hierarchy(c64, seed=seed)
        bc = spark.sparkContext.broadcast((c64, meta, meta_labels))
    else:
        bc = spark.sparkContext.broadcast((c64, None, None))

    def _partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c, meta_, mlabels_ = bc.value
        from vector_indexer_spark.functions.kernels import (
            assign_nearest_hierarchical,
        )

        for pdf in batches:
            if pdf.empty:
                continue
            pts = stack_arrays(pdf[vec_col])
            if meta_ is not None:
                labels = assign_nearest_hierarchical(pts, c, meta_, mlabels_)
            else:
                labels = assign_nearest(pts, c)
            uniq = np.unique(labels)
            sums = np.zeros((len(uniq), c.shape[1]))
            counts = np.zeros(len(uniq), dtype=np.int64)
            for j, u in enumerate(uniq):
                mask = labels == u
                sums[j] = pts[mask].sum(axis=0)
                counts[j] = int(mask.sum())
            yield pd.DataFrame(
                {
                    "cluster_id": uniq,
                    "cnt": counts,
                    "vsum": list(sums),
                }
            )

    partials = df.select(vec_col).mapInPandas(
        _partials, "cluster_id long, cnt long, vsum array<double>"
    )

    # Adaptive combine: the partial set is ≤ partitions×k rows. When it
    # is driver-sized, collect it directly and fold in NumPy — saving a
    # shuffle stage per iteration (the dominant cost of small fits). At
    # cluster scale (say 10⁴ partitions × 10⁴ clusters) the distributed
    # groupBy combine keeps the driver out of the data path.
    # (plan→RDD conversion lists input files — callers in a loop pass
    # the invariant count instead of re-deriving it every iteration)
    if n_parts is None:
        n_parts = df.rdd.getNumPartitions()
    if n_parts * k <= 200_000:
        rows = partials.collect()
    else:

        def _combine(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
            tot_c = int(pdf["cnt"].sum())
            tot_s = np.sum(np.stack(pdf["vsum"].to_numpy()), axis=0)
            return pd.DataFrame(
                {"cluster_id": [key[0]], "cnt": [tot_c], "vsum": [tot_s]}
            )

        rows = partials.groupBy("cluster_id").applyInPandas(
            _combine, "cluster_id long, cnt long, vsum array<double>"
        ).collect()

    sums = np.zeros((k, d), dtype=np.float64)
    counts = np.zeros(k, dtype=np.int64)
    for r in rows:
        sums[r["cluster_id"]] += np.asarray(r["vsum"])
        counts[r["cluster_id"]] += r["cnt"]
    return sums, counts


def _centroid_delta(old: np.ndarray, new: np.ndarray) -> float:
    """A4 — RMS centroid movement (src/kmeans.rs:333-351)."""
    return float(np.sqrt(np.mean((new - old) ** 2)))


# ---------------------------------------------------------------------------
# Trainers
# ---------------------------------------------------------------------------


def kmeans_fit(
    df: DataFrame,
    k: int,
    *,
    vec_col: str = "values",
    max_iters: int | None = None,
    tol: float = KMEANS_DELTA_TOL,
    seed: int = 42,
    mode: str = "full",
    sample_cap: int = KMEANS_INIT_SAMPLE_CAP,
) -> KMeansModel:
    """Train k centroids on ``df[vec_col]``. Returns the model only;
    call :func:`assign_clusters` for labels (kept separate so the
    build pipeline can fuse assignment with the shard write)."""
    if k <= 0:
        raise ValueError("k must be positive")
    if mode not in ("full", "minibatch"):
        raise ValueError(f"unknown mode {mode!r}")

    rng = np.random.default_rng(seed)
    # The training loop re-scans the input every iteration — pin it.
    # (On a 100 TB table callers should pre-cache / use DISK_ONLY or
    # accept re-scans; we only cache when Spark says it isn't already.)
    we_cached = False
    if mode == "full" and df.storageLevel.useMemory is False:
        df = df.cache()
        we_cached = True
    try:
        sample, n_est = _collect_sample(df, vec_col, sample_cap, seed)
        if max_iters is None:
            max_iters = calculate_max_iterations(n_est)
        centroids = kmeans_pp_init(sample, k, rng)

        if mode == "minibatch":
            centroids, n_iters, converged = _train_minibatch(
                sample, centroids, n_est, max_iters, tol, rng
            )
        else:
            centroids, n_iters, converged = _train_full(
                df, vec_col, centroids, sample, max_iters, tol, rng, seed
            )
    finally:
        if we_cached:
            df.unpersist()
    return KMeansModel(centroids=centroids, n_iters=n_iters, converged=converged)


def _train_full(df, vec_col, centroids, sample, max_iters, tol, rng, seed=42):
    converged = False
    it = 0
    n_parts = df.rdd.getNumPartitions()  # invariant across iterations
    for it in range(1, max_iters + 1):
        sums, counts = _partial_sums(
            df, centroids, vec_col, seed=seed, n_parts=n_parts
        )
        new = centroids.copy()
        nonzero = counts > 0
        new[nonzero] = sums[nonzero] / counts[nonzero, None]
        empty = np.flatnonzero(~nonzero)
        if empty.size:  # A3 — reinit from random data points
            picks = rng.integers(0, sample.shape[0], size=empty.size)
            new[empty] = sample[picks]
        delta = _centroid_delta(centroids, new)
        centroids = new
        if delta < tol:
            converged = True
            break
    return centroids, it, converged


def _train_minibatch(sample, centroids, n_est, max_iters, tol, rng):
    """K1 — Sculley mini-batch with per-cluster accumulated counts
    (update rule src/kmeans.rs:769-772: c ← (1−η)c + η·x̄, η=1/count)."""
    batch = mini_batch_size(n_est)
    counts = np.zeros(centroids.shape[0], dtype=np.int64)
    converged = False
    it = 0
    for it in range(1, max_iters + 1):
        idx = rng.choice(sample.shape[0], size=min(batch, sample.shape[0]), replace=False)
        pts = sample[idx]
        labels = assign_nearest(pts, centroids)
        new = centroids.copy()
        for u in np.unique(labels):
            mask = labels == u
            counts[u] += int(mask.sum())
            eta = 1.0 / counts[u]
            new[u] = (1.0 - eta) * new[u] + eta * pts[mask].mean(axis=0)
        # A3 on the batch level: clusters never hit keep their position
        delta = _centroid_delta(centroids, new)
        centroids = new
        if delta < tol:
            converged = True
            break
    return centroids, it, converged


def kmeans_numpy(
    mat: np.ndarray,
    k: int,
    *,
    max_iters: int = 100,
    tol: float = KMEANS_DELTA_TOL,
    seed: int = 42,
) -> np.ndarray:
    """Driver-side Lloyd's k-means on a small in-memory matrix.

    Used where the reference runs k-means over *centroids* rather than
    data — super-centroid sharding (src/ivf_index.rs:103-109) and the
    meta-centroid hierarchy (K7, src/kmeans.rs:583-648). These matrices
    are (nlist, d) ≈ 4√n rows, so distributing them would be pure
    overhead. Seeded and deterministic.
    """
    if k <= 0:
        raise ValueError("k must be positive")
    rng = np.random.default_rng(seed)
    centroids = kmeans_pp_init(np.asarray(mat, dtype=np.float64), k, rng)
    mat = np.asarray(mat, dtype=np.float64)
    for _ in range(max_iters):
        labels = assign_nearest(mat, centroids)
        new = centroids.copy()
        for u in range(k):
            mask = labels == u
            if mask.any():
                new[u] = mat[mask].mean(axis=0)
            else:  # A3
                new[u] = mat[int(rng.integers(0, mat.shape[0]))]
        if _centroid_delta(centroids, new) < tol:
            centroids = new
            break
        centroids = new
    return centroids


def build_centroid_hierarchy(
    centroids: np.ndarray, seed: int
) -> tuple[np.ndarray, np.ndarray]:
    """K7 — meta-centroids over the centroids themselves, for two-stage
    hierarchical assignment when k is large (src/kmeans.rs:583-648;
    meta_k = clamp(sqrt(k), 2, k/2), 5 iterations, hierarchy seed).

    Returns (meta_centroids (meta_k,d), centroid→meta labels (k,)).
    """
    from vector_indexer_spark.config import hierarchy_seed

    k = centroids.shape[0]
    meta_k = max(2, min(int(np.sqrt(k)), k // 2))
    meta = kmeans_numpy(
        centroids, meta_k, max_iters=5, seed=hierarchy_seed(seed)
    )
    labels = assign_nearest(centroids, meta)
    return meta, labels


# ---------------------------------------------------------------------------
# Quality metrics (A6)
# ---------------------------------------------------------------------------


def compute_inertia(
    df: DataFrame, centroids: np.ndarray, *, vec_col: str = "values"
) -> float:
    """A6 — WCSS: Σ dist²(point, nearest centroid) over the full table.

    Distributed partial sums; driver receives one double per partition
    batch (reference tests/test_utils/mod.rs:107-121).
    """
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(np.asarray(centroids, dtype=np.float64))

    def _inertia(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            pts = stack_arrays(pdf[vec_col])
            yield pd.DataFrame({"partial": [float(min_dist2(pts, c).sum())]})

    out = (
        df.select(vec_col)
        .mapInPandas(_inertia, "partial double")
        .agg(F.sum("partial").alias("inertia"))
        .collect()
    )
    return float(out[0]["inertia"] or 0.0)
