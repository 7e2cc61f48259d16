"""Arrow-batched NumPy kernels — the engine's "SIMD tier".

The reference hand-vectorizes its distance loop with ``f32x8``/``f32x4``
lanes (src/kmeans.rs:375-419). Our equivalent is NumPy over Arrow
batches inside ``mapInPandas``/``pandas_udf``: same semantics as the
native expressions in ``functions.distance``, different execution
strategy. Everything here is a plain NumPy function so it is unit
testable without Spark; the Spark wrappers live in the operators.
"""

from __future__ import annotations

import numpy as np


def pairwise_dist2(points: np.ndarray, centroids: np.ndarray) -> np.ndarray:
    """All-pairs squared L2: (n,d) x (k,d) -> (n,k), float64.

    Uses the expanded form ||p||² - 2 p·c + ||c||² (one GEMM) rather
    than broadcasting (n,k,d) differences — O(n·k·d) flops but O(n·k)
    memory, which is what keeps a 10k-row Arrow batch against 4k
    centroids inside executor memory.

    Determinism caveat: BLAS picks its accumulation blocking from the
    MATRIX SHAPES, so the same (p, c) pair scored inside two
    differently-sized batches can differ in the last ulp. Results are
    bit-stable for a fixed physical layout, but rank order WITHIN a
    float-tie group (exact duplicate vectors) may change when the
    layout changes (e.g. after compaction). The fold-expression native
    path (functions.distance.dist2_expr) has a fixed accumulation
    order and is layout-independent — it is what every DuckDB oracle
    compares against.
    """
    p = np.asarray(points, dtype=np.float64)
    c = np.asarray(centroids, dtype=np.float64)
    p2 = np.einsum("ij,ij->i", p, p)[:, None]
    c2 = np.einsum("ij,ij->i", c, c)[None, :]
    # ONE fresh (n,k) buffer, then in-place updates: the naive
    # `p2 - 2.0*(p@c.T) + c2` allocates three more (n,k) temporaries,
    # and on this host first-touch page faults on fresh large buffers
    # run ~30x slower than steady-state (measured 0.1 vs 3 GB/s), so a
    # 257x155k scoring call spent 9.7 s in elementwise temporaries.
    # Bit-identical to the old expression: -(2.0*g) == -2.0*g exactly,
    # and IEEE addition is commutative, so (p2 - 2g) + c2 ==
    # ((-2g) + p2) + c2 cell for cell.
    d2 = p @ c.T
    d2 *= -2.0
    d2 += p2
    d2 += c2
    # GEMM round-off can push exact-zero distances slightly negative.
    np.maximum(d2, 0.0, out=d2)
    return d2


def assign_nearest(points: np.ndarray, centroids: np.ndarray) -> np.ndarray:
    """J1 — argmin-distance cluster assignment, (n,) int64.

    Ties break toward the lower centroid id (np.argmin first-wins), the
    same rule the reference's sequential min-scan applies
    (src/kmeans.rs:353-373).
    """
    return np.argmin(pairwise_dist2(points, centroids), axis=1).astype(np.int64)


def assign_nearest_hierarchical(
    points: np.ndarray,
    centroids: np.ndarray,
    meta_centroids: np.ndarray,
    meta_labels: np.ndarray,
    top_meta: int = 3,
) -> np.ndarray:
    """J2 — two-stage pruned assignment for large k (reference
    src/kmeans.rs:445-581): rank the ~√k meta-centroids per point, keep
    the top ``top_meta`` (W3, reference keeps 3), then argmin over only
    the centroids belonging to those meta-clusters.

    O(n·(√k + 3k/√k)·d) instead of O(n·k·d). Points whose shortlisted
    meta clusters all turn out memberless (possible when duplicated
    meta centroids leave higher-id duplicates with zero member
    centroids) fall back to exact assignment.
    """
    n = points.shape[0]
    meta_d2 = pairwise_dist2(points, meta_centroids)
    top_meta = min(top_meta, meta_centroids.shape[0])
    _, top_ids = topk_per_row(meta_d2, top_meta)
    best_d = np.full(n, np.inf)
    best_i = np.zeros(n, dtype=np.int64)
    # one vectorized block per meta cluster: points that shortlisted it
    # × centroids that belong to it — O(n·top_meta·(k/√k)·d) total,
    # never the full n×k matrix
    for m in range(meta_centroids.shape[0]):
        cent_idx = np.flatnonzero(meta_labels == m)
        if cent_idx.size == 0:
            continue
        pts_idx = np.flatnonzero((top_ids == m).any(axis=1))
        if pts_idx.size == 0:
            continue
        d2 = pairwise_dist2(points[pts_idx], centroids[cent_idx])
        local_min = d2.argmin(axis=1)
        local_d = d2[np.arange(len(pts_idx)), local_min]
        cand_i = cent_idx[local_min]
        # tie-break toward the lower centroid id, matching assign_nearest
        upd = (local_d < best_d[pts_idx]) | (
            (local_d == best_d[pts_idx]) & (cand_i < best_i[pts_idx])
        )
        sel = pts_idx[upd]
        best_d[sel] = local_d[upd]
        best_i[sel] = cand_i[upd]
    missing = ~np.isfinite(best_d)
    if missing.any():  # empty shortlist → exact fallback
        best_i[missing] = assign_nearest(points[missing], centroids)
    return best_i


def min_dist2(points: np.ndarray, centroids: np.ndarray) -> np.ndarray:
    """Distance to the nearest centroid, (n,) float64 (inertia input)."""
    return np.min(pairwise_dist2(points, centroids), axis=1)


def topk_per_row(
    d2: np.ndarray, k: int, ids: np.ndarray | None = None
) -> tuple[np.ndarray, np.ndarray]:
    """Per-row top-k smallest with (distance, id) tie-break.

    Returns (dists (n,k'), ids (n,k')) with k' = min(k, ncols), sorted
    ascending. ``ids`` defaults to column ordinals. argpartition bounds
    the sort cost at O(ncols + k log k) per row — the NumPy analog of
    the reference's partial sort-then-take (src/ivf_index.rs:264-266).
    """
    n, m = d2.shape
    if ids is None:
        ids = np.arange(m, dtype=np.int64)
    k = min(k, m)
    if k < m:
        # distance-only argpartition would pick ARBITRARY members of a
        # tie group that straddles the k boundary (the subsequent sort
        # only orders what was already picked) — so partition first to
        # prune, then include the whole boundary tie group and lexsort
        # (distance, id) before the final cut. Duplicate-heavy corpora
        # (the dedup workloads) hit boundary ties constantly.
        part = np.argpartition(d2, k - 1, axis=1)[:, :k]
        part_d = np.take_along_axis(d2, part, axis=1)
        thresh = part_d.max(axis=1, keepdims=True)
        cand_mask = d2 <= thresh  # winners + every boundary-tied column
        # pack variable-length candidate sets into a dense (n, width)
        # block keyed by (distance, id); pad slots sort last
        width = int(cand_mask.sum(axis=1).max())
        pad_d = np.full((n, width), np.inf)
        pad_i = np.full((n, width), np.iinfo(np.int64).max, dtype=np.int64)
        rows, cols = np.nonzero(cand_mask)
        offsets = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(cand_mask.sum(axis=1), out=offsets[1:])
        slot = np.arange(len(rows)) - offsets[rows]
        pad_d[rows, slot] = d2[rows, cols]
        pad_i[rows, slot] = ids[cols]
        order = np.lexsort((pad_i, pad_d), axis=1)[:, :k]
        return (
            np.take_along_axis(pad_d, order, axis=1),
            np.take_along_axis(pad_i, order, axis=1),
        )
    part_d = d2
    part_ids = np.broadcast_to(ids, d2.shape)
    # stable lexsort: primary distance, secondary id — deterministic ties
    order = np.lexsort((part_ids, part_d), axis=1)
    return (
        np.take_along_axis(part_d, order, axis=1),
        np.take_along_axis(part_ids, order, axis=1),
    )


def topk_per_row_hierarchical(
    points: np.ndarray,
    centroids: np.ndarray,
    meta_centroids: np.ndarray,
    meta_labels: np.ndarray,
    k: int,
    *,
    top_meta: int | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Two-stage pruned top-k centroids per point — the probe-ranking
    twin of :func:`assign_nearest_hierarchical` (J2): rank the ~√nlist
    meta-centroids, shortlist the nearest ``top_meta`` metas, then take
    the exact (distance, id)-tie-broken top-``k`` among only their
    member centroids.

    Why it exists: flat probe ranking is O(nq·nlist·d) against a
    driver/broadcast-resident (nlist, d) matrix — fine to ~100k lists,
    but at 100 TB sizing (nlist≈1.3M, d=768) that matrix alone is
    ~8 GB. Hierarchical ranking touches O(√nlist + top_meta·√nlist)
    centroid rows per query instead.

    ``top_meta`` defaults to enough metas that the expected member
    count covers k with slack (k/avg_members + 2, min 3 — the
    reference keeps 3 for assignment, src/kmeans.rs:445-581).
    Queries whose shortlisted metas hold fewer than k member centroids
    fall back to exact ranking — approximation never silently returns
    short probe lists.

    Returns (dists (n,k'), ids (n,k')), k' = min(k, nlist), ascending,
    same contract as :func:`topk_per_row`.
    """
    n = points.shape[0]
    nlist = centroids.shape[0]
    k = min(k, nlist)
    meta_k = meta_centroids.shape[0]
    # member lists per meta via one stable sort of the label array
    order = np.argsort(meta_labels, kind="stable")
    sorted_labels = meta_labels[order]
    starts = np.searchsorted(sorted_labels, np.arange(meta_k))
    ends = np.searchsorted(sorted_labels, np.arange(meta_k), side="right")
    avg_members = max(1, nlist // meta_k)
    if top_meta is None:
        top_meta = max(3, int(np.ceil(k / avg_members)) + 2)
    top_meta = min(top_meta, meta_k)

    meta_d2 = pairwise_dist2(points, meta_centroids)
    _, top_ids = topk_per_row(meta_d2, top_meta)

    per_q_ids: list = [[] for _ in range(n)]
    per_q_d: list = [[] for _ in range(n)]
    for m in np.unique(top_ids):
        members = order[starts[m] : ends[m]]
        if members.size == 0:
            continue
        pts_idx = np.flatnonzero((top_ids == m).any(axis=1))
        d2 = pairwise_dist2(points[pts_idx], centroids[members])
        for r, qi in enumerate(pts_idx):
            per_q_ids[qi].append(members)
            per_q_d[qi].append(d2[r])

    out_d = np.empty((n, k), dtype=np.float64)
    out_i = np.empty((n, k), dtype=np.int64)
    fallback = []
    for qi in range(n):
        if not per_q_ids[qi]:
            fallback.append(qi)
            continue
        ids = np.concatenate(per_q_ids[qi])
        if ids.size < k:
            fallback.append(qi)
            continue
        d = np.concatenate(per_q_d[qi])
        sel = np.lexsort((ids, d))[:k]  # same tie-break as topk_per_row
        out_d[qi] = d[sel]
        out_i[qi] = ids[sel]
    if fallback:
        fb = np.asarray(fallback)
        fd, fi = topk_per_row(pairwise_dist2(points[fb], centroids), k)
        out_d[fb] = fd
        out_i[fb] = fi
    return out_d, out_i


def stack_arrays(series) -> np.ndarray:
    """pandas Series of list/np.ndarray -> contiguous (n,d) float64."""
    return np.asarray([np.asarray(v, dtype=np.float64) for v in series])


# Bound on the (n_queries × n_candidates) scratch matrix inside one
# kernel call: 4e7 float64s ≈ 320 MB. Larger batches are processed in
# candidate chunks with a top-k merge — O(k) extra work per chunk, no
# change in results.
MAX_SCORE_CELLS = 40_000_000


def merge_topk(
    best: tuple[np.ndarray, np.ndarray] | None,
    new: tuple[np.ndarray, np.ndarray],
    k: int,
) -> tuple[np.ndarray, np.ndarray]:
    """Running top-k: the per-row top ``k`` of two ``(dists, ids)``
    results over the same rows (``best`` None: nothing yet), by the
    (distance, id) order of :func:`topk_per_row`."""
    if best is None:
        return new
    md = np.concatenate([best[0], new[0]], axis=1)
    mi = np.concatenate([best[1], new[1]], axis=1)
    order = np.lexsort((mi, md), axis=1)[:, :k]
    return (
        np.take_along_axis(md, order, axis=1),
        np.take_along_axis(mi, order, axis=1),
    )


def chunked_topk(
    qmat: np.ndarray,
    vmat: np.ndarray,
    vids: np.ndarray,
    k: int,
    mask_fn=None,
) -> tuple[np.ndarray, np.ndarray]:
    """Per-query top-k over candidates, chunked so the distance matrix
    never exceeds MAX_SCORE_CELLS. ``mask_fn(chunk_slice, d2)`` may set
    non-eligible (query, candidate) cells to +inf before ranking.
    Returns (dists (nq,k'), ids (nq,k')) like :func:`topk_per_row`.
    """
    nq, n = qmat.shape[0], vmat.shape[0]
    chunk = max(1, MAX_SCORE_CELLS // max(nq, 1))
    if n <= chunk:
        d2 = pairwise_dist2(qmat, vmat)
        if mask_fn is not None:
            mask_fn(slice(0, n), d2)
        return topk_per_row(d2, k, ids=vids)
    best = None
    for start in range(0, n, chunk):
        sl = slice(start, min(start + chunk, n))
        d2 = pairwise_dist2(qmat, vmat[sl])
        if mask_fn is not None:
            mask_fn(sl, d2)
        best = merge_topk(best, topk_per_row(d2, k, ids=vids[sl]), k)
    return best


def rowwise_dist2_foldexact(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Per-row squared L2 between PAIRED rows of two (n, d) arrays,
    float64, accumulated column-by-column: ``acc += (a_j - b_j)^2``
    for j = 0..d-1.

    This is the exact fold-left order of
    ``functions.distance.dist2_expr`` (and of every DuckDB oracle's
    ``list_reduce``), just vectorized ACROSS rows — each row's sum is
    the identical IEEE operation sequence, so results are
    bit-identical to the native fold expression, with none of the
    GEMM blocking caveats of :func:`pairwise_dist2`. Use for
    candidate-PAIR scoring (NN-Descent rounds, verify stages) where
    the shape is (pair rows), not (queries x corpus).
    """
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    acc = np.zeros(a.shape[0])
    for j in range(a.shape[1]):
        d = a[:, j] - b[:, j]
        acc += d * d
    return acc


def pairwise_cosine_foldexact(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """All-pairs cosine similarity, (n, d) × (m, d) → (n, m) float64,
    accumulated column-by-column: ``dot += a_j ⊗ b_j`` for j = 0..d-1.

    Every cell's dot product and both squared norms are the exact
    fold-left IEEE sequence of ``functions.distance.cosine_expr``
    (and of the DuckDB oracles' ``list_reduce``), vectorized ACROSS
    pairs — bit-identical to the native expression, with none of
    :func:`pairwise_dist2`'s GEMM-blocking caveats. Use where a
    (rows × queries) cosine matrix must stay oracle-exact (the brute
    MaxSim scoring pass)."""
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    dot = np.zeros((a.shape[0], b.shape[0]))
    na = np.zeros(a.shape[0])
    nb = np.zeros(b.shape[0])
    for j in range(a.shape[1]):
        x, y = a[:, j], b[:, j]
        dot += x[:, None] * y[None, :]
        na += x * x
        nb += y * y
    return dot / (np.sqrt(na)[:, None] * np.sqrt(nb)[None, :])


def rowwise_cosine_foldexact(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Per-row cosine similarity between PAIRED rows of two (n, d)
    arrays, float64 — the exact operation sequence of
    ``functions.distance.cosine_expr`` (fold-left dot and fold-left
    squared norms, then ``dot / (sqrt(na) * sqrt(nb))``), vectorized
    ACROSS rows. Bit-identical to the native expression and the DuckDB
    oracles; no GEMM reassociation. The pair-scoring twin of
    :func:`rowwise_dist2_foldexact` for the cosine-based dedup /
    similarity verify stages.
    """
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    n = a.shape[0]
    dot = np.zeros(n)
    na = np.zeros(n)
    nb = np.zeros(n)
    for j in range(a.shape[1]):
        x, y = a[:, j], b[:, j]
        dot += x * y
        na += x * x
        nb += y * y
    return dot / (np.sqrt(na) * np.sqrt(nb))
