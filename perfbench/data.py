"""Seeded inputs and the NumPy output checker.

Everything the engine receives is generated here from the run's seed
with one ``np.random.default_rng``, independent of core or partition
count: a Gaussian mixture whose component sizes follow Zipf(0.8)
apportioned deterministically (so every seed has the same cluster-size
profile and only positions and noise change), two query pools (narrow:
a fixed window of mid-size components; spread: all components), and a
fixed number (:data:`INGEST_ADDS`) of add batches carved from the same
distribution.

Row ``i`` of :attr:`Inputs.corpus` has id ``i``. The first ``n_base``
rows are the build corpus; add batch ``r`` is the next ``add_rows``
rows after ``n_base + r * add_rows``. So "the corpus as it stands" is
always a prefix, and the checker's truth is the exact top-k over that
prefix, ties broken by id.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

K = 10

# add batches generated per run: the ingest_mixed loop adds each once
# (a traced run reads every table state twice but adds only once), and
# probe_narrow's set-up adds the first
INGEST_ADDS = 2

# relative tolerance on squared distances: the engine scores in float64
# via the GEMM expansion, api.search returns float32
DIST_RTOL = 1e-6


@dataclass(frozen=True)
class Sizes:
    n_base: int  # rows in the build corpus
    dim: int
    components: int  # mixture components
    nq: int  # queries per batch
    pool: int  # distinct query batches per pool, cycled
    add_rows: int  # rows per add batch
    n_probe: int
    kmeans_iters: int  # build_index max_iters
    narrow_first: int  # Zipf rank of the first narrow-query component
    narrow_components: int


SIZES = {
    "full": Sizes(
        n_base=10_000, dim=64, components=128, nq=256, pool=4,
        add_rows=1_000, n_probe=16, kmeans_iters=3,
        narrow_first=8, narrow_components=4,
    ),
    "smoke": Sizes(
        n_base=6_000, dim=32, components=32, nq=64, pool=2,
        add_rows=500, n_probe=8, kmeans_iters=3,
        narrow_first=2, narrow_components=2,
    ),
}


@dataclass
class Inputs:
    sizes: Sizes
    corpus: np.ndarray  # (n_base + INGEST_ADDS * add_rows, dim) float32
    narrow: list[np.ndarray]  # pool of (nq, dim) float32 batches
    spread: list[np.ndarray]

    def add_range(self, r: int) -> tuple[int, int]:
        if not 0 <= r < INGEST_ADDS:
            raise IndexError(f"add batch {r}: only {INGEST_ADDS} are generated")
        lo = self.sizes.n_base + r * self.sizes.add_rows
        return lo, lo + self.sizes.add_rows


def zipf_counts(total: int, components: int, s: float = 0.8) -> np.ndarray:
    """Largest-remainder apportionment of ``total`` rows by Zipf(s)
    weights — the same integer sizes for every seed."""
    w = 1.0 / np.arange(1, components + 1) ** s
    exact = total * w / w.sum()
    counts = np.floor(exact).astype(np.int64)
    short = total - int(counts.sum())
    counts[np.argsort(-(exact - counts), kind="stable")[:short]] += 1
    return counts


def generate(seed: int, sizes: Sizes) -> Inputs:
    rng = np.random.default_rng(seed)
    c, d = sizes.components, sizes.dim
    centers = rng.standard_normal((c, d)) * 4.0
    n = sizes.n_base + INGEST_ADDS * sizes.add_rows
    labels = rng.permutation(np.repeat(np.arange(c), zipf_counts(n, c)))
    corpus = (centers[labels] + rng.standard_normal((n, d))).astype(np.float32)

    def batch(comps: np.ndarray) -> np.ndarray:
        pick = rng.choice(comps, size=sizes.nq)
        return (centers[pick] + rng.standard_normal((sizes.nq, d))).astype(
            np.float32
        )

    window = np.arange(
        sizes.narrow_first, sizes.narrow_first + sizes.narrow_components
    )
    narrow = [batch(window) for _ in range(sizes.pool)]
    spread = [batch(np.arange(c)) for _ in range(sizes.pool)]
    return Inputs(sizes, corpus, narrow, spread)


def write_vectors(path: str, ids: np.ndarray, mat: np.ndarray) -> None:
    """One Parquet file of ``(id long, values array<float>)`` rows — the
    shape ``build_index`` and ``add_vectors`` read."""
    os.makedirs(path, exist_ok=True)
    flat = pa.array(np.ascontiguousarray(mat).reshape(-1))
    values = pa.FixedSizeListArray.from_arrays(flat, mat.shape[1]).cast(
        pa.list_(pa.float32())
    )
    pq.write_table(
        pa.table({"id": pa.array(ids, pa.int64()), "values": values}),
        os.path.join(path, "part-00000.parquet"),
    )


def exact_topk(
    corpus: np.ndarray, queries: np.ndarray, k: int = K
) -> tuple[np.ndarray, np.ndarray]:
    """NumPy exact top-k by squared L2, ties broken by id. A float64
    GEMM shortlists 4k candidates per query; their distances are then
    recomputed from differences so the truth carries no GEMM
    round-off."""
    x = corpus.astype(np.float64)
    q = queries.astype(np.float64)
    approx = (q * q).sum(1)[:, None] - 2.0 * (q @ x.T) + (x * x).sum(1)[None, :]
    m = min(4 * k, x.shape[0])
    cand = np.argpartition(approx, m - 1, axis=1)[:, :m]
    d2 = ((q[:, None, :] - x[cand]) ** 2).sum(-1)
    order = np.lexsort((cand, d2), axis=1)[:, :k]
    return np.take_along_axis(d2, order, 1), np.take_along_axis(cand, order, 1)


def true_dist2(corpus: np.ndarray, queries: np.ndarray, ids: np.ndarray):
    """Exact squared distance of each (query, returned id) pair; NaN
    where the id is padding or out of range."""
    ok = (ids >= 0) & (ids < corpus.shape[0])
    safe = np.where(ok, ids, 0)
    diff = queries.astype(np.float64)[:, None, :] - corpus[safe].astype(np.float64)
    out = (diff * diff).sum(-1)
    out[~ok] = np.nan
    return out


def _close(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    return np.abs(a - b) <= DIST_RTOL * np.maximum(np.abs(b), 1.0)


def check_exact(corpus, queries, D, I) -> str | None:
    """An exact batch must equal the truth on ids and, within
    tolerance, on dist2. Where ids differ, the batch still passes only
    if every returned id is a true top-k member up to a distance tie at
    the k-th place. Returns a description of the first failure."""
    td, ti = exact_topk(corpus, queries)
    if D.shape != td.shape:
        return f"shape {D.shape} != {td.shape}"
    if np.array_equal(I, ti):
        bad = ~_close(D, td)
        return f"{int(bad.sum())} dist2 values off" if bad.any() else None
    real = true_dist2(corpus, queries, I)
    if np.isnan(real).any():
        return "padding or out-of-range id in an exact result"
    if not _close(D, real).all():
        return "returned dist2 differs from the true distance of its id"
    kth = td[:, -1:]
    tied_ok = (real <= kth + DIST_RTOL * np.maximum(kth, 1.0)).all()
    distinct = all(len(set(row)) == row.size for row in I)
    if not (tied_ok and distinct):
        return f"{int((I != ti).any(1).sum())} queries differ from the truth"
    return None


def check_ann(corpus, queries, D, I) -> tuple[str | None, float]:
    """The padded (D, I) contract of an IVF batch, and its recall@k.

    Each row holds distinct in-range ids with ascending dist2 equal to
    the true distance of the id, then padding (``inf`` / ``-1``) only
    at its tail. Returns (first failure or None, recall against the
    exact truth)."""
    td, ti = exact_topk(corpus, queries)
    if D.shape != td.shape or I.shape != ti.shape:
        return f"shape {D.shape}/{I.shape} != {td.shape}", 0.0
    pad = I < 0
    if not np.array_equal(pad, np.isinf(D)):
        return "padding ids and inf distances disagree", 0.0
    if (np.diff(pad.astype(np.int8), axis=1) < 0).any():
        return "padding before a hit", 0.0
    real = true_dist2(corpus, queries, I)
    hit = ~pad
    if np.isnan(real[hit]).any():
        return "out-of-range id", 0.0
    if not _close(D[hit], real[hit]).all():
        return "returned dist2 differs from the true distance of its id", 0.0
    if (np.diff(np.where(hit, D, np.inf), axis=1) < 0).any():
        return "distances not ascending", 0.0
    if any(len(set(r[r >= 0])) != int((r >= 0).sum()) for r in I):
        return "duplicate id in a row", 0.0
    found = sum(len(set(a) & set(b)) for a, b in zip(I, ti))
    return None, found / ti.size
