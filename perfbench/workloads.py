"""The workloads, driven only through the package's public functions
(``api``, ``operators.search``, ``operators.knn``,
``operators.index_build``). Both are closed loops with one client,
k = 10 and fixed-size query batches.

- ``probe_narrow``: set-up builds an IVF index from the base corpus,
  adds one batch, compacts and opens it. The loop runs
  ``api.load(dir).search(xq, k, n_probe)`` on narrow batches over the
  Parquet index, alternating with exact batches, so per-batch fixed
  costs dominate.
- ``ingest_mixed``: set-up builds the index and opens it. The loop runs
  :data:`data.INGEST_ADDS` rounds of {``add_vectors``, then
  ``search_index`` and ``knn_exact`` batches, spread over all
  components, on the uncached Parquet table}, then ``compact_index``
  and one more search and exact batch. Writes share the run with a
  kernel-heavy scan whose file count grows with every add.

Set-up ends with one untimed read of each kind, so the timed reads run
warm. Results are kept and checked against the NumPy truth after the loop, so the
checker never runs inside a timed operation.
"""

from __future__ import annotations

import os
import sys
import time
import traceback
from collections import defaultdict
from contextlib import nullcontext
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from perfbench import data, layers, procs


@dataclass
class Op:
    kind: str  # build | add | compact | ivf | exact
    phase: str  # setup | warmup | loop | traced
    wall: float
    cpu: float  # CPU seconds of the whole process tree
    batch: int | None = None
    n_rows: int = 0  # corpus rows visible to the op
    queries: np.ndarray | None = None
    result: tuple | None = None  # (D, I)
    span: object = None
    info: dict = field(default_factory=dict)


class Run:
    """One benchmark process: the session, its inputs, the index and
    every operation timed so far."""

    def __init__(self, spark, inputs: data.Inputs, seed: int, work: str):
        self.spark = spark
        self.inputs = inputs
        self.sizes = inputs.sizes
        self.seed = seed
        self.work = work
        self.index_dir = os.path.join(work, "index")
        self.tracer = None
        self.phase = "setup"
        self.ops: list[Op] = []
        self.failures: list[str] = []
        self.n_rows = 0
        self.next_add = 0
        self.index = None  # operators.index_build.IvfIndex
        self.vindex = None  # api.VectorIndex over the same directory

    # -- timing ------------------------------------------------------------

    def op(self, kind: str, fn, *, batch=None, queries=None) -> Op | None:
        """Time ``fn()`` as one operation; an exception counts as a
        failed operation and is reported, never dropped."""
        span_cm = (
            self.tracer.span(f"op.{kind}", batch=batch)
            if self.tracer is not None
            else nullcontext()
        )
        cpu0 = procs.tree_cpu_s(os.getpid())
        t0 = time.perf_counter()
        try:
            with span_cm as span:
                out = fn()
        except Exception:  # noqa: BLE001 — the run goes on and reports it
            self.failures.append(f"{kind} raised:\n{traceback.format_exc()}")
            print(self.failures[-1], file=sys.stderr)
            return None
        wall = time.perf_counter() - t0
        cpu = procs.tree_cpu_s(os.getpid()) - cpu0
        rec = Op(kind, self.phase, wall, cpu, batch, self.n_rows, queries, span=span)
        if kind in ("ivf", "exact"):
            rec.result = out
        else:
            rec.info = out if isinstance(out, dict) else {}
        self.ops.append(rec)
        if span is not None and kind in ("ivf", "exact"):
            layers.annotate_search(self, rec)  # after the timer stopped
        return rec

    # -- operations ----------------------------------------------------------

    def _query_df(self, xq: np.ndarray):
        return self.spark.createDataFrame(
            pd.DataFrame(
                {"query_id": np.arange(len(xq), dtype=np.int64), "query": list(xq)}
            ),
            "query_id long, query array<float>",
        )

    @staticmethod
    def _to_padded(rows, nq: int) -> tuple[np.ndarray, np.ndarray]:
        D = np.full((nq, data.K), np.inf)
        I = np.full((nq, data.K), -1, dtype=np.int64)
        for r in rows:
            D[r["query_id"], r["rank"] - 1] = r["dist2"]
            I[r["query_id"], r["rank"] - 1] = r["neighbor_id"]
        return D, I

    def build(self) -> None:
        from vector_indexer_spark.operators import index_build

        path = os.path.join(self.work, "base")
        s = self.sizes
        data.write_vectors(
            path, np.arange(s.n_base), self.inputs.corpus[: s.n_base]
        )
        rec = self.op(
            "build",
            lambda: index_build.build_index(
                self.spark.read.parquet(path),
                self.index_dir,
                dimension=s.dim,
                seed=self.seed,
                max_iters=s.kmeans_iters,
            ),
        )
        if rec is None:
            raise RuntimeError("index build failed; nothing to measure")
        rec.info["files_written"] = sum(
            f.endswith(".parquet") for _, _, fs in os.walk(self.index_dir) for f in fs
        )
        self.n_rows = s.n_base
        self.index = index_build.load_index(self.spark, self.index_dir)

    def add(self) -> None:
        """Add the next generated batch (an IndexError once all
        :data:`data.INGEST_ADDS` are used)."""
        from vector_indexer_spark.operators import index_build

        lo, hi = self.inputs.add_range(self.next_add)
        path = os.path.join(self.work, f"add-{self.next_add}")
        data.write_vectors(path, np.arange(lo, hi), self.inputs.corpus[lo:hi])
        self.next_add += 1
        rec = self.op(
            "add",
            lambda: index_build.add_vectors(
                self.spark, self.index, self.spark.read.parquet(path)
            ),
        )
        if rec is not None:
            self.n_rows = hi

    def compact(self) -> None:
        from vector_indexer_spark.operators import index_build

        self.op("compact", lambda: index_build.compact_index(self.spark, self.index))

    def ivf_api(self, xq: np.ndarray, batch: int) -> None:
        s = self.sizes
        self.op(
            "ivf",
            lambda: self.vindex.search(xq, k=data.K, n_probe=s.n_probe),
            batch=batch,
            queries=xq,
        )

    def ivf(self, xq: np.ndarray, batch: int) -> None:
        from vector_indexer_spark.operators import search

        def run():
            rows = search.search_index(
                self.spark,
                self.index,
                self._query_df(xq),
                k=data.K,
                n_probe=self.sizes.n_probe,
            ).collect()
            return self._to_padded(rows, len(xq))

        self.op("ivf", run, batch=batch, queries=xq)

    def exact(self, xq: np.ndarray, batch: int) -> None:
        from vector_indexer_spark.operators import knn

        def run():
            rows = knn.knn_exact(
                self.index.vectors(self.spark), self._query_df(xq), data.K
            ).collect()
            return self._to_padded(rows, len(xq))

        self.op("exact", run, batch=batch, queries=xq)

    # -- set-up ----------------------------------------------------------

    def open(self) -> None:
        from vector_indexer_spark import api

        self.vindex = api.load(self.index_dir, spark=self.spark)

    # -- checks and metrics ----------------------------------------------

    def check(self) -> tuple[int, int, float]:
        """Check every read result against the NumPy truth over the
        corpus as it stood. Returns (attempted, failed, recall@k over
        the IVF batches)."""
        failed = len(self.failures)
        found = total = 0
        for op in self.ops:
            if op.result is None:
                continue
            corpus = self.inputs.corpus[: op.n_rows]
            D, I = (np.asarray(a) for a in op.result)
            if op.kind == "exact":
                err = data.check_exact(corpus, op.queries, D, I)
            else:
                err, recall = data.check_ann(corpus, op.queries, D, I)
                found += recall * I.size
                total += I.size
            if err is not None:
                failed += 1
                print(f"check failed ({op.kind}, {op.phase}): {err}", file=sys.stderr)
        return len(self.ops) + len(self.failures), failed, (found / total if total else 0.0)

    def index_bytes(self) -> int:
        root = self.index.vectors_path
        return sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, files in os.walk(root)
            for f in files
            if f.endswith(".parquet")
        )

    def cluster_sizes(self) -> np.ndarray:
        """Rows per cluster in the live table, read with pyarrow (the
        traced run's denominator for useful-row and useful-pair
        ratios)."""
        col = pq.read_table(self.index.vectors_path, columns=["cluster_id"])
        return np.bincount(
            col.column("cluster_id").to_numpy(), minlength=self.index.nlist
        )

    def files_in_shards(self, shards) -> int:
        root = self.index.vectors_path
        n = 0
        for s in shards:
            d = os.path.join(root, f"shard_id={int(s)}")
            if os.path.isdir(d):
                n += sum(1 for f in os.listdir(d) if f.endswith(".parquet"))
        return n


# -- the workloads ---------------------------------------------------------


def _loop(seconds: float, step) -> None:
    """Call ``step(i)`` until ``seconds`` have passed (at least once)."""
    t0 = time.perf_counter()
    i = 0
    while time.perf_counter() - t0 < seconds or i == 0:
        step(i)
        i += 1


def _reads(run: Run, workload: str):
    """The read operations of ``workload``, each ``read(i)`` on batch
    ``i`` of the workload's query pool."""
    if workload == "probe_narrow":
        pool, ivf = run.inputs.narrow, run.ivf_api
    else:
        pool, ivf = run.inputs.spread, run.ivf
    n = len(pool)
    return (
        lambda i: ivf(pool[i % n], i % n),
        lambda i: run.exact(pool[i % n], i % n),
    )


def setup(run: Run, workload: str) -> None:
    run.build()
    if workload == "probe_narrow":
        run.add()
        run.compact()
    run.open()
    run.phase = "warmup"
    for read in _reads(run, workload):
        read(0)


def measure(run: Run, workload: str, seconds: float, tracer=None) -> None:
    """The timed phase of ``workload``. Reads are labelled ``loop``. In
    a traced run every read segment runs twice on the same table state,
    first untraced (``loop``) and then traced (``traced``), and the
    writes run traced."""
    ivf, exact = _reads(run, workload)
    writes = "traced" if tracer is not None else "loop"

    def phase(name: str) -> None:
        run.phase = name
        if tracer is not None:
            tracer.active = name == "traced"

    def both(fn) -> None:
        for name in ("loop", "traced") if tracer is not None else ("loop",):
            phase(name)
            fn()

    def step(i):
        (ivf if i % 2 == 0 else exact)(i // 2)

    if workload == "probe_narrow":
        both(lambda: _loop(seconds, step))
    elif workload == "ingest_mixed":
        # a fixed number of adds, each followed by reads for an equal
        # share of the time, so the table every read sees grows the
        # same way whatever the machine's speed
        for _ in range(data.INGEST_ADDS):
            phase(writes)
            run.add()
            both(lambda: _loop(seconds / data.INGEST_ADDS, step))
        phase(writes)
        run.compact()
        both(lambda: (ivf(0), exact(0)))
    else:
        raise ValueError(f"unknown workload {workload!r}")


# name -> unit; BENCHMARK.json's end_to_end list carries the same names
END_TO_END = {
    "setup_s": "s",
    "search_cpu_s": "s",
    "exact_cpu_s": "s",
    "build_cpu_s": "s",
    "add_cpu_s": "s",
    "compact_cpu_s": "s",
    "recall_at_10": "ratio",
    "bytes_per_vector_byte": "ratio",
    "peak_rss_mb": "MiB",
    "ok_op_ratio": "ratio",
}


def op_medians(run: Run, attr: str) -> dict:
    """Median ``attr`` (``wall`` or ``cpu``) per operation kind over
    the untraced timed phase, with set-up's build, add and compaction
    counted on the write path."""
    by = defaultdict(list)
    for op in run.ops:
        if op.phase == "loop" or (op.phase == "setup" and op.kind in ("build", "add", "compact")):
            by[op.kind].append(getattr(op, attr))
    by["read"] = by["ivf"] + by["exact"]
    return {kind: float(np.median(v)) for kind, v in by.items()}


def end_to_end(run: Run, **measured) -> dict:
    """The end-to-end metrics of an untraced run: process-tree CPU
    seconds per operation (medians, see :func:`op_medians`) and the
    figures in ``measured``, taken outside the ops (setup_s,
    recall_at_10, bytes_per_vector_byte, peak_rss_mb, ok_op_ratio)."""
    cpu = op_medians(run, "cpu")
    m = {
        "search_cpu_s": cpu["ivf"],
        "exact_cpu_s": cpu["exact"],
        "build_cpu_s": cpu["build"],
        "add_cpu_s": cpu["add"],
        "compact_cpu_s": cpu["compact"],
        **measured,
    }
    return {name: {"value": float(m[name]), "unit": unit} for name, unit in END_TO_END.items()}
