"""Per-layer metrics of a traced run, derived from its spans and from
Spark's stage counters for the jobs each span launched.

Layer → the end-to-end metric it should move (and on which workload).
Each ``*_cpu_s`` end-to-end metric has a ``wall.*`` twin here, the
batch wall a user waits for:

- ``api`` → ``search_cpu_s`` on probe_narrow
- ``search`` (driver prep) → ``search_cpu_s`` on probe_narrow; a
  smaller share on ingest_mixed. ``search.broadcast_bytes`` also moves
  ``peak_rss_mb``
- ``scan`` (pruned read) → ``search_cpu_s`` on probe_narrow and
  ingest_mixed
- ``kernel`` (``functions.kernels`` on executors) → ``exact_cpu_s`` on
  both workloads and ``search_cpu_s`` on ingest_mixed, not probe_narrow
- ``merge`` (winners exchange + final rank) → ``exact_cpu_s``
- ``knn`` → ``exact_cpu_s``
- ``build`` (``index_build`` + ``kmeans``) → ``build_cpu_s`` and
  ``setup_s``
- ``add`` → ``add_cpu_s``; ``add.files_after`` moves
  ``scan.files_read`` and so ``search_cpu_s`` on ingest_mixed
- ``compact`` → ``compact_cpu_s`` and the post-compaction search
- ``spark.gc_s`` → every latency's tail; ``spark.executor_*`` → the
  read ``*_cpu_s``; ``session.start_s`` → ``setup_s``

A stage that reads input files is the scan stage; in the Arrow search
and kNN plans the kernel runs in that same stage, so ``scan.*`` counts
and ``kernel.*`` times come from the same stages. A stage that reads
shuffle output is the merge stage. Pair and row counts are derived at
the layer boundary from the probe lists the driver computed and the
live table's cluster sizes.
"""

from __future__ import annotations

import time
from collections import defaultdict

import numpy as np

# name -> unit; BENCHMARK.json's per_layer list carries the same names
PER_LAYER = {
    "api.self_s": "s",
    "search.driver_s": "s",
    "search.probe_rank_s": "s",
    "search.jobs": "count",
    "search.probed_clusters": "count",
    "search.broadcast_bytes": "B",
    "scan.bytes_read": "B",
    "scan.rows_read": "count",
    "scan.files_read": "count",
    "scan.tasks": "count",
    "scan.useful_row_ratio": "ratio",
    "kernel.stage_run_s": "s",
    "kernel.jvm_cpu_s": "s",
    "kernel.pairs_scored": "count",
    "kernel.useful_pair_ratio": "ratio",
    "kernel.topk_ns_per_pair": "ns",
    "kernel.stack_ns_per_value": "ns",
    "merge.shuffle_bytes": "B",
    "merge.stage_run_s": "s",
    "knn.driver_s": "s",
    "knn.jobs": "count",
    "build.kmeans_fit_s": "s",
    "build.shard_s": "s",
    "build.write_s": "s",
    "build.bytes_written": "B",
    "build.files_written": "count",
    "add.validate_s": "s",
    "add.write_s": "s",
    "add.jobs": "count",
    "add.files_after": "count",
    "compact.files_before": "count",
    "compact.files_after": "count",
    "compact.bytes_rewritten": "B",
    "spark.gc_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "session.start_s": "s",
    "wall.search_p50_s": "s",
    "wall.exact_p50_s": "s",
    "wall.queries_per_s": "1/s",
    "wall.build_s": "s",
    "wall.add_p50_s": "s",
    "wall.compact_s": "s",
    "trace.overhead_ratio": "ratio",
    "trace.coverage": "ratio",
}


def annotate_search(run, rec) -> None:
    """Record a traced read's work counts at the layer boundary: probed
    clusters (from the driver's probe ranking), rows and (query, row)
    pairs the kernel scored versus those in probed clusters, files in
    the probed shards, and the broadcast the probe plan implies."""
    nq, dim = rec.queries.shape
    if rec.kind == "exact":
        rec.info["computed_pairs"] = nq * rec.n_rows
        return
    probe_ids = None
    for s in run.tracer.spans[rec.span.sid + 1 :]:
        if "_probe_ids" in s.attrs:
            probe_ids = s.attrs["_probe_ids"]
    if probe_ids is None:
        return
    probed = np.unique(probe_ids)
    sizes = run.cluster_sizes()
    useful_rows = int(sizes[probed].sum())
    shards = np.unique(run.index.centroid_shards[probed])
    rec.info.update(
        probed_clusters=len(probed),
        useful_rows=useful_rows,
        # the masked GEMM scores every query against every row that
        # passed the cluster predicate; only probed pairs are useful
        computed_pairs=nq * useful_rows,
        useful_pairs=int(sizes[probe_ids].sum()),
        files_read=run.files_in_shards(shards),
        broadcast_bytes=nq * dim * 8 + nq * len(probed) + nq * 8 + len(probed) * 8,
    )


def replay_kernels(dim: int, reps: int = 5) -> dict:
    """In-process replays of the executor kernels on a fixed shape: a
    256-query × 8192-row ``chunked_topk`` and a ``stack_arrays`` of
    8192 float32 rows. Medians of ``reps`` calls."""
    import pandas as pd

    from vector_indexer_spark.functions.kernels import chunked_topk, stack_arrays

    rng = np.random.default_rng(0)
    q = rng.standard_normal((256, dim))
    v = rng.standard_normal((8192, dim))
    ids = np.arange(8192, dtype=np.int64)
    rows = pd.Series(list(v.astype(np.float32)))

    def med(fn) -> float:
        ts = []
        for _ in range(reps):
            t0 = time.perf_counter()
            fn()
            ts.append(time.perf_counter() - t0)
        return float(np.median(ts))

    return {
        "kernel.topk_ns_per_pair": med(lambda: chunked_topk(q, v, ids, 10))
        / (256 * 8192) * 1e9,
        "kernel.stack_ns_per_value": med(lambda: stack_arrays(rows))
        / (8192 * dim) * 1e9,
    }


def _med(xs) -> float:
    return float(np.median(xs)) if len(xs) else 0.0


def _mean(xs) -> float:
    return float(np.mean(xs)) if len(xs) else 0.0


def _ratio(num, den) -> float:
    return float(num) / float(den) if den else 0.0


def _union_within(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def derive(run, tracer, *, session_start_s: float, replay: dict) -> dict:
    spans = tracer.spans
    kids = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)

    def tree(s):
        out, todo = [], [s]
        while todo:
            t = todo.pop()
            out.append(t)
            todo.extend(kids[t.sid])
        return out

    def jobs(s) -> set:
        return {j for t in tree(s) for j in t.jobs}

    def job_wall(s) -> float:
        iv = [(tracer.job(j)["start"], tracer.job(j)["end"]) for j in jobs(s)]
        return _union_within(iv, s.start, s.end)

    def stages(s) -> list:
        return [st for j in sorted(jobs(s)) for st in tracer.job(j)["stages"]]

    def scan_stages(s) -> list:
        return [
            st for st in stages(s) if st["input_records"] > 0 or st["input_bytes"] > 0
        ]

    def named(s, name) -> list:
        return [t for t in tree(s) if t.name == name]

    by_name = defaultdict(list)
    for s in spans:
        by_name[s.name].append(s)
    ops = [op for op in run.ops if op.span is not None]
    kind = defaultdict(list)
    for op in ops:
        kind[op.kind].append(op)
    ivf, exact = kind["ivf"], kind["exact"]
    reads = ivf + exact

    def scan_sum(op, key):
        return sum(st[key] for st in scan_stages(op.span))

    def driver(s) -> float:
        """Time in ``s`` outside any Spark job interval."""
        return s.dur - job_wall(s)

    def api_self(s) -> float:
        return driver(s) - sum(driver(t) for t in kids[s.sid] if t.name == "api.search_df")

    # share of each IVF batch's wall explained by the driver time of
    # the api and search layers plus the wall of the Spark jobs
    coverage = [
        (
            sum(api_self(t) for t in named(op.span, "api.search"))
            + sum(driver(t) for t in named(op.span, "search.search_index"))
            + job_wall(op.span)
        )
        / op.wall
        for op in ivf
    ]

    builds = by_name["build.build_index"]
    adds = by_name["add.add_vectors"]
    traced_jobs = sorted({j for op in ops if op.phase == "traced" for j in jobs(op.span)})
    traced_stages = [st for j in traced_jobs for st in tracer.job(j)["stages"]]
    last_add = kind["add"][-1].info if kind["add"] else {}
    last_compact = kind["compact"][-1].info if kind["compact"] else {}
    traced_ivf = [op.wall for op in ivf if op.phase == "traced"]

    def wall_med(kinds, phases=("loop",)) -> float:
        return _med([op.wall for op in run.ops if op.kind in kinds and op.phase in phases])

    untraced_ivf = wall_med(("ivf",))
    writes = ("setup", "loop", "traced")

    m = {
        "api.self_s": _med([api_self(s) for s in by_name["api.search"]]),
        "search.driver_s": _med([driver(s) for s in by_name["search.search_index"]]),
        "search.probe_rank_s": _med(
            [
                sum(t.dur for t in named(s, "search.probe_rank"))
                for s in by_name["search.search_index"]
            ]
        ),
        "search.jobs": _med([len(jobs(op.span)) for op in ivf]),
        "search.probed_clusters": _med(
            [op.info["probed_clusters"] for op in ivf if "probed_clusters" in op.info]
        ),
        "search.broadcast_bytes": _med(
            [op.info["broadcast_bytes"] for op in ivf if "broadcast_bytes" in op.info]
        ),
        "scan.bytes_read": _med([scan_sum(op, "input_bytes") for op in ivf]),
        "scan.rows_read": _med([scan_sum(op, "input_records") for op in ivf]),
        "scan.files_read": _med(
            [op.info["files_read"] for op in ivf if "files_read" in op.info]
        ),
        "scan.tasks": _med([scan_sum(op, "tasks") for op in ivf]),
        "scan.useful_row_ratio": _ratio(
            sum(op.info.get("useful_rows", 0) for op in ivf),
            sum(scan_sum(op, "input_records") for op in ivf),
        ),
        "kernel.stage_run_s": _mean([scan_sum(op, "run_s") for op in reads]),
        "kernel.jvm_cpu_s": _mean([scan_sum(op, "cpu_s") for op in reads]),
        "kernel.pairs_scored": _mean([op.info.get("computed_pairs", 0) for op in reads]),
        "kernel.useful_pair_ratio": _ratio(
            sum(op.info.get("useful_pairs", 0) for op in ivf),
            sum(op.info.get("computed_pairs", 0) for op in ivf),
        ),
        **replay,
        "merge.shuffle_bytes": _mean(
            [sum(st["shuffle_write_bytes"] for st in stages(op.span)) for op in exact]
        ),
        "merge.stage_run_s": _mean(
            [
                sum(st["run_s"] for st in stages(op.span) if st["shuffle_read_bytes"] > 0)
                for op in exact
            ]
        ),
        "knn.driver_s": _med([driver(op.span) for op in exact]),
        "knn.jobs": _med([len(jobs(op.span)) for op in exact]),
        "build.kmeans_fit_s": _med([s.dur for s in by_name["build.kmeans_fit"]]),
        "build.shard_s": _med([s.dur for s in by_name["build.shard"]]),
        "build.write_s": _med(
            [b.end - max(t.end for t in named(b, "build.shard")) for b in builds]
        ),
        "build.bytes_written": _med(
            [sum(st["output_bytes"] for st in stages(op.span)) for op in kind["build"]]
        ),
        "build.files_written": _med([op.info["files_written"] for op in kind["build"]]),
        "add.validate_s": _med([s.dur for s in by_name["add.validate"]]),
        "add.write_s": _med(
            [a.end - max(t.end for t in named(a, "add.validate")) for a in adds]
        ),
        "add.jobs": _med([len(jobs(op.span)) for op in kind["add"]]),
        "add.files_after": last_add.get("files_after", 0),
        "compact.files_before": last_compact.get("files_before", 0),
        "compact.files_after": last_compact.get("files_after", 0),
        "compact.bytes_rewritten": _med(
            [sum(st["output_bytes"] for st in stages(op.span)) for op in kind["compact"]]
        ),
        "spark.gc_s": sum(st["gc_s"] for st in traced_stages),
        "spark.executor_run_s": sum(st["run_s"] for st in traced_stages),
        "spark.executor_cpu_s": sum(st["cpu_s"] for st in traced_stages),
        "session.start_s": session_start_s,
        # batch walls, as a user waits for them: reads from the untraced
        # phase, writes from wherever the workload ran them
        "wall.search_p50_s": untraced_ivf,
        "wall.exact_p50_s": wall_med(("exact",)),
        "wall.queries_per_s": _ratio(run.sizes.nq, wall_med(("ivf", "exact"))),
        "wall.build_s": wall_med(("build",), writes),
        "wall.add_p50_s": wall_med(("add",), writes),
        "wall.compact_s": wall_med(("compact",), writes),
        "trace.overhead_ratio": _ratio(_med(traced_ivf), untraced_ivf),
        "trace.coverage": _med(coverage),
    }
    return {name: {"value": float(m[name]), "unit": unit} for name, unit in PER_LAYER.items()}
