"""Outside-in tracing: spans around the driver-side calls into each
layer's public functions, and Spark's own stage metrics per span.

Every span runs its Spark jobs under a job group of its own, so after
the run ``statusTracker().getJobIdsForGroup`` names the jobs each span
launched, and the application status store — populated with the UI
disabled — gives every job's interval and every stage's run time, JVM
CPU, GC, input, shuffle and output counters. Spans are kept in memory
and written out once, when the run ends.

Only the benchmark's process is instrumented: the wrapped functions are
module attributes of the package, swapped for traced twins while a
:class:`Tracer` is installed and restored by :meth:`Tracer.uninstall`.
The wrapped kernels (``pairwise_dist2`` / ``topk_per_row`` in the
search module) are the driver-side probe ranking of the Arrow search
path; the executor closures of that path do not reference them.
"""

from __future__ import annotations

import functools
import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    start: float  # epoch seconds, comparable with Spark's job timestamps
    end: float = 0.0
    parent: int | None = None
    batch: int | None = None
    group: str = ""
    attrs: dict = field(default_factory=dict)
    jobs: list = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder bound to one SparkContext."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.active = False
        self._stack: list[Span] = []
        self._patches: list = []
        self._tag = f"perfbench-{os.getpid()}"
        self._job_cache: dict = {}

    @contextmanager
    def span(self, name: str, batch: int | None = None, **attrs):
        if not self.active:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(
            sid=len(self.spans),
            name=name,
            start=time.time(),
            parent=parent.sid if parent else None,
            batch=batch if batch is not None else (parent.batch if parent else None),
            attrs=attrs,
        )
        s.group = f"{self._tag}-{s.sid}"
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.group, name, False)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name, False)
            else:
                self.sc._jsc.clearJobGroup()

    def wrap(self, owner, attr: str, name: str, on_exit=None) -> None:
        """Replace ``owner.attr`` by a twin that runs inside a span;
        ``on_exit(span, result)`` may record counts from the result."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name) as s:
                out = orig(*args, **kwargs)
                if s is not None and on_exit is not None:
                    on_exit(s, out)
                return out

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def install(self) -> None:
        """Wrap the public entry points of every layer the benchmark
        drives."""
        from vector_indexer_spark import api
        from vector_indexer_spark.operators import index_build, knn, search

        def probes(s, out):
            s.attrs["_probe_ids"] = out[1]

        def files_after(s, out):
            s.attrs.update(out)

        self.wrap(api.VectorIndex, "search", "api.search")
        self.wrap(api.VectorIndex, "search_df", "api.search_df")
        # api.py imported search_index by name: wrap both bindings
        self.wrap(search, "search_index", "search.search_index")
        self.wrap(api, "search_index", "search.search_index")
        self.wrap(search, "pairwise_dist2", "search.probe_rank")
        self.wrap(search, "topk_per_row", "search.probe_rank", probes)
        self.wrap(knn, "knn_exact", "knn.knn_exact")
        self.wrap(index_build, "build_index", "build.build_index")
        self.wrap(index_build, "kmeans_fit", "build.kmeans_fit")
        self.wrap(index_build, "dense_relabel_and_shards", "build.shard")
        self.wrap(index_build, "add_vectors", "add.add_vectors", files_after)
        self.wrap(index_build, "validate_add_batch", "add.validate")
        self.wrap(index_build, "compact_index", "compact.compact_index", files_after)
        self.active = True

    def uninstall(self) -> None:
        self.active = False
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- Spark's side --------------------------------------------------

    def collect_jobs(self) -> None:
        """Attach job ids to every span and fetch every job's counters
        (after the listener bus has drained, so the status store holds
        every finished job)."""
        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        except Exception:  # noqa: BLE001 — internal API; fall back to a pause
            time.sleep(2.0)
        tracker = self.sc.statusTracker()
        for s in self.spans:
            s.jobs = sorted(tracker.getJobIdsForGroup(s.group))
            for j in s.jobs:
                self.job(j)  # cached: readable after the session stops

    def job(self, jid: int) -> dict:
        """``{start, end, stages: [...]}`` for one job, times in epoch
        seconds, stage counters as Spark reports them."""
        if jid in self._job_cache:
            return self._job_cache[jid]
        store = self.sc._jsc.sc().statusStore()
        jd = store.job(jid)
        start = jd.submissionTime().get().getTime() / 1e3
        comp = jd.completionTime()
        end = comp.get().getTime() / 1e3 if comp.isDefined() else start
        stages = []
        for sid in self.sc.statusTracker().getJobInfo(jid).stageIds:
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — evicted or never submitted
                continue
            stages.append(
                {
                    "stage": int(sid),
                    "status": sd.status().toString(),
                    "run_s": sd.executorRunTime() / 1e3,
                    "cpu_s": sd.executorCpuTime() / 1e9,
                    "gc_s": sd.jvmGcTime() / 1e3,
                    "input_bytes": sd.inputBytes(),
                    "input_records": sd.inputRecords(),
                    "output_bytes": sd.outputBytes(),
                    "shuffle_read_bytes": sd.shuffleReadBytes(),
                    "shuffle_write_bytes": sd.shuffleWriteBytes(),
                    "tasks": sd.numCompleteTasks(),
                }
            )
        out = {"start": start, "end": end, "stages": stages}
        self._job_cache[jid] = out
        return out

    def dump(self, path: str, provenance: dict) -> None:
        """Write every span, with its jobs' stage counters, as JSON."""
        spans = []
        for s in self.spans:
            d = asdict(s)
            d["attrs"] = {k: v for k, v in s.attrs.items() if not k.startswith("_")}
            d["jobs"] = {str(j): self.job(j) for j in s.jobs}
            spans.append(d)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"provenance": provenance, "spans": spans}, f)
