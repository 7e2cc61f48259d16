"""Fixed Python-worker CPU per Arrow task.

Runs ``--jobs`` no-op ``mapInPandas`` jobs of 4 tasks each on a
``get_spark()`` session, after 3 untimed jobs that start the reused
workers, and reads the CPU time of the Python worker processes
(every descendant of the Spark JVM: the daemon and its forked workers)
from ``/proc`` before and after. The no-op imports the package, as the
unpickling of every package kernel does, so the per-worker bootstrap of
``vector_indexer_spark.session`` is in effect; what remains is the
fixed per-task cost every search, kNN and k-means batch pays.

    python3 scripts/worker_overhead.py --jobs 20

Prints one JSON line: ``worker_cpu_s_per_task`` plus the raw totals.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.procs import _TICK, _tree  # noqa: E402

TASKS = 4  # tasks per job
WARMUP = 3  # untimed jobs that start the reused workers


def worker_cpu_s(jvm_pid: int) -> tuple[float, int]:
    """CPU seconds (user + system, with reaped children) of every
    descendant of the JVM, and how many such processes are alive."""
    tree = _tree(jvm_pid)
    tree.pop(jvm_pid, None)
    return sum(sum(map(int, f[11:15])) for f in tree.values()) / _TICK, len(tree)


def _noop(batches):
    import vector_indexer_spark  # noqa: F401

    for pdf in batches:
        yield pdf.iloc[:0]


def main(argv=None) -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--jobs", type=int, default=20)
    args = p.parse_args(argv)

    from pyspark import SparkContext

    from vector_indexer_spark.session import get_spark

    spark = get_spark(
        app_name="worker-overhead",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    jvm_pid = SparkContext._gateway.proc.pid
    df = spark.range(TASKS, numPartitions=TASKS)

    def run_jobs(n: int) -> None:
        for _ in range(n):
            df.mapInPandas(_noop, "id long").collect()

    run_jobs(WARMUP)
    cpu0, _ = worker_cpu_s(jvm_pid)
    run_jobs(args.jobs)
    cpu1, n_procs = worker_cpu_s(jvm_pid)
    spark.stop()
    n_tasks = args.jobs * TASKS
    print(
        json.dumps(
            {
                "python": platform.python_version(),
                "cores": os.cpu_count(),
                "jobs": args.jobs,
                "tasks": n_tasks,
                "worker_processes": n_procs,
                "worker_cpu_s": round(cpu1 - cpu0, 3),
                "worker_cpu_s_per_task": round((cpu1 - cpu0) / n_tasks, 4),
            }
        )
    )


if __name__ == "__main__":
    main()
