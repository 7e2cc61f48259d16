"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload probe_narrow --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of this repository (the package
``vector_indexer_spark`` must sit beside ``perfbench/``). The run
starts a local Spark session on every core the process may use,
generates its inputs from ``--seed``, builds the index, measures the
workload for ``--seconds`` and checks every result against a NumPy
truth. The last line of standard output is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``. With ``--trace 1`` the run measures every read
segment twice on the same table state — untraced, then traced — and
reports the per-layer metrics; the spans are written to
``.perfbench/trace-<workload>-<seed>.json``. The
line before the result carries the run's provenance. Everything the
run writes stays under ``.perfbench/`` in the checkout.

``--size smoke`` shrinks every input so both workloads, checker on,
run in a couple of minutes (the benchmark's own tests use it).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument(
        "--workload",
        required=True,
        choices=("probe_narrow", "ingest_mixed"),
    )
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "smoke"), default="full")
    return p.parse_args(argv)


def start_spark(work: str, cores: int):
    """A local session whose scratch files all land under ``work``."""
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    # the JVM and the Python workers inherit these
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    from vector_indexer_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "20000",
            "spark.ui.retainedStages": "20000",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM the session launched."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — never leave it running
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "vector_indexer_spark", "__init__.py")):
        print(
            f"perfbench: no vector_indexer_spark package beside {ROOT}/perfbench",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import data, layers, procs, workloads
    from perfbench.trace import Tracer

    out_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_dir, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    cores = len(os.sched_getaffinity(0))
    sizes = data.SIZES[args.size]
    prov = procs.provenance(ROOT, cores)
    cpu_before = procs.cpu_ticks()
    sampler = procs.RssSampler(os.getpid())
    sampler.start()
    spark = tracer = None
    peak_rss_mb = None
    try:
        t0 = time.perf_counter()
        inputs = data.generate(args.seed, sizes)
        t_session = time.perf_counter()
        spark = start_spark(work, cores)
        session_s = time.perf_counter() - t_session
        run = workloads.Run(spark, inputs, args.seed, work)
        if args.trace:
            tracer = Tracer(spark.sparkContext)
            tracer.install()
            run.tracer = tracer
        workloads.setup(run, args.workload)
        setup_s = time.perf_counter() - t0

        workloads.measure(run, args.workload, args.seconds, tracer)
        peak_rss_mb = sampler.stop()

        if tracer is not None:
            tracer.active = False
            tracer.collect_jobs()
            metrics = layers.derive(
                run,
                tracer,
                session_start_s=session_s,
                replay=layers.replay_kernels(sizes.dim),
            )
        bytes_ratio = run.index_bytes() / (run.n_rows * sizes.dim * 4)
    finally:
        if tracer is not None:
            tracer.uninstall()
        if spark is not None:
            stop_spark(spark)
        if peak_rss_mb is None:
            sampler.stop()
        shutil.rmtree(work, ignore_errors=True)
    attempted, failed, recall = run.check()
    prov.update(
        workload=args.workload,
        seed=args.seed,
        size=args.size,
        loadavg_after=procs.loadavg(),
        steal_share=procs.steal_share(cpu_before, procs.cpu_ticks()),
        gemm_calibration_s_after=procs.gemm_calibration_s(),
    )
    if tracer is not None:
        tracer_path = os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json")
        tracer.dump(tracer_path, prov)
    else:
        metrics = workloads.end_to_end(
            run,
            setup_s=setup_s,
            recall_at_10=recall,
            bytes_per_vector_byte=bytes_ratio,
            peak_rss_mb=peak_rss_mb,
            ok_op_ratio=1.0 - failed / attempted,
        )
    print(json.dumps({"provenance": prov}))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
