"""SparkSession factory tuned for the engine.

Local-mode defaults mirror what we'd set on a real cluster: AQE on
(runtime re-planning, skew-join splitting), Arrow on (all our numeric
kernels are pandas UDFs batched through Arrow), shuffle partitions
sized to cores rather than the 200 default. On a 1000-executor
cluster only ``master`` and the shuffle-partition count change — the
engine code never assumes local mode.

Importing this module inside a reused Python worker also runs
:func:`_bootstrap_worker` once per worker process (the package
``__init__`` imports it, and every package kernel's unpickling imports
the package).
"""

from __future__ import annotations

import os
import sys
import zipimport

from pyspark import TaskContext
from pyspark.sql import SparkSession

_stdlib_zip_invalidate = zipimport.zipimporter.invalidate_caches


def _zip_invalidate_if_changed(self) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive's
    central directory only when its ``(st_mtime_ns, st_size, st_ino)``
    changed since this importer last read it: a stat-guarded skip, not
    CPython 3.13's lazy re-read, which drops the cached directory and so
    can never serve a stale one. The stat is taken before the read, so a
    rewrite racing the read is seen by the next call. Limit: a rewrite
    that keeps the size and lands within one tick of the file system's
    mtime clock (``zipfile.ZipFile(path, "w")`` truncates in place, so
    the inode stays) looks unchanged and is not re-read."""
    try:
        st = os.stat(self.archive)
        key = (st.st_mtime_ns, st.st_size, st.st_ino)
    except OSError:
        key = None
    if key is not None and getattr(self, "_read_stat", None) == key:
        return
    _stdlib_zip_invalidate(self)
    self._read_stat = key


def _bootstrap_worker() -> None:
    """Once per reused Python worker, stop every Arrow task from
    re-reading ``pyspark.zip``.

    Spark's per-task ``setup_spark_files`` calls
    ``importlib.invalidate_caches()``. On CPython < 3.13 every
    zipimporter then eagerly re-reads its archive's central directory —
    one importer per package directory imported from ``pyspark.zip``
    (3.5 MB), so ~16 full reads, most of a no-op task's CPU. Installing
    the stat guard above skips unchanged archives.

    A no-op on the driver (no ``TaskContext``) and in a worker that
    serves only one task (``SPARK_REUSE_WORKER`` unset); installing it
    again changes nothing.
    """
    if (
        sys.version_info < (3, 13)
        and os.environ.get("SPARK_REUSE_WORKER")
        and TaskContext.get() is not None
    ):
        zipimport.zipimporter.invalidate_caches = _zip_invalidate_if_changed


def _usable_ram_gb() -> int:
    """Physical RAM in GiB, respecting cgroup limits when present (a
    container on a big host must size to its limit, not the host)."""
    try:
        host = (
            os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        ) // (1024**3)
    except (ValueError, OSError, AttributeError):  # non-POSIX
        host = 8
    for limit_file in (
        "/sys/fs/cgroup/memory.max",  # cgroup v2
        "/sys/fs/cgroup/memory/memory.limit_in_bytes",  # cgroup v1
    ):
        try:
            raw = open(limit_file).read().strip()
            if raw.isdigit():
                host = min(host, int(raw) // (1024**3))
        except OSError:
            continue
    return max(host, 1)


def get_spark(
    app_name: str = "vector-indexer-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    # Python workers unpickle our mapInPandas closures by module
    # reference; make sure they can import the package no matter the
    # driver's cwd. (Cluster deployments ship the same thing via
    # --py-files / spark.submit.pyFiles.)
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_parent}{os.pathsep}{existing}" if existing else pkg_parent
        )

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        # Local mode: size shuffles to cores. On a real cluster the caller
        # (or spark-submit conf) must supply this — cores-on-the-driver is
        # meaningless there, so only default it for local masters.
        shuffle_partitions = cpus if master.startswith("local") else 200

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # larger Arrow batches amortize Python-worker round trips in the
        # mapInPandas kernels (default 10k; our rows are narrow vectors)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "50000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # parquet scan parallelism at 100 TB: default 128 MiB splits are right;
        # make it explicit so the intent survives config drift.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
    )
    # Driver memory: in local mode the driver JVM IS the executor, and
    # Spark's 1g default OOMs the vectorized parquet reader with 32
    # concurrent tasks on wide array columns. Size it to half the
    # machine (capped), unless the caller pinned it via env. (Ignored
    # when getOrCreate reuses an existing JVM — unavoidable.)
    if "SPARK_DRIVER_MEMORY" in os.environ:
        builder = builder.config(
            "spark.driver.memory", os.environ["SPARK_DRIVER_MEMORY"]
        )
    elif master.startswith("local"):
        builder = builder.config(
            "spark.driver.memory", f"{max(2, min(_usable_ram_gb() // 2, 64))}g"
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


_bootstrap_worker()
