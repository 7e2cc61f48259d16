"""Once-per-worker Python bootstrap (``session._bootstrap_worker``).

Inside a reused worker the stat-guarded ``zipimporter.invalidate_caches``
must skip unchanged archives yet still re-read a rewritten one; on the
driver, importing the package must change nothing.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pandas as pd
import pytest


def _read_counts(batches):
    """One row per task: how many zip directory reads one
    ``importlib.invalidate_caches()`` costs after a warm-up call."""
    import importlib
    import zipimport

    import vector_indexer_spark  # noqa: F401 — what every kernel's unpickling does

    for _ in batches:
        pass
    importlib.invalidate_caches()  # warm-up: importers read since bootstrap
    reads = []
    stdlib_read = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return stdlib_read(archive)

    zipimport._read_directory = counting
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = stdlib_read
    n_zip = sum(
        isinstance(f, zipimport.zipimporter)
        for f in sys.path_importer_cache.values()
    )
    yield pd.DataFrame({"reads": [len(reads)], "zip_importers": [n_zip]})


@pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="zipimporter.invalidate_caches is already lazy on CPython >= 3.13",
)
def test_unchanged_archive_is_not_reread(spark):
    df = spark.range(4).repartition(4)
    schema = "reads long, zip_importers long"
    df.mapInPandas(_read_counts, schema).collect()  # warm-up tasks
    rows = df.mapInPandas(_read_counts, schema).collect()
    assert len(rows) == 4
    # the workers import pyspark from the zip Spark puts on their path,
    # so the guard has importers to act on
    assert all(r.zip_importers > 0 for r in rows)
    assert [r.reads for r in rows] == [0, 0, 0, 0]


def _import_after_rewrite(batches):
    import importlib
    import tempfile
    import uuid
    import zipfile

    import vector_indexer_spark  # noqa: F401

    for _ in batches:
        pass
    tag = uuid.uuid4().hex
    first, second = f"zipmod_a_{tag}", f"zipmod_b_{tag}"
    with tempfile.TemporaryDirectory() as tmp:
        archive = os.path.join(tmp, "mods.zip")
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr(f"{first}.py", "VALUE = 1\n")
        sys.path.insert(0, archive)
        try:
            importlib.import_module(first)
            importlib.invalidate_caches()  # unchanged: guard records it
            with zipfile.ZipFile(archive, "w") as z:
                z.writestr(f"{first}.py", "VALUE = 1\n")
                z.writestr(f"{second}.py", "VALUE = 2\n")
            importlib.invalidate_caches()
            value = importlib.import_module(second).VALUE
        finally:
            sys.path.remove(archive)
            sys.modules.pop(first, None)
            sys.modules.pop(second, None)
    yield pd.DataFrame({"value": [value]})


def test_rewritten_archive_is_reread(spark):
    rows = (
        spark.range(2)
        .repartition(2)
        .mapInPandas(_import_after_rewrite, "value long")
        .collect()
    )
    assert [r.value for r in rows] == [2, 2]


def test_driver_import_changes_nothing(tmp_path):
    # A fresh interpreter, with the worker-reuse variable set, so only
    # the missing TaskContext keeps the bootstrap off.
    code = textwrap.dedent(
        """
        import zipimport
        stdlib = zipimport.zipimporter.invalidate_caches
        import vector_indexer_spark
        assert zipimport.zipimporter.invalidate_caches is stdlib
        assert stdlib.__module__ == "zipimport"
        """
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_REUSE_WORKER="1", PYTHONPATH=repo)
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr
