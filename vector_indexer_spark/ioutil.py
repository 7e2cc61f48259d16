"""Shared small-file IO discipline for index sidecars.

Every persisted index tier (IVF flat, IVF-SQ, IVF-BQ, IVF-RaBitQ,
IVF-PQ, IVF-OPQ, two-layer graph) keeps its root metadata in a small
JSON sidecar next to the parquet tables — the Spark translation of the
reference's bincode index root (src/ivf_index.rs:269-316). Every
sidecar write — build, rebuild, and the insert/delete/compact
bookkeeping rewrites — must be atomic: a crash mid-write would
truncate the file and make the whole index unloadable (every loader
json.load()s it first). The fix is the classic tmp + fsync + rename
pointer swap — the same discipline maintenance.write_version uses for
table manifests and the staged-swap rewrites use for data directories.
"""

from __future__ import annotations

import json
import os


def atomic_write_json(path: str, obj) -> None:
    """Write ``obj`` as JSON to ``path`` atomically (tmp + fsync +
    os.rename + parent-dir fsync). A reader sees either the old
    complete file or the new complete file, never a truncation; the
    directory fsync makes the RENAME itself durable, so an
    acknowledged write can't roll back to the older complete file on
    power loss."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=2)
        f.flush()
        os.fsync(f.fileno())
    os.rename(tmp, path)
    dfd = os.open(os.path.dirname(os.path.abspath(path)), os.O_RDONLY)
    try:
        os.fsync(dfd)
    finally:
        os.close(dfd)
