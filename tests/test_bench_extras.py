"""The bench's extras sidecar is merge-written and crash-safe."""

from __future__ import annotations

import json

import pytest

import bench


def test_extras_write_crash_keeps_previous_file(tmp_path, monkeypatch):
    """A run that dies while dumping the merged extras leaves the
    previous complete sidecar, so the heavy-only keys recorded there
    survive into the next run's merge."""
    path = str(tmp_path / "bench_extras.json")
    bench.write_extras(path, {"heavy_only": {"b": 2, "a": 1}, "lean": 1.0})
    before = open(path).read()
    orig = json.dump

    def crash(obj, fp, *args, **kwargs):
        fp.write("{")  # a partial write, then the crash
        raise OSError("disk full")

    monkeypatch.setattr(json, "dump", crash)
    with pytest.raises(OSError, match="disk full"):
        bench.write_extras(path, {"lean": 2.0})
    monkeypatch.setattr(json, "dump", orig)
    assert open(path).read() == before

    bench.write_extras(path, {"lean": 3.0})
    with open(path) as f:
        after = json.load(f)
    assert after == {"heavy_only": {"a": 1, "b": 2}, "lean": 3.0}
    # sorted keys, nested ones included
    assert list(after) == ["heavy_only", "lean"]
    assert list(after["heavy_only"]) == ["a", "b"]
