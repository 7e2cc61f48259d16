"""The bench's section registry and its one timing protocol (no Spark)."""

from __future__ import annotations

import json
import os
import time

import pytest

import bench

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_lean_sections_declare_the_headline_keys():
    """The default (lean) sections declare exactly the 26 ``queries``
    keys of the committed harness artifact, each once."""
    with open(os.path.join(ROOT, "BENCH_r11.json")) as f:
        headline = json.load(f)["parsed"]["queries"]
    lean, heavy, scale = bench.options({})
    assert (heavy, scale) == (False, 1.0)
    assert lean == [s for s in bench.SECTIONS if not s.heavy]
    declared = [k for s in lean for k in s.keys]
    assert len(declared) == len(set(declared)) == 26
    assert set(declared) == set(headline)


def test_options_select_sections_in_registry_order():
    names = [s.name for s in bench.SECTIONS]
    assert len(names) == len(set(names))
    picked, heavy, scale = bench.options(
        {"BENCH_SECTIONS": " d768,ivf ", "BENCH_HEAVY": "1", "BENCH_SCALE": "0.1"}
    )
    assert [s.name for s in picked] == ["ivf", "d768"]
    assert (heavy, scale) == (True, 0.1)
    assert bench.options({"BENCH_HEAVY": "1"})[0] == bench.SECTIONS


def test_unknown_section_name_raises():
    with pytest.raises(ValueError, match="nope"):
        bench.options({"BENCH_SECTIONS": "ivf,nope"})


def test_nonpositive_scale_raises():
    with pytest.raises(ValueError, match="BENCH_SCALE"):
        bench.options({"BENCH_SCALE": "0"})


def test_measure_warms_up_untimed_interleaves_and_keeps_minima(monkeypatch):
    """Warm-up calls run first and are never timed; timed calls go
    round-robin a, b, a, b, …; each variant reports its minimum."""
    now = [0.0]
    monkeypatch.setattr(time, "perf_counter", lambda: now[0])
    calls: list = []
    # per-call durations: the warm-up calls take 0 s, so a protocol
    # that timed them would report 0 as the minimum
    durations = {"a": [0.0, 0.0, 5.0, 3.0, 4.0], "b": [0.0, 0.0, 2.0, 7.0, 1.0]}

    def variant(key):
        def fn():
            calls.append(key)
            now[0] += durations[key][sum(1 for c in calls if c == key) - 1]

        return fn

    mins = bench.measure({"a": variant("a"), "b": variant("b")}, rounds=3, warmup=2)
    assert calls == ["a", "b"] * 5
    assert mins == {"a": 3.0, "b": 1.0}


def test_clock_times_one_run_through_measure(monkeypatch):
    now = [10.0]
    monkeypatch.setattr(time, "perf_counter", lambda: now[0])

    class FakeCtx(bench.Ctx):
        def __init__(self):
            self.extras = {}

    ctx = FakeCtx()

    def step():
        now[0] += 1.23456
        return "built"

    assert ctx.clock("build_sec", step) == "built"
    assert ctx.extras == {"build_sec": 1.235}
