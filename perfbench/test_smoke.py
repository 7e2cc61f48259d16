"""The benchmark's own tests: every workload at the smoke size, checker
on, against the metric lists in BENCHMARK.json.

    python3 -m pytest perfbench -q

Each test starts its own benchmark process (one Spark session each),
so the whole file takes a couple of minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pytest

from perfbench import data

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [
            sys.executable, "perfbench/run.py", "--workload", workload,
            "--seed", "3", "--seconds", "2", "--trace", str(trace),
            "--size", "smoke",
        ],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", ["probe_narrow", "ingest_mixed"])
def test_traced_run_reports_every_layer(workload):
    res = _run(workload, trace=1)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0
    spec = {m["name"]: m["unit"] for m in _spec()["per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == spec
    coverage = res["metrics"]["trace.coverage"]["value"]
    # api.self_s + search.driver_s + Spark job wall explain a narrow batch
    assert coverage >= 0.9 if workload == "probe_narrow" else coverage > 0


def test_untraced_run_reports_end_to_end():
    res = _run("probe_narrow", trace=0)
    assert res["correct"] and res["failed"] == 0
    spec = {m["name"]: m["unit"] for m in _spec()["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == spec
    assert all(v["value"] > 0 for v in res["metrics"].values())


def test_inputs_depend_only_on_seed():
    a = data.generate(5, data.SIZES["smoke"])
    b = data.generate(5, data.SIZES["smoke"])
    c = data.generate(6, data.SIZES["smoke"])
    assert np.array_equal(a.corpus, b.corpus)
    assert np.array_equal(a.narrow[0], b.narrow[0])
    assert not np.array_equal(a.corpus, c.corpus)


def test_checker_rejects_wrong_results():
    inputs = data.generate(1, data.SIZES["smoke"])
    corpus, q = inputs.corpus[:2000], inputs.spread[0]
    D, I = data.exact_topk(corpus, q)
    assert data.check_exact(corpus, q, D, I) is None
    assert data.check_ann(corpus, q, D, I) == (None, 1.0)

    swapped = I.copy()
    swapped[0, [0, -1]] = swapped[0, [-1, 0]]
    assert data.check_ann(corpus, q, D, swapped)[0] is not None

    wrong = I.copy()
    wrong[0, -1] = (I[0, -1] + 1) % len(corpus)
    assert data.check_exact(corpus, q, D, wrong) is not None

    padded_D, padded_I = D.copy(), I.copy()
    padded_D[1, -1], padded_I[1, -1] = np.inf, -1
    err, recall = data.check_ann(corpus, q, padded_D, padded_I)
    assert err is None and recall < 1.0
    padded_D[1, 0], padded_I[1, 0] = np.inf, -1
    assert data.check_ann(corpus, q, padded_D, padded_I)[0] is not None
