"""Spark job table of the build, add and compaction spans of a perfbench
trace (``python3 perfbench/run.py ... --trace 1`` writes it to
``.perfbench/trace-<workload>-<seed>.json``).

    python scripts/trace_jobs.py .perfbench/trace-probe_narrow-7.json

One line per span, indented under its parent: the span's wall time,
the Spark jobs launched inside it (its own and its child spans'), and
their stages' summed executor run time and executor CPU time. A line
``total <op>`` sums the jobs of every top-level span of that
operation.
"""

from __future__ import annotations

import json
import sys
from collections import defaultdict

OPS = ("build", "add", "compact")


def main(path: str) -> None:
    with open(path) as f:
        spans = json.load(f)["spans"]
    kids = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append(s)

    def jobs(s) -> dict:
        out = dict(s["jobs"])
        for k in kids[s["sid"]]:
            out.update(jobs(k))
        return out

    def row(label: str, wall: float, js: dict) -> str:
        stages = [st for j in js.values() for st in j["stages"]]
        run_s = sum(st["run_s"] for st in stages)
        cpu_s = sum(st["cpu_s"] for st in stages)
        return f"{label:<32} {wall:>8.2f} {len(js):>5} {run_s:>9.2f} {cpu_s:>9.2f}"

    print(f"{'span':<32} {'wall_s':>8} {'jobs':>5} {'run_s':>9} {'cpu_s':>9}")
    totals = {op: ({}, 0.0) for op in OPS}

    def show(s, depth: int) -> None:
        print(row("  " * depth + s["name"], s["end"] - s["start"], jobs(s)))
        for k in kids[s["sid"]]:
            show(k, depth + 1)

    for s in spans:
        op = s["name"].removeprefix("op.")
        if s["parent"] is None and op in OPS:
            show(s, 0)
            js, wall = totals[op]
            totals[op] = ({**js, **jobs(s)}, wall + s["end"] - s["start"])
    for op in OPS:
        js, wall = totals[op]
        print(row(f"total {op}", wall, js))


if __name__ == "__main__":
    main(sys.argv[1])
