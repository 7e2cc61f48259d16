"""Outside-in benchmark of the vector engine; see ``perfbench/run.py``."""
