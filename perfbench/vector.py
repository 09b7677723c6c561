"""vector: the flagship point workloads, run back to back in one run.

A run is the pip_flagship phase (tile-histogram pyramid, fused PIP join)
and then the knn_skewed phase (one kNN join over a skewed point set).
Both stage their own inputs; the spans keep the layers apart.
"""

from __future__ import annotations

import os

from knn_skewed import KnnSkewed
from pip_flagship import PipFlagship


class Vector:
    def __init__(self, spark, tp, seed: int, n_files: int):
        self.phases = {
            "pip_flagship": PipFlagship(spark, tp, seed, n_files),
            "knn_skewed": KnnSkewed(spark, tp, seed, n_files),
        }

    def stage(self, path: str) -> int:
        return sum(p.stage(os.path.join(path, name)) for name, p in self.phases.items())

    def run(self, out_dir: str, tracer) -> dict:
        outs = {name: p.run(os.path.join(out_dir, name), tracer) for name, p in self.phases.items()}
        counts = {}
        for out in outs.values():
            counts.update(out["counts"])
        return {"phases": outs, "counts": counts}

    def check(self, out: dict) -> dict:
        counts = {}
        for name, p in self.phases.items():
            counts.update(p.check(out["phases"][name]))
        return counts
