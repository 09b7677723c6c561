"""knn_skewed: k-nearest-neighbour join over a skewed point set.

Most points sit in one hot box and the rest are spread over the globe;
half the queries fall in the box (dense tiles: a large candidate join in
the first ring round) and half in the sparse world (few candidates per
tile: a second, wider ring round).  One run is one ``knn_join`` call and
the collect of its result.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa

from common import du, expect, write_parquet
from tilematrix_spark.operators import knn

LATTICE = 1.25  # degrees between sparse points (one per lattice cell, jittered)
SPARSE_LAT = 80.0  # sparse points cover |lat| < SPARSE_LAT, sparse queries 5 degrees less
N_SPARSE = int(360 / LATTICE) * int(2 * SPARSE_LAT / LATTICE)
N_HOT = 9 * N_SPARSE  # 90% of the points
N_POINTS = N_HOT + N_SPARSE
HOT_SIDE = 40.0  # degrees; at ZOOM a hot tile holds ~400 points
N_QUERIES = 1000
K = 8
ZOOM = 7
CHECK_EVERY = 10  # queries with qid % CHECK_EVERY == 0 are checked against brute force


class KnnSkewed:
    """Sparse points sit on a jittered lattice, so the k-th neighbour of a
    sparse query lies within 2 tile widths and mostly beyond 1: the join
    takes the same two ring rounds (radius 1, then 2) for every seed."""

    def __init__(self, spark, tp, seed: int, n_files: int):
        self.spark, self.tp, self.n_files = spark, tp, n_files
        rng = np.random.default_rng(seed)
        cx, cy = rng.uniform(-140.0, 140.0), rng.uniform(-40.0, 40.0)

        def hot(n):
            half = HOT_SIDE / 2
            return rng.uniform(cx - half, cx + half, n), rng.uniform(cy - half, cy + half, n)

        gx, gy = np.meshgrid(
            np.arange(-180.0, 180.0, LATTICE), np.arange(-SPARSE_LAT, SPARSE_LAT, LATTICE)
        )
        sx = gx.ravel() + rng.uniform(0.0, LATTICE, N_SPARSE)
        sy = gy.ravel() + rng.uniform(0.0, LATTICE, N_SPARSE)
        hx, hy = hot(N_HOT)
        self.px, self.py = np.concatenate([hx, sx]), np.concatenate([hy, sy])
        n_sparse_q = N_QUERIES - N_QUERIES // 2
        qhx, qhy = hot(N_QUERIES // 2)
        qwx = rng.uniform(-180.0, 180.0, n_sparse_q)
        qwy = rng.uniform(5.0 - SPARSE_LAT, SPARSE_LAT - 5.0, n_sparse_q)
        self.qx, self.qy = np.concatenate([qhx, qwx]), np.concatenate([qhy, qwy])
        self.expected = {
            q: self._brute_force(q) for q in range(0, N_QUERIES, CHECK_EVERY)
        }

    def _brute_force(self, q: int) -> list:
        """Top-k (pid, dist, rank) by (dist, pid), same distance formula."""
        dx = np.abs(self.qx[q] - self.px)
        dx = np.minimum(dx, (self.tp.right - self.tp.left) - dx)
        dy = self.qy[q] - self.py
        dist = np.sqrt(dx * dx + dy * dy)
        cand = np.flatnonzero(dist <= np.partition(dist, K - 1)[K - 1])
        order = cand[np.lexsort((cand, dist[cand]))][:K]
        return [(int(p), float(dist[p]), r + 1) for r, p in enumerate(order)]

    def stage(self, path: str) -> int:
        points = pa.table({"pid": np.arange(N_POINTS, dtype=np.int64), "lon": self.px, "lat": self.py})
        queries = pa.table({"qid": np.arange(N_QUERIES, dtype=np.int64), "lon": self.qx, "lat": self.qy})
        write_parquet(points, os.path.join(path, "points"), self.n_files)
        write_parquet(queries, os.path.join(path, "queries"), self.n_files)
        self.points = self.spark.read.schema("pid long, lon double, lat double").parquet(
            os.path.join(path, "points")
        )
        self.queries = self.spark.read.schema("qid long, lon double, lat double").parquet(
            os.path.join(path, "queries")
        )
        return du(path)

    def run(self, out_dir: str, tracer) -> dict:
        with tracer.span("knn.join"):
            result = knn.knn_join(self.queries, self.points, self.tp, ZOOM, K)
        with tracer.span("knn.collect"):
            rows = result.collect()
        return {"rows": rows, "counts": {}}

    def check(self, out: dict) -> dict:
        by_q: dict = {}
        for r in out["rows"]:
            by_q.setdefault(r["qid"], []).append((r["pid"], r["dist"], r["rank"]))
        expect(len(by_q) == N_QUERIES, f"{len(by_q)} of {N_QUERIES} queries answered")
        expect(
            all(sorted(x[2] for x in hits) == list(range(1, K + 1)) for hits in by_q.values()),
            "a query lacks ranks 1..k",
        )
        for q, want in self.expected.items():
            got = sorted(by_q[q], key=lambda x: x[2])
            expect(got == want, f"query {q}: top-k differs from brute force")
        return {}
