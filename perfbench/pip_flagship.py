"""pip_flagship: the BASELINE flagship, tile index + point-in-polygon join.

One run: a per-zoom tile-histogram pyramid over uniform R2-scattered points
(one ``PyramidJob.run([z])`` commit per zoom), then the fused PIP join of
the points with star polygons, aggregated per polygon.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
from pyspark.sql import functions as F

from common import du, expect, write_parquet
from tilematrix_spark.io import PyramidJob
from tilematrix_spark.operators import assign, pip

N_POINTS = 200_000
N_POLYS = 50
N_VERTS = 200
MAX_ZOOM = 1  # histogram zooms 0..MAX_ZOOM
PIP_ZOOM = 4  # index zoom: a polygon covers ~4-30 tiles
SAMPLE_MOD = 997  # points with point_id % SAMPLE_MOD == 0 are checked pair by pair
PHI1, PHI2 = 0.7548776662466927, 0.5698402909980532  # R2 low-discrepancy steps


def _star_polygon(rng, cx, cy, radius):
    ang = 2.0 * np.pi * np.arange(N_VERTS) / N_VERTS
    r = radius * rng.uniform(0.6, 1.0, N_VERTS)
    ring = np.column_stack([cx + r * np.cos(ang), cy + r * np.sin(ang)])
    return np.vstack([ring, ring[:1]])


def _even_odd(ring: np.ndarray, xs: np.ndarray, ys: np.ndarray) -> np.ndarray:
    """Reference even-odd ray cast: one +x ray per point, every edge."""
    inside = np.zeros(len(xs), dtype=bool)
    for (x0, y0), (x1, y1) in zip(ring[:-1], ring[1:]):
        cond = (y0 > ys) != (y1 > ys)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = x0 + (ys - y0) * (x1 - x0) / (y1 - y0)
        inside ^= cond & (xs < xint)
    return inside


class PipFlagship:
    def __init__(self, spark, tp, seed: int, n_files: int):
        self.spark, self.tp, self.n_files = spark, tp, n_files
        rng = np.random.default_rng(seed)
        u0, v0 = rng.random(2)
        self.ids = i = np.arange(N_POINTS, dtype=np.int64)
        self.lon = -180.0 + ((u0 + i * PHI1) % 1.0) * 360.0
        self.lat = -90.0 + ((v0 + i * PHI2) % 1.0) * 180.0
        # centres keep every polygon clear of the antimeridian and the poles;
        # the radii do not depend on the seed, so every seed probes about
        # the same number of pairs
        self.rings = [
            _star_polygon(rng, rng.uniform(-155.0, 155.0), rng.uniform(-65.0, 65.0), radius)
            for radius in np.linspace(6.0, 18.0, N_POLYS)
        ]
        self.zooms = list(range(MAX_ZOOM + 1))
        self.expected_hist = {z: self._histogram(z) for z in self.zooms}
        self.expected_sample = self._sample_pairs()

    def _histogram(self, z: int) -> dict:
        """Rows-per-tile with the engine's truncating tile arithmetic."""
        tp = self.tp
        rows = np.trunc((tp.top - self.lat) / tp.tile_y_size(z)).astype(np.int64)
        cols = np.trunc((self.lon - tp.left) / tp.tile_x_size(z)).astype(np.int64)
        mw = tp.matrix_width(z)
        keys, counts = np.unique(rows * mw + cols, return_counts=True)
        return {(int(k // mw), int(k % mw)): int(n) for k, n in zip(keys, counts)}

    def _sample_pairs(self) -> set:
        sel = self.ids % SAMPLE_MOD == 0
        ids, xs, ys = self.ids[sel], self.lon[sel], self.lat[sel]
        pairs = set()
        for pid, ring in enumerate(self.rings):
            for point_id in ids[_even_odd(ring, xs, ys)]:
                pairs.add((int(point_id), pid))
        return pairs

    def stage(self, path: str) -> int:
        points = pa.table({"point_id": self.ids, "lon": self.lon, "lat": self.lat})
        write_parquet(points, os.path.join(path, "points"), self.n_files)
        geoms = [
            json.dumps({"type": "Polygon", "coordinates": [ring.tolist()]}) for ring in self.rings
        ]
        polys = pa.table({"poly_id": np.arange(N_POLYS, dtype=np.int64), "geometry": geoms})
        write_parquet(polys, os.path.join(path, "polygons"), 1)
        self.points = self.spark.read.schema("point_id long, lon double, lat double").parquet(
            os.path.join(path, "points")
        )
        self.polygons = self.spark.read.schema("poly_id long, geometry string").parquet(
            os.path.join(path, "polygons")
        )
        self.staged_bytes = du(path)
        return self.staged_bytes

    def _job(self, out: str) -> PyramidJob:
        return PyramidJob(
            self.spark, self.tp, out,
            lambda s, z: assign.tile_histogram(self.points, self.tp, z),
        )

    def run(self, out_dir: str, tracer) -> dict:
        hist_out = os.path.join(out_dir, "histogram")
        job = self._job(hist_out)
        with tracer.span("assign.histogram"):
            for z in self.zooms:
                with tracer.span("io.unit", zoom=z):
                    job.run([z])
        with tracer.span("pip.index_build"):
            pairs = pip.pip_join(self.points, self.polygons, self.tp, PIP_ZOOM, fused=True)
        with tracer.span("pip.refine"):
            per_poly = pairs.groupBy("poly_id").agg(
                F.count(F.lit(1)).alias("n"),
                F.collect_list(
                    F.when(F.col("point_id") % SAMPLE_MOD == 0, F.col("point_id"))
                ).alias("sample"),
            ).collect()
        written = du(out_dir)
        return {
            "hist_out": hist_out,
            "per_poly": per_poly,
            "counts": {
                "pip.pairs_per_point": sum(r["n"] for r in per_poly) / N_POINTS,
                "io.bytes_written": written,
                "io.write_amp": written / self.staged_bytes,
            },
        }

    def check(self, out: dict) -> dict:
        got = {z: {} for z in self.zooms}
        for r in self.spark.read.parquet(out["hist_out"]).collect():
            got[r["zoom"]][(r["row"], r["col"])] = r["n"]
        for z in self.zooms:
            expect(got[z] == self.expected_hist[z], f"zoom {z} histogram differs from numpy")
        pairs = {(int(p), int(r["poly_id"])) for r in out["per_poly"] for p in r["sample"]}
        expect(pairs == self.expected_sample, "sampled PIP pairs differ from even-odd oracle")
        return {"assign.rows_assigned": sum(sum(h.values()) for h in got.values())}
