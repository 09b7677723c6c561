"""raster_pyramid: halo-exchange focal stats and a committed overview chain.

One run: ``focal_stats(emit="canvas")`` over a block of 256 px RGB base
tiles, written with ``TableIO.write_counted``; then the overview chain
from the base zoom down LEVELS levels through ``PyramidJob`` (the base is
committed first and every level reads the committed level above it); then
a crash-resume that drops the last two committed levels and reruns.
"""

from __future__ import annotations

import os
from functools import reduce
from operator import or_

import numpy as np
import pyarrow as pa
from pyspark.sql import functions as F

from common import drop_units, du, expect, write_parquet
from tilematrix_spark import raster
from tilematrix_spark.io import PyramidJob, TableIO

BASE_ZOOM = 7
ROWS, COLS = 8, 16  # base block of tiles; both multiples of 2**LEVELS
LEVELS = 3  # overview levels below the base
TILE = 256
RADIUS = 2
CHECK_TILES = 3  # recomputed tiles per level


def _downsample(mosaic: np.ndarray) -> np.ndarray:
    """2x2 integer box-filter mean of an (H, W, 3) mosaic."""
    h, w, _ = mosaic.shape
    return (mosaic.reshape(h // 2, 2, w // 2, 2, 3).astype(np.uint16).sum(axis=(1, 3)) // 4).astype(
        np.uint8
    )


def _focal_mean(band: np.ndarray, r0: int, c0: int) -> bytes:
    """Truncated focal mean of the tile at mosaic offset (r0, c0) over the
    pixels present within RADIUS (outside the block counts as absent)."""
    win = 2 * RADIUS + 1
    y0, y1 = r0 - RADIUS, r0 + TILE + RADIUS
    x0, x1 = c0 - RADIUS, c0 + TILE + RADIUS
    vals = np.zeros((y1 - y0, x1 - x0), dtype=np.int64)
    mask = np.zeros_like(vals)
    sy0, sx0 = max(y0, 0), max(x0, 0)
    sy1, sx1 = min(y1, band.shape[0]), min(x1, band.shape[1])
    vals[sy0 - y0:sy1 - y0, sx0 - x0:sx1 - x0] = band[sy0:sy1, sx0:sx1]
    mask[sy0 - y0:sy1 - y0, sx0 - x0:sx1 - x0] = 1
    sums = np.lib.stride_tricks.sliding_window_view(vals, (win, win)).sum(axis=(2, 3))
    cnts = np.lib.stride_tricks.sliding_window_view(mask, (win, win)).sum(axis=(2, 3))
    return (sums // cnts).astype(np.uint8).tobytes()


class RasterPyramid:
    def __init__(self, spark, tp, seed: int, n_files: int):
        self.spark, self.tp, self.n_files = spark, tp, n_files
        rng = np.random.default_rng(seed)
        self.row0 = int(rng.integers(0, tp.matrix_height(BASE_ZOOM) // ROWS)) * ROWS
        self.col0 = int(rng.integers(0, tp.matrix_width(BASE_ZOOM) // COLS)) * COLS
        self.mosaic = rng.integers(0, 256, (ROWS * TILE, COLS * TILE, 3), dtype=np.uint8)
        self.zooms = list(range(BASE_ZOOM, BASE_ZOOM - LEVELS - 1, -1))
        # a seeded sample of expected tiles, {(zoom, row, col): bytes}
        self.expected = {}
        level = self.mosaic
        for z in self.zooms:
            shift = BASE_ZOOM - z
            n_rows, n_cols = ROWS >> shift, COLS >> shift
            for i in rng.choice(n_rows * n_cols, size=min(CHECK_TILES, n_rows * n_cols), replace=False):
                r, c = divmod(int(i), n_cols)
                key = (z, (self.row0 >> shift) + r, (self.col0 >> shift) + c)
                self.expected[key] = self._tile(level, r, c).tobytes()
            level = _downsample(level)
        band0 = np.ascontiguousarray(self.mosaic[:, :, 0])
        self.expected_focal = {}
        for i in rng.choice(ROWS * COLS, size=CHECK_TILES, replace=False):
            r, c = divmod(int(i), COLS)
            key = (BASE_ZOOM, self.row0 + r, self.col0 + c)
            self.expected_focal[key] = _focal_mean(band0, r * TILE, c * TILE)

    @staticmethod
    def _tile(mosaic: np.ndarray, r: int, c: int) -> np.ndarray:
        return mosaic[r * TILE:(r + 1) * TILE, c * TILE:(c + 1) * TILE]

    def stage(self, path: str) -> int:
        r, c = np.divmod(np.arange(ROWS * COLS, dtype=np.int64), COLS)
        tiles = pa.table(
            {
                "row": self.row0 + r,
                "col": self.col0 + c,
                "tile_w": np.full(len(r), TILE, dtype=np.int32),
                "tile_h": np.full(len(r), TILE, dtype=np.int32),
                "bytes": pa.array(
                    [self._tile(self.mosaic, int(a), int(b)).tobytes() for a, b in zip(r, c)],
                    type=pa.binary(),
                ),
            }
        )
        write_parquet(tiles, os.path.join(path, "tiles"), self.n_files)
        self.tiles = self.spark.read.schema(
            "row long, col long, tile_w int, tile_h int, bytes binary"
        ).parquet(os.path.join(path, "tiles"))
        self.staged_bytes = du(path)
        return self.staged_bytes

    def _job(self, out: str) -> PyramidJob:
        def build(spark, z):
            if z == BASE_ZOOM:
                return self.tiles
            return raster.overview_level(job.read_zoom(z + 1))

        job = PyramidJob(self.spark, self.tp, out, build)
        return job

    def run(self, out_dir: str, tracer) -> dict:
        focal_out = os.path.join(out_dir, "focal")
        chain_out = os.path.join(out_dir, "overview")
        with tracer.span("raster.focal"):
            focal_rows = TableIO(self.spark).write_counted(
                raster.focal_stats(self.tiles, self.tp, BASE_ZOOM, radius=RADIUS, emit="canvas"),
                focal_out,
            )
        job = self._job(chain_out)
        with tracer.span("raster.overview"):
            for z in self.zooms:
                with tracer.span("io.unit", zoom=z, level=BASE_ZOOM - z):
                    job.run([z])
        dropped = [f"zoom={z}" for z in self.zooms[-2:]]
        drop_units(chain_out, dropped)
        with tracer.span("io.resume"):
            rerun = self._job(chain_out).run(self.zooms)
        written = du(out_dir)
        return {
            "resumed": ([f"zoom={z}" for z in rerun], dropped),
            "focal_out": focal_out,
            "focal_rows": focal_rows,
            "chain_out": chain_out,
            "counts": {
                "io.resume_units_rerun": len(rerun) / len(dropped),
                "io.bytes_written": written,
                "io.write_amp": written / self.staged_bytes,
            },
        }

    @staticmethod
    def _sample(df, keys) -> dict:
        """{key: tile bytes} of the rows whose (zoom, row, col) is in ``keys``."""
        wanted = reduce(
            or_, [(F.col("zoom") == z) & (F.col("row") == r) & (F.col("col") == c) for z, r, c in keys]
        )
        return {
            (t["zoom"], t["row"], t["col"]): bytes(t["bytes"])
            for t in df.filter(wanted).select("zoom", "row", "col", "bytes").collect()
        }

    def check(self, out: dict) -> dict:
        expect(out["resumed"][0] == out["resumed"][1], "the resume did not rerun exactly the dropped units")
        expect(out["focal_rows"] == ROWS * COLS, f"focal wrote {out['focal_rows']} rows")
        rows = {int(u.split("=")[1]): rec["rows"] for u, rec in self._job(out["chain_out"]).metrics().items()}
        expected = {z: (ROWS >> (BASE_ZOOM - z)) * (COLS >> (BASE_ZOOM - z)) for z in self.zooms}
        expect(rows == expected, f"level tile counts {rows}")
        focal = self.spark.read.parquet(out["focal_out"]).withColumn("zoom", F.lit(BASE_ZOOM))
        expect(self._sample(focal, self.expected_focal) == self.expected_focal, "recomputed focal tiles differ")
        chain = self.spark.read.parquet(out["chain_out"])
        expect(self._sample(chain, self.expected) == self.expected, "recomputed overview tiles differ")
        return {}
