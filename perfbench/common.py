"""Helpers shared by the benchmark workloads."""

from __future__ import annotations

import os
import shutil
from typing import List

import pyarrow as pa
import pyarrow.parquet as pq


class CheckFailed(Exception):
    """A run's output disagrees with the driver-side oracle."""


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def write_parquet(table: pa.Table, path: str, n_files: int) -> None:
    """Stage ``table`` as ``n_files`` Parquet files, so Spark reads it with
    at least that many partitions."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:03d}.parquet"))


def du(path: str) -> int:
    """Bytes of the regular files under ``path``."""
    total = 0
    for root, _, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(root, name))
    return total


def drop_units(out_path: str, units: List[str]) -> None:
    """Simulate a crash after the given ``PyramidJob`` units committed:
    remove their output directories and lineage markers."""
    for unit in units:
        shutil.rmtree(os.path.join(out_path, unit))
        os.remove(os.path.join(out_path, "_lineage", unit.replace(os.sep, "__") + ".json"))
