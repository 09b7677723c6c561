"""The engine's benchmark: one workload per invocation on local[nproc/2].

    python3 perfbench/run.py --workload vector --seed 1 --seconds 15 --trace 0

Set-up starts one Spark session, stages the seeded inputs to Parquet
(STAGE_REPS times; the median counts) and warms the JIT and Arrow paths
with WARMUP_RUNS untimed runs.  Then a closed loop with one client runs
the workload back to back for ``--seconds`` and at least as many times as
MIN_RUNS names (the next run starts when the previous one and its output
check are done).  Every run's output is checked against a driver-side
numpy oracle; a run that raises or fails its check counts as failed.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` alternates
untraced and traced runs in blocks of four, prints the per-layer metrics
measured from the spans of the traced runs (see spans.py) and writes the
spans to ``.perfbench_trace/``.  The last line of standard output is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
TRACE_DIR = os.path.join(ROOT, ".perfbench_trace")
STAGE_REPS = 3
HEAP = "4g"  # driver JVM heap
# The first run pays for Python worker start-up and code generation; the
# least timed runs per workload fill the time an invocation has left after
# the session start and that cold run (README, Sizing)
WARMUP_RUNS = 1
MIN_RUNS = {"vector": 2, "raster_pyramid": 3}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def slots() -> int:
    """Spark task slots: half the cores.  A task that runs an Arrow UDF
    keeps two threads busy, the JVM thread that feeds and reads the batches
    and the Python worker, so nproc/2 slots keep about one busy thread per
    core and a run does not wait on the scheduler for its own threads."""
    return max(1, nproc() // 2)


def session_conf(workload: str) -> dict:
    """Every Spark setting the benchmark pins, in one place."""
    n = slots()
    conf = {
        "spark.master": f"local[{n}]",
        "spark.app.name": f"perfbench-{workload}",
        "spark.sql.shuffle.partitions": str(n),
        "spark.default.parallelism": str(n),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # 4 GB of heap leaves the 15 GB machine room for the Python workers
        "spark.driver.memory": HEAP,
        # ParallelGC: less run-to-run variance than G1 on shuffle-heavy
        # runs; the whole heap from the start (-Xms), so no run pays for
        # growing it; no hsperfdata file, which the JVM writes outside the
        # checkout
        "spark.driver.extraJavaOptions": f"-XX:+UseParallelGC -XX:-UsePerfData -Xms{HEAP} "
        f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }
    if workload == "raster_pyramid":
        # canvas rows are ~tile_size^2 bytes: cap Arrow batches by records,
        # the same rule jobs/focal_job.py applies
        conf["spark.sql.execution.arrow.maxRecordsPerBatch"] = "128"
    return conf


def start_session(workload: str):
    from pyspark.sql import SparkSession

    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    builder = SparkSession.builder
    for k, v in session_conf(workload).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _descendants(pid: int) -> list:
    children: dict = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident memory (VmHWM) of the JVM plus the Python workers it
    forked, summed over the processes alive at the end of the run."""
    total_kb = 0
    for pid in _descendants(jvm_pid):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def tail_percentile(values: list):
    """(p, value): the highest percentile with at least ten samples beyond
    it, or None when there are too few samples."""
    n = len(values)
    if n < 11:
        return None
    p = (n - 10) / n
    return p, sorted(values)[int(p * n) - 1]


def layer_metrics(tracer, run_ids: list, counts: list) -> dict:
    """Per-layer metrics: the median over traced runs of each run's value;
    io.unit_s and io.unit_tail_s pool the committed units of all of them.
    A layer the workload does not call reads 0."""
    per_run, units = [], []
    for run_id, cnt in zip(run_ids, counts):
        spans = tracer.run_spans(run_id)

        def secs(name, **attrs):
            return sum(
                s.seconds for s in spans
                if s.name == name and all(s.attrs.get(k) == v for k, v in attrs.items())
            )

        def total(field, name=None):
            tops = [s for s in spans if (s.name == name if name else s.parent is None)]
            return sum(getattr(x, field) for s in tops for x in tracer.subtree(s))

        units += [s.seconds for s in spans if s.name == "io.unit"]
        per_run.append({
            "assign.histogram_s": secs("assign.histogram"),
            "assign.spark_jobs": total("jobs", "assign.histogram"),
            "assign.rows_assigned": cnt.get("assign.rows_assigned", 0),
            "pip.index_build_s": secs("pip.index_build"),
            "pip.refine_s": secs("pip.refine"),
            "pip.pairs_per_point": cnt.get("pip.pairs_per_point", 0.0),
            "knn.join_s": secs("knn.join"),
            "knn.spark_jobs": total("jobs", "knn.join"),
            "knn.collect_s": secs("knn.collect"),
            "raster.focal_s": secs("raster.focal"),
            "raster.overview_s": secs("raster.overview"),
            "raster.overview_first_level_s": secs("io.unit", level=1),
            "io.resume_s": secs("io.resume"),
            "io.resume_units_rerun": cnt.get("io.resume_units_rerun", 0.0),
            "io.bytes_written": cnt.get("io.bytes_written", 0),
            "io.write_amp": cnt.get("io.write_amp", 0.0),
            "spark.jobs": total("jobs"),
            "spark.tasks": total("tasks"),
            "spark.tasks_failed": total("tasks_failed"),
        })
    out = {k: statistics.median(r[k] for r in per_run) for k in per_run[0]}
    out["io.unit_s"] = statistics.median(units) if units else 0.0
    tail = tail_percentile(units)
    out["io.unit_tail_s"] = tail[1] if tail else max(units, default=0.0)
    return out


WORKLOADS = {
    "vector": ("vector", "Vector"),
    "raster_pyramid": ("raster_pyramid", "RasterPyramid"),
}

# every per-layer metric with its unit, in the order they are printed
LAYER_UNITS = {
    "assign.histogram_s": "s", "assign.spark_jobs": "count", "assign.rows_assigned": "count",
    "pip.index_build_s": "s", "pip.refine_s": "s", "pip.pairs_per_point": "ratio",
    "knn.join_s": "s", "knn.spark_jobs": "count", "knn.collect_s": "s",
    "raster.focal_s": "s", "raster.overview_s": "s", "raster.overview_first_level_s": "s",
    "io.unit_s": "s", "io.unit_tail_s": "s", "io.bytes_written": "bytes", "io.write_amp": "ratio",
    "io.resume_s": "s", "io.resume_units_rerun": "ratio",
    "spark.jobs": "count", "spark.tasks": "count", "spark.tasks_failed": "count",
    "spark.peak_rss_mb": "MB",
    "setup.session_s": "s", "setup.stage_s": "s", "setup.warmup_s": "s",
    "trace.overhead_s": "s",
}


class Runner:
    """Runs one workload's closed loop and keeps every run's outcome."""

    def __init__(self, spark, wl):
        self.spark, self.wl = spark, wl
        self.attempted = self.failed = 0

    def one(self, tracer) -> tuple:
        """One run plus its output check: (wall seconds, counts, ok).
        Both heaps are collected before the clock starts, so no run pays
        for the garbage of the one before."""
        tracer.run_id = self.attempted
        out_dir = os.path.join(WORK, "out", f"run{self.attempted}")
        self.attempted += 1
        gc.collect()
        self.spark._jvm.System.gc()
        t0 = time.perf_counter()
        try:
            out = self.wl.run(out_dir, tracer)
            wall = time.perf_counter() - t0
            counts = {**out["counts"], **self.wl.check(out)}
        except Exception:  # a failed run is counted, and the loop goes on
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            return time.perf_counter() - t0, {}, False
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)
        return wall, counts, True


def bench(spark, workload: str, seed: int, seconds: float, trace: bool, session_s: float) -> dict:
    import importlib

    from spans import Tracer
    from tilematrix_spark.grid import PyramidConfig

    module, cls = WORKLOADS[workload]
    wl = getattr(importlib.import_module(module), cls)(
        spark, PyramidConfig.create("geodetic"), seed, n_files=2 * nproc()
    )
    stage_s = []
    for _ in range(STAGE_REPS):
        path = os.path.join(WORK, "stage")
        shutil.rmtree(path, ignore_errors=True)
        t0 = time.perf_counter()
        wl.stage(path)
        stage_s.append(time.perf_counter() - t0)

    off = Tracer(spark, enabled=False)
    runner = Runner(spark, wl)
    warmups = [runner.one(off)[0] for _ in range(WARMUP_RUNS)]
    warmup_s = sum(warmups)
    setup = {"setup.session_s": session_s, "setup.stage_s": statistics.median(stage_s),
             "setup.warmup_s": warmup_s}

    on = Tracer(spark, enabled=True)
    untraced, failed_walls, traced, traced_ids, traced_counts = [], [], [], [], []
    deadline = time.perf_counter() + seconds
    i = 0
    while True:
        # tracing alternates untraced, traced, traced, untraced, so a drift
        # in run time over the session cancels out of the overhead estimate
        if trace and i % 4 in (1, 2):
            wall, counts, ok = runner.one(on)
            on.collect_counts(on.run_id)
            if ok:
                traced.append(wall)
                traced_ids.append(on.run_id)
                traced_counts.append(counts)
        else:
            wall, counts, ok = runner.one(off)
            (untraced if ok else failed_walls).append(wall)
        i += 1
        if time.perf_counter() >= deadline and i >= MIN_RUNS[workload] and not (trace and i % 4):
            break
        if runner.failed > runner.attempted // 2 and runner.attempted >= 3:
            break

    run_s = statistics.median(untraced or failed_walls or [float(seconds)])
    result = {"attempted": runner.attempted, "failed": runner.failed, "runs": len(untraced),
              "traced_runs": len(traced)}
    if trace:
        os.makedirs(TRACE_DIR, exist_ok=True)
        on.dump(os.path.join(TRACE_DIR, f"{workload}-seed{seed}.json"))
        layers = layer_metrics(on, traced_ids, traced_counts) if traced_ids else dict.fromkeys(LAYER_UNITS, 0.0)
        layers.update(setup)
        layers["trace.overhead_s"] = (statistics.median(traced) - run_s) if traced else 0.0
        layers["spark.peak_rss_mb"] = peak_rss_mb(spark.sparkContext._gateway.proc.pid)
        result["metrics"] = {k: (layers[k], unit) for k, unit in LAYER_UNITS.items()}
    else:
        result["metrics"] = {
            "setup_s": (session_s + setup["setup.stage_s"] + warmup_s, "s"),
            "run_s": (run_s, "s"),
        }
    result["walls"] = untraced
    result["warmups"] = warmups
    result["stage_s"] = stage_s
    return result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import tilematrix_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    # one Python worker per core: BLAS thread pools inside them would oversubscribe
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")

    shutil.rmtree(WORK, ignore_errors=True)
    t0 = time.perf_counter()
    spark = start_session(args.workload)
    session_s = time.perf_counter() - t0
    try:
        res = bench(spark, args.workload, args.seed, args.seconds, bool(args.trace), session_s)
    finally:
        stop_session(spark)
        shutil.rmtree(WORK, ignore_errors=True)

    walls = res["walls"]
    print(f"{args.workload}: seed {args.seed}, local[{slots()}] on {nproc()} cores, {res['runs']} untraced and "
          f"{res['traced_runs']} traced timed runs")
    print("stage reps " + " ".join(f"{x:.3f}" for x in res["stage_s"]) + " s; warm-up runs "
          + " ".join(f"{x:.3f}" for x in res["warmups"]) + " s; timed runs "
          + " ".join(f"{x:.3f}" for x in walls) + " s")
    tail = tail_percentile(walls)
    print("run_s is the median run; " + (
        f"p{100 * tail[0]:.0f} = {tail[1]:.4f} s" if tail
        else f"no percentile has ten samples beyond it (n={len(walls)}, max {max(walls, default=0):.4f} s)"))
    for name, (value, unit) in res["metrics"].items():
        print(f"{name} {value:.6g} {unit}")
    line = {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in res["metrics"].items()},
    }
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
