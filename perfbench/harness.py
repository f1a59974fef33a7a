"""Shared pieces of a benchmark run: directories and host settings, the
Spark session, workload construction, and one checked operation."""

from __future__ import annotations

import os
import shutil
import sys
import time

import procs

WORKLOADS = ("batch_bulk", "stream_compact")
PACKAGE = "racing_telemetry_pipeline_spark"

# (transcript scale, batch rows/file, stream rows/file)
SIZES = {
    "bench": ("bench-batch", 6_000, 2_350),
    "smoke": ("sf-unit", 1_500, 400),
}


class Env:
    """Directories and host settings of one run.

    Everything a run writes (lakes, Spark's local dirs, temp files) is under
    ``.bench_work/`` in the checkout, because the benchmark may write
    nowhere else. So shuffle, spill and lake writes go to the checkout's
    file system, not to the tmpfs (/dev/shm) that ``get_spark`` picks for
    ``spark.local.dir`` by default."""

    def __init__(self, root: str, smoke: bool):
        self.root = root
        self.size = "smoke" if smoke else "bench"
        base = os.path.join(root, ".bench_work")
        self.cache = os.path.join(base, "cache")
        self.work = os.path.join(base, f"run-{os.getpid()}")
        self.cores = len(os.sched_getaffinity(0))
        with open("/proc/meminfo") as fh:
            mem_mb = int(fh.readline().split()[1]) // 1024
        self.driver_memory = f"{max(1024, mem_mb // 4)}m"
        self._n = 0
        for d in (self.cache, self.tmp, self.local):
            os.makedirs(d, exist_ok=True)
        os.environ.update({
            "SPARK_DRIVER_MEMORY": self.driver_memory,
            "SPARK_GRAFT_LOCAL_DIR": self.local,
            "SPARK_LOCAL_DIRS": self.local,
            "TMPDIR": self.tmp,
            # the launcher JVM spark-submit starts first: no hsperfdata in /tmp
            "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
            "PYSPARK_PYTHON": sys.executable,
            "PYTHONPATH": os.pathsep.join(
                [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
            ),
        })

    @property
    def tmp(self) -> str:
        return os.path.join(self.work, "tmp")

    @property
    def local(self) -> str:
        return os.path.join(self.work, "spark-local")

    @property
    def eventlog(self) -> str:
        return os.path.join(self.work, "eventlog")

    def fresh_lake(self) -> str:
        self._n += 1
        return os.path.join(self.work, f"lake{self._n}")

    def config(self) -> dict:
        return {
            "master": f"local[{self.cores}]",
            "driver_memory": self.driver_memory,
            "parse_engine": "pandas_udf",
            "approx_percentiles": False,
            "size": self.size,
            "spark.local.dir": self.local,
        }


def start_session(env: Env):
    from racing_telemetry_pipeline_spark.session import get_spark

    return get_spark("perfbench", cores=env.cores, extra_conf={
        # keep every file the session writes inside the run directory
        "spark.sql.warehouse.dir": os.path.join(env.work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={env.tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    })


def make_workload(name: str, env: Env, seed: int):
    """Returns (workload, input rows, generation seconds)."""
    # imported here: they import the package, which run.py puts on the
    # path only after checking that it exists
    import inputs
    import workloads

    scale, batch_rpf, stream_rpf = SIZES[env.size]
    rpf = batch_rpf if name == "batch_bulk" else stream_rpf
    raw, gen_s = inputs.transcripts(env.cache, scale, seed, rpf)
    cls = workloads.Batch if name == "batch_bulk" else workloads.Stream
    return cls(raw), inputs.n_rows(raw), gen_s


class Counts:
    def __init__(self):
        self.attempted = self.failed = 0


def run_op(spark, wl, env: Env, counts: Counts):
    """One operation on a fresh lake: time it, check it outside the
    timing, delete the lake, collect garbage. Returns (wall seconds, CPU
    seconds of this Python driver, the driver JVM and its Python workers,
    result)."""
    lake = env.fresh_lake()
    counts.attempted += 1
    result, ok = None, True
    cpu0, t0 = procs.driver_cpu_s(), time.perf_counter()
    try:
        result = wl.op(spark, lake)
    except Exception as e:  # an operation that raises is a failed one
        print(f"[perfbench] {wl.name} raised {type(e).__name__}: {e}", flush=True)
        ok = False
    wall = time.perf_counter() - t0
    cpu = procs.driver_cpu_s() - cpu0
    if ok:
        ok = wl.check(spark, lake, result) == 0
    counts.failed += not ok
    shutil.rmtree(lake, ignore_errors=True)
    procs.jvm_gc(spark)
    return wall, cpu, result
