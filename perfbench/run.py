"""Benchmark of the transcript pipeline at local[nproc].

Run from the repository root:

    python3 perfbench/run.py --workload batch_bulk --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --smoke     # every workload + a traced run, tiny inputs

Workloads (BENCHMARK.json records why each was chosen):

- ``batch_bulk``: ``plans.pipeline.run_pipeline(resume=False)`` on seeded
  transcripts written as ~9 files;
- ``stream_compact``: ``streaming_raw_to_lake`` (availableNow, ~6
  micro-batches) then ``compact_stream_to_routed``, on the same rows
  written as ~23 files.

Method. One process, one Spark session at ``local[nproc]`` from the
package's ``get_spark``, with ``spark.local.dir`` moved from its tmpfs
default into the checkout (harness.Env), and the pipeline's defaults
(``pandas_udf`` grok, exact percentiles); the driver heap is a quarter of
host memory. ``setup_s`` is the session start plus the first (cold)
operation. Then warm operations run back to back until ``--seconds``
have passed, and at least ``MIN_WARM`` of them. Each operation runs on a
fresh lake that is deleted afterwards, with a JVM GC in between;
``wall_s`` is the median wall time of the warm operations; their CPU
times (the Python driver, the driver JVM and its Python workers) go to
the details line. Every
operation's output is checked outside its timing; a wrong output or an
exception counts as failed.

``--trace 1`` is a separate run that reports per-layer metrics instead
(layers.py): after the cold operation it turns Spark's event log on and
times, under named spans, the routed-stage ladder and each post-routed
job of ``batch_bulk`` and both halves of ``stream_compact``; one more
untraced operation is the baseline of ``trace.overhead_s``.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``;
the line before it carries run details (input generation time, walls of
every operation, fail ratio, run-directory residency, configuration). Inputs and
their oracle tables are cached under ``.bench_work/cache``; everything
else a run writes is under ``.bench_work/run-<pid>`` and removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import procs
from harness import PACKAGE, WORKLOADS, Counts, Env, make_workload, run_op, start_session


# Warm operations still JIT-compile the code Spark generates for them
# (10-20 CPU seconds of an operation's 15-30), so an operation's time
# wanders by 10-30% from one to the next and keeps falling slowly over the
# first few; the median of at least three keeps one slow or fast
# operation from setting wall_s.
MIN_WARM = 3


def measure(args, env: Env, wl, n_rows: int, counts: Counts, info: dict) -> dict:
    """Untraced run: set-up, then warm operations for --seconds."""
    steal = procs.Steal()
    t0 = time.perf_counter()
    spark = start_session(env)
    session_s = time.perf_counter() - t0
    try:
        cold = run_op(spark, wl, env, counts)[0]
        walls, cpus = [], []
        loop_t0 = time.perf_counter()
        while len(walls) < MIN_WARM or time.perf_counter() - loop_t0 < args.seconds:
            wall, cpu, _ = run_op(spark, wl, env, counts)
            walls.append(wall)
            cpus.append(cpu)
        info.update(peak_rss_mb=procs.peak_rss_mb(), residency_mb=procs.residency_mb(env.work))
    finally:
        procs.shutdown(spark)
    wall = statistics.median(walls)
    info.update(session_s=session_s, cold_s=cold, walls_s=walls, cpus_s=cpus,
                cpu_steal=steal.share())
    return {
        "setup_s": (session_s + cold, "s"),
        "wall_s": (wall, "s"),
        "turns_per_s": (n_rows / wall, "1/s"),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs; without --workload, run every workload and a traced run")
    args = ap.parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PACKAGE)):
        print(f"perfbench: run from the repository root ({PACKAGE}/ not found in {root})",
              file=sys.stderr)
        return 2
    if args.workload is None:
        if not args.smoke:
            ap.error("--workload is required")
        return smoke_all(args)
    sys.path.insert(0, root)

    env = Env(root, args.smoke)
    counts, info = Counts(), {"workload": args.workload, "seed": args.seed,
                              "trace": args.trace, "config": env.config()}
    try:
        wl, n_rows, gen_s = make_workload(args.workload, env, args.seed)
        info.update(gen_s=gen_s, input_rows=n_rows)
        if args.trace:
            import layers

            metrics = layers.traced(args, env, wl, counts, info)
        else:
            metrics = measure(args, env, wl, n_rows, counts, info)
    finally:
        shutil.rmtree(env.work, ignore_errors=True)
    info["fail_ratio"] = counts.failed / max(counts.attempted, 1)
    import workloads  # imported by make_workload already, once the package is on the path

    info["rounding_ties"] = workloads.Batch.ties
    print(json.dumps(info, default=str), flush=True)
    print(json.dumps({
        "correct": counts.failed == 0,
        "attempted": counts.attempted,
        "failed": counts.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


def smoke_all(args) -> int:
    """Every workload untraced, then one traced run, each in its own
    process (a process hosts one Spark driver JVM); fails unless each run
    is correct and prints exactly the metrics BENCHMARK.json names."""
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    want = {0: {m["name"] for m in bench["end_to_end"]}, 1: {m["name"] for m in bench["per_layer"]}}
    runs = [(w, 0) for w in WORKLOADS] + [(WORKLOADS[0], 1)]
    bad = 0
    for workload, trace in runs:
        cmd = [sys.executable, __file__, "--smoke", "--workload", workload,
               "--seed", str(args.seed), "--seconds", "1", "--trace", str(trace)]
        out = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
        lines = out.stdout.strip().splitlines()
        res = json.loads(lines[-1]) if out.returncode == 0 and lines else None
        ok = bool(res and res["correct"] and set(res["metrics"]) == want[trace])
        bad += not ok
        print(f"{workload} trace={trace}: {'ok' if ok else 'FAILED'}", flush=True)
        if not ok:
            print(out.stdout[-4000:], out.stderr[-4000:], sep="\n", file=sys.stderr)
            if res:
                print("metric names differ:", sorted(set(res["metrics"]) ^ want[trace]),
                      file=sys.stderr)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
