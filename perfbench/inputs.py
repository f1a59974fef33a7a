"""Seeded benchmark inputs, cached on disk by (scale, seed, rows_per_file).

Transcripts from ``datagen.write_transcripts``, with ~16% injected
duplicates and hot conversations of ~5% of the turns each. The measured
scale is registered in ``config.SCALES`` at run time (config.py stays as
it is); smoke runs use config's own ``sf-unit``.
"""

from __future__ import annotations

import glob
import os
import shutil
import time

import pyarrow.parquet as pq

from racing_telemetry_pipeline_spark.config import SCALES, Scale
from racing_telemetry_pipeline_spark.datagen import write_transcripts

# the measured scale: 1,000 convs, mean 40 turns, 3 hot convs; many short
# conversations keep the row count steady across seeds (IQR ~4% against
# ~6% for 500 convs of mean 80), since turns_per_s moves with it
SCALES.setdefault("bench-batch", Scale("bench-batch", n_convs=1000, mean_turns=40, n_hot=3))


def transcripts(cache: str, scale: str, seed: int, rows_per_file: int) -> tuple[str, float]:
    """Raw transcript parquet dir for (scale, seed, rows_per_file), built
    once (atomically via a temp dir); returns (path, generation seconds)."""
    sc = SCALES[scale]
    path = os.path.join(cache, f"transcripts-{sc.n_convs}x{sc.mean_turns}h{sc.n_hot}-s{seed}-r{rows_per_file}")
    if os.path.isdir(path):
        return path, 0.0
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    t0 = time.perf_counter()
    write_transcripts(tmp, scale, seed=seed, rows_per_file=rows_per_file)
    os.replace(tmp, path)
    return path, time.perf_counter() - t0


def n_rows(raw_dir: str) -> int:
    return sum(pq.ParquetFile(f).metadata.num_rows for f in glob.glob(f"{raw_dir}/*.parquet"))
