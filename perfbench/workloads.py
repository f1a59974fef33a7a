"""The two benchmark operations and the checks of their outputs.

Each workload has ``op(spark, lake_dir)``, the timed operation, and
``check(spark, lake_dir, result)``, run outside the timing, which returns the
number of wrong outputs (0 when everything matches its oracle).

- ``Batch``: ``plans.pipeline.run_pipeline(resume=False)``; the lake's
  aggregate tables must equal ``oracle.run_oracle``, except that a rounded
  float whose exact value is a rounding tie may come out either way
  (``settle_ties``).
- ``Stream``: ``streaming_raw_to_lake`` (availableNow) then
  ``compact_stream_to_routed``; per-route counts of ``routed_compacted``
  must equal the oracle's sink counts.
"""

from __future__ import annotations

import glob
import math
import os
from fractions import Fraction

import pandas as pd
import pyarrow.parquet as pq

from racing_telemetry_pipeline_spark.oracle import run_oracle

# lake table -> (oracle key, sort columns)
BATCH_CHECKS = {
    "agg_sink_counts": ("sink_counts", ["route"]),
    "agg_turns_per_conversation": ("turns_per_conversation", ["route", "conv_id"]),
    "agg_tool_frequency": ("tool_frequency", ["tool_name"]),
    "agg_role_latency": ("role_latency", ["role"]),
}


def frame_diff(got: pd.DataFrame, want: pd.DataFrame, sort_cols: list[str]) -> str | None:
    """Order-insensitive exact equality (the rule of tests/conftest.py's
    ``assert_pdf_equal`` with atol=0); returns a description of the first
    difference, or None."""
    got = got[sorted(got.columns)].sort_values(sort_cols, kind="stable").reset_index(drop=True)
    want = want[sorted(want.columns)].sort_values(sort_cols, kind="stable").reset_index(drop=True)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    for c in got.columns:
        g, w = got[c], want[c]
        if pd.api.types.is_float_dtype(g) or pd.api.types.is_float_dtype(w):
            g, w = g.astype(float), w.astype(float)
            bad = ~((g == w) | (g.isna() & w.isna()))
            if bad.any():
                i = bad.idxmax()
                return f"values differ in {c}: got {g[i]!r}, oracle {w[i]!r} (row {i})"
            continue
        if str(g.dtype).startswith("datetime") or str(w.dtype).startswith("datetime"):
            g = pd.to_datetime(g).astype("datetime64[us]")
            w = pd.to_datetime(w).astype("datetime64[us]")
        gi, wi = g.isna(), w.isna()
        if not gi.equals(wi):
            return f"null mask differs in {c}"
        if not (g[~gi].astype(str) == w[~wi].astype(str)).all():
            return f"values differ in {c}"
    return None


def exact_percentile(values, q: Fraction) -> Fraction:
    """Linear-interpolation percentile (numpy's default and Spark's
    ``percentile``) in exact arithmetic."""
    xs = sorted(values)
    pos = (len(xs) - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


# lake table -> (key column, {float column: decimals it is rounded to})
ROUNDED = {
    "agg_role_latency": ("role", {f"p{p}_latency_sec": 6 for p in (50, 95, 99)}),
    "agg_tool_frequency": ("tool_name", {"avg_latency_ms": 4, "p95_latency_ms": 4}),
}


def exact_values(routed: pd.DataFrame) -> pd.DataFrame:
    """The exact rational value of every rounded float cell in ROUNDED,
    computed from the oracle's routed rows in integer microseconds and
    milliseconds; one row per (table, key, column), as strings."""
    rows = []
    flow = routed[routed["route"] != "quarantine"].sort_values(["conv_id", "turn_idx"], kind="stable")
    us = flow["ts_sync"].astype("datetime64[us]").astype("int64")
    lat = us.groupby(flow["conv_id"], sort=False).diff()
    for role, v in lat[lat.notna()].astype("int64").groupby(flow["role"]):
        for p in (50, 95, 99):
            x = exact_percentile(v.tolist(), Fraction(p, 100)) / 1_000_000
            rows.append(("agg_role_latency", role, f"p{p}_latency_sec", x))
    te = routed[routed["route"] == "tool_events"]
    for tool, v in te["latency_ms"].dropna().astype("int64").groupby(te["tool_name"]):
        v = v.tolist()
        rows.append(("agg_tool_frequency", tool, "avg_latency_ms", Fraction(sum(v), len(v))))
        rows.append(("agg_tool_frequency", tool, "p95_latency_ms", exact_percentile(v, Fraction(95, 100))))
    return pd.DataFrame(
        [(t, str(k), c, str(x)) for t, k, c, x in rows], columns=["table", "key", "column", "exact"]
    )


def settle_ties(table: str, got: pd.DataFrame, want: pd.DataFrame, exact: pd.DataFrame) -> list[str]:
    """Where a rounded float's exact value lies exactly halfway between
    two roundings, the double it is computed in falls on either side of
    the half depending on the order of the floating-point operations, so
    Spark and the pandas oracle can each round it either way. There, and
    only there, the pipeline's value is accepted if it is one of the two
    roundings: ``want``'s cell is set to it. Returns a note per settled
    cell."""
    key, cols = ROUNDED[table]
    notes = []
    for r in exact[exact["table"] == table].itertuples():
        x = Fraction(r.exact) * 10 ** cols[r.column]
        if x.denominator != 2:
            continue
        g = got.loc[got[key].astype(str) == r.key, r.column]
        w = want.loc[want[key].astype(str) == r.key, r.column]
        if len(g) != 1 or len(w) != 1 or g.iloc[0] == w.iloc[0]:
            continue
        if round(float(g.iloc[0]) * 10 ** cols[r.column]) in (math.floor(x), math.ceil(x)):
            want.loc[w.index, r.column] = g.iloc[0]
            notes.append(f"{table}.{r.column}[{r.key}]: exact {float(x) / 10 ** cols[r.column]!r} "
                         f"is a tie; got {g.iloc[0]!r}, oracle {w.iloc[0]!r}")
    return notes


def route_counts(table_dir: str) -> dict[str, int]:
    """Rows per ``route=<r>`` partition, from the parquet footers."""
    out = {}
    for d in glob.glob(f"{table_dir}/route=*"):
        out[d.rsplit("=", 1)[1]] = sum(
            pq.ParquetFile(f).metadata.num_rows for f in glob.glob(f"{d}/*.parquet")
        )
    return out


def cached_oracle(raw: str) -> dict[str, pd.DataFrame]:
    """``oracle.run_oracle``'s tables the checks use and ``exact_values``,
    computed once per input and kept as parquet beside it."""
    keys = [key for key, _ in BATCH_CHECKS.values()] + ["exact"]
    cache = f"{raw}.oracle"
    if not os.path.isdir(cache):
        out = run_oracle(raw)
        out["exact"] = exact_values(out["routed"])
        tmp = f"{cache}.tmp{os.getpid()}"
        os.makedirs(tmp)
        for key in keys:
            out[key].to_parquet(os.path.join(tmp, f"{key}.parquet"), index=False)
        os.replace(tmp, cache)
    return {key: pd.read_parquet(os.path.join(cache, f"{key}.parquet")) for key in keys}


class Batch:
    name = "batch_bulk"
    ties = 0  # cells settle_ties accepted, over every Batch check in this process

    def __init__(self, raw: str):
        self.raw = raw
        self.oracle = cached_oracle(raw)

    def op(self, spark, lake_dir: str):
        from racing_telemetry_pipeline_spark.plans.pipeline import run_pipeline

        return run_pipeline(spark, self.raw, lake_dir, resume=False)

    def check(self, spark, lake_dir: str, result) -> int:
        bad = 0
        for table, (key, sort_cols) in BATCH_CHECKS.items():
            got = pq.read_table(os.path.join(lake_dir, table)).to_pandas()
            want = self.oracle[key].copy()
            if table in ROUNDED:
                for note in settle_ties(table, got, want, self.oracle["exact"]):
                    print(f"[perfbench] {note}", flush=True)
                    Batch.ties += 1
            diff = frame_diff(got, want, sort_cols)
            if diff:
                print(f"[perfbench] {table}: {diff}", flush=True)
                bad += 1
        return bad


class Stream:
    name = "stream_compact"

    def __init__(self, raw: str):
        self.raw = raw
        sc = cached_oracle(raw)["sink_counts"]
        self.want = {str(r): int(n) for r, n in zip(sc["route"], sc["n_rows"])}

    def ingest(self, spark, lake_dir: str) -> int:
        """The bronze half; returns the number of non-empty micro-batches."""
        from racing_telemetry_pipeline_spark.streaming.stream_pipeline import (
            streaming_raw_to_lake,
        )

        q = streaming_raw_to_lake(spark, self.raw, lake_dir)
        q.awaitTermination()
        return len({p["batchId"] for p in q.recentProgress if p["numInputRows"]})

    def compact(self, spark, lake_dir: str) -> None:
        from racing_telemetry_pipeline_spark.streaming.stream_pipeline import (
            compact_stream_to_routed,
        )

        compact_stream_to_routed(spark, lake_dir)

    def op(self, spark, lake_dir: str) -> None:
        self.ingest(spark, lake_dir)
        self.compact(spark, lake_dir)

    def check(self, spark, lake_dir: str, result) -> int:
        got = route_counts(os.path.join(lake_dir, "routed_compacted"))
        if got != self.want:
            print(f"[perfbench] routed_compacted counts {got} != oracle {self.want}", flush=True)
            return 1
        return 0
