"""The traced run: per-layer metrics of both workloads.

First, untraced, the cold operation of the run's workload. Then, with
Spark's event log on, each call under a named span (tracing.py); the
run's own workload goes last, so its operation is warm:

- ``batch_bulk``: the routed-stage ladder (cumulative prefixes of the
  routed plan, each written to a ``noop`` sink, then the real routed
  stage, ``run_pipeline(stop_after="routed")``), one ``run_pipeline``,
  and each post-routed job run serially on its lake. The ladder runs
  ``LADDER_PASSES`` times; a layer's self time is its prefix time minus
  the previous prefix time of the same pass, and its metric is the
  median of those differences over the passes;
- ``stream_compact``: both halves of one operation.

Last, one more untraced operation of the run's workload: the baseline of
``trace.overhead_s``. The whole-run counters (``pipeline.*``) are the
event-log counters of the run's own workload operation.
"""

from __future__ import annotations

import glob
import os
import shutil
import statistics

from pyspark.sql import functions as F

import procs
from harness import make_workload, run_op, start_session
from tracing import Spans, event_log, span_stats

from racing_telemetry_pipeline_spark.config import DEFAULTS

LADDER = [
    "lake.scan",
    "dedup.add_ingest_ordinal",
    "skew.salted_parse_sync",
    "grok.parse_text",
    "routing.enrich_route",
]
POST = [
    "drift.drift_calibration",
    "aggregates.turns_per_conversation",
    "aggregates.tool_call_frequency",
    "aggregates.role_latency_percentiles",
    "pipeline.lineage",
]
WHOLE = ["jobs", "stages", "task_cpu_s", "spill_mb", "gc_s", "driver_idle_s"]
# the first pass still warms the JIT; a median over three passes keeps
# it from setting a layer's time
LADDER_PASSES = 3


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _ladder_steps(spark, raw: str, settings=DEFAULTS, engine: str = "pandas_udf"):
    """The prefixes of ``plans.pipeline._build_routed``, one per module,
    each a function of the previous prefix."""
    from racing_telemetry_pipeline_spark.datagen.dims import dim_roles_pdf, dim_tools_pdf
    from racing_telemetry_pipeline_spark.functions.grok import parse_text
    from racing_telemetry_pipeline_spark.operators.dedup import add_ingest_ordinal
    from racing_telemetry_pipeline_spark.operators.routing import apply_sentinels, route_rows
    from racing_telemetry_pipeline_spark.operators.skew import salted_parse_sync
    from racing_telemetry_pipeline_spark.schemas import validate_raw, validate_routed

    def enrich_route(df):
        # routed_from_ordinal's tail: sentinels, broadcast dims, route
        df = apply_sentinels(df, settings)
        roles = F.broadcast(spark.createDataFrame(dim_roles_pdf()))
        tools = F.broadcast(spark.createDataFrame(dim_tools_pdf()).withColumnRenamed("tool", "tool_key"))
        df = df.join(roles, on="role", how="left")
        df = df.join(tools, df.tool_name == tools.tool_key, how="left").drop("tool_key")
        return validate_routed(route_rows(df, settings))

    return [
        lambda _: validate_raw(spark.read.parquet(raw)),
        add_ingest_ordinal,
        lambda df: salted_parse_sync(
            df,
            bucket_turns=settings.salt_bucket_turns,
            gap_threshold_sec=settings.gap_threshold_sec,
            backwards_tolerance_sec=settings.backwards_tolerance_sec,
        ),
        lambda df: parse_text(df, engine=engine),
        enrich_route,
    ]


def _batch_layers(spark, spans: Spans, env, wl, counts) -> dict:
    """The routed-stage ladder, one traced run_pipeline right after it (so
    that the two are comparably warm), and the serial post-routed jobs on
    its lake. Returns the values the metrics need besides the span
    counters."""
    from racing_telemetry_pipeline_spark.operators.aggregates import (
        role_latency_percentiles,
        tool_call_frequency,
        turns_per_conversation,
    )
    from racing_telemetry_pipeline_spark.operators.dedup import add_ingest_ordinal
    from racing_telemetry_pipeline_spark.operators.drift import drift_calibration
    from racing_telemetry_pipeline_spark.plans.pipeline import (
        _write_lineage,
        routed_from_ordinal,
        run_pipeline,
    )
    from racing_telemetry_pipeline_spark.schemas import validate_raw
    from racing_telemetry_pipeline_spark.sources.lake import Lake

    s = DEFAULTS
    files = 0
    for i in range(LADDER_PASSES):
        df = None
        for name, step in zip(LADDER, _ladder_steps(spark, wl.raw)):
            df = step(df)
            with spans.span(f"{name}#{i}"):
                noop_write(df)
            procs.jvm_gc(spark)
        routed = routed_from_ordinal(
            spark, add_ingest_ordinal(validate_raw(spark.read.parquet(wl.raw))), s, "pandas_udf"
        )
        if df.schema != routed.schema:
            raise RuntimeError("the ladder's last prefix no longer matches routed_from_ordinal")
        lake_dir = env.fresh_lake()
        with spans.span(f"lake.write_routed#{i}"):
            # the real routed stage: the fan-out write with its observe()
            run_pipeline(spark, wl.raw, lake_dir, resume=False, stop_after="routed")
        files = len(glob.glob(f"{lake_dir}/routed/*/*.parquet"))
        shutil.rmtree(lake_dir)
        procs.jvm_gc(spark)

    with spans.span("pipeline.run"):
        lake_dir = env.fresh_lake()
        res = wl.op(spark, lake_dir)
    counts.attempted += 1
    counts.failed += wl.check(spark, lake_dir, res) != 0
    procs.jvm_gc(spark)

    lake = Lake(spark, lake_dir)
    routed = lake.read("routed")
    serial = {
        "drift.drift_calibration": lambda: lake.write(
            drift_calibration(routed, window_sec=s.drift_window_sec,
                              step_std_factor=s.step_std_factor, dt_col="dt_sec"),
            "drift_calibration"),
        "aggregates.turns_per_conversation": lambda: lake.write(
            turns_per_conversation(routed), "agg_turns_per_conversation"),
        "aggregates.tool_call_frequency": lambda: lake.write(
            tool_call_frequency(routed), "agg_tool_frequency"),
        "aggregates.role_latency_percentiles": lambda: lake.write(
            role_latency_percentiles(routed), "agg_role_latency"),
        "pipeline.lineage": lambda: _write_lineage(spark, lake, "routed", res.input_snapshot),
    }
    for name in POST:
        with spans.span(name):
            serial[name]()
        procs.jvm_gc(spark)
    shutil.rmtree(lake_dir)

    return {
        "files": files,
        "observed": res.observed_metrics,
        "routed_stage_s": res.timings["routed"],
        "post_block_s": res.timings["aggregates"],
    }


def _stream_layers(spark, spans: Spans, env, wl, counts) -> dict:
    lake_dir = env.fresh_lake()
    with spans.span("stream.raw_to_lake"):
        batches = wl.ingest(spark, lake_dir)
    with spans.span("stream.compact"):
        wl.compact(spark, lake_dir)
    counts.attempted += 1
    counts.failed += wl.check(spark, lake_dir, None) != 0
    shutil.rmtree(lake_dir)
    procs.jvm_gc(spark)
    return {"batches": batches}


def traced(args, env, wl, counts, info) -> dict:
    groups = {"batch_bulk": _batch_layers, "stream_compact": _stream_layers}
    # every group's layers, the run's own workload last (warmest)
    names = [n for n in groups if n != wl.name] + [wl.name]
    wls = {n: (wl if n == wl.name else make_workload(n, env, args.seed)[0]) for n in names}
    spark = start_session(env)
    extra = {}
    try:
        run_op(spark, wl, env, counts)
        spans = Spans(spark)
        os.makedirs(env.eventlog)
        with event_log(spark, env.eventlog):
            for n in names:
                extra.update(groups[n](spark, spans, env, wls[n], counts))
        # the untraced baseline last, as warm as the traced operation
        base_wall = run_op(spark, wl, env, counts)[0]
    finally:
        procs.shutdown(spark)
    st = span_stats(env.eventlog, spans.spans)
    info["span_s"] = {k: round(v["s"], 3) for k, v in st.items()}
    return _metrics(st, extra, wl, base_wall, info)


def _ladder(st: dict, info: dict) -> dict:
    """Per ladder layer: ``self_s``, the median over the passes of its
    prefix time minus the previous prefix time of the same pass, and the
    median over the passes of each event-log counter. The per-pass self
    times go to the details line: a layer cheaper than the run-to-run
    noise of one prefix job can come out negative there and in the
    median."""
    out, by_pass = {}, {}
    prev = [0.0] * LADDER_PASSES
    for name in LADDER + ["lake.write_routed"]:
        passes = [st.pop(f"{name}#{i}") for i in range(LADDER_PASSES)]
        by_pass[name] = [p["s"] - q for p, q in zip(passes, prev)]
        out[name] = {k: statistics.median(p[k] for p in passes) for k in passes[0]}
        out[name]["self_s"] = statistics.median(by_pass[name])
        prev = [p["s"] for p in passes]
    info["ladder_self_s_by_pass"] = {k: [round(v, 3) for v in vs] for k, vs in by_pass.items()}
    return out


def _metrics(st: dict, x: dict, wl, base_wall: float, info: dict) -> dict:
    st.update(_ladder(st, info))
    m = {f"{name}.self_s": (st[name]["self_s"], "s") for name in LADDER + ["lake.write_routed"]}
    salted = st["skew.salted_parse_sync"]
    obs = x["observed"]
    m.update({
        "skew.salted_parse_sync.shuffle_write_mb": (salted["shuffle_write_mb"], "MB"),
        "skew.salted_parse_sync.task_skew": (salted["task_skew"], "ratio"),
        "skew.salted_parse_sync.keep_ratio": (obs["n_rows"] / info["input_rows"], "ratio"),
        "routing.quarantine_ratio": (obs["n_quarantined"] / obs["n_rows"], "ratio"),
        "lake.write_routed.mb_written": (st["lake.write_routed"]["mb_written"], "MB"),
        "lake.write_routed.files": (x["files"], "count"),
        "pipeline.routed_stage.s": (x["routed_stage_s"], "s"),
    })
    for name in POST:
        m[f"{name}.s"] = (st[name]["s"], "s")
    m["aggregates.role_latency_percentiles.shuffle_write_mb"] = (
        st["aggregates.role_latency_percentiles"]["shuffle_write_mb"], "MB")
    m["pipeline.post_block.s"] = (x["post_block_s"], "s")
    m["pipeline.post_block.overlap"] = (sum(st[n]["s"] for n in POST) / x["post_block_s"], "ratio")

    ingest, compact = st["stream.raw_to_lake"], st["stream.compact"]
    m.update({
        "stream.raw_to_lake.s": (ingest["s"], "s"),
        "stream.raw_to_lake.batches": (x["batches"], "count"),
        "stream.raw_to_lake.per_batch_s": (ingest["s"] / max(x["batches"], 1), "s"),
        "stream.compact.s": (compact["s"], "s"),
        "stream.compact.shuffle_write_mb": (compact["shuffle_write_mb"], "MB"),
        "stream.compact.spill_mb": (compact["spill_mb"], "MB"),
        "lake.bronze.mb_written": (ingest["mb_written"], "MB"),
    })
    own = {
        "batch_bulk": ["pipeline.run"],
        "stream_compact": ["stream.raw_to_lake", "stream.compact"],
    }[wl.name]
    units = {"jobs": "count", "stages": "count"}
    for k in WHOLE:
        m[f"pipeline.{k}"] = (sum(st[n][k] for n in own), units.get(k, "MB" if k.endswith("_mb") else "s"))
    traced_wall = sum(st[n]["s"] for n in own)
    m["trace.overhead_s"] = (traced_wall - base_wall, "s")
    ladder_sum = sum(m[f"{n}.self_s"][0] for n in LADDER + ["lake.write_routed"])
    info.update(base_wall_s=base_wall, traced_wall_s=traced_wall,
                ladder_sum_over_routed_stage=ladder_sum / x["routed_stage_s"])
    return m
