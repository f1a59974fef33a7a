"""Spans around calls into the pipeline's modules, joined with Spark's
JSON event log.

A span is a named, serial interval of driver wall time recorded by the
benchmark around one call (``with spans.span("skew.salted_parse_sync")``).
The span also sets the Spark job group, so the jobs a call submits from
the driver thread carry the span's name in the event log. Jobs submitted
from threads the pipeline starts itself carry no group; they are assigned
to the span whose interval contains their submission time (spans never
overlap).

``event_log`` attaches Spark's JSON event log writer to the running
session for the duration of a block, so the untraced operations before it
run without it. ``span_stats`` then folds the event log's job, stage
and task records into per-span counters: jobs, stages, task CPU, GC,
spill, shuffle and output bytes, max/median task time, and the driver
time during which no job was running.
"""

from __future__ import annotations

import contextlib
import glob
import json
import statistics
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start_ms: float
    end_ms: float = 0.0

    @property
    def s(self) -> float:
        return (self.end_ms - self.start_ms) / 1e3


@contextlib.contextmanager
def event_log(spark, directory: str):
    """Write Spark's JSON event log (``EventLoggingListener``, the writer
    behind ``spark.eventLog.enabled``) to ``directory`` while the block
    runs."""
    sc = spark.sparkContext
    jsc, jvm = sc._jsc.sc(), sc._jvm
    conf = (jsc.conf().clone()
            .set("spark.eventLog.rolling.enabled", "false")
            .set("spark.eventLog.compress", "false"))
    writer = jvm.org.apache.spark.scheduler.EventLoggingListener(
        jsc.applicationId(), jvm.scala.Option.empty(),
        jvm.java.net.URI(f"file://{directory}"), conf, jsc.hadoopConfiguration(),
    )
    writer.start()
    jsc.addSparkListener(writer)
    try:
        yield
    finally:
        jsc.removeSparkListener(writer)
        writer.stop()


class Spans:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: dict[str, Span] = {}

    @contextlib.contextmanager
    def span(self, name: str):
        if name in self.spans:
            raise ValueError(f"span {name} recorded twice")
        sp = Span(name, time.time() * 1e3)
        self.sc.setJobGroup(name, name)
        try:
            yield sp
        finally:
            sp.end_ms = time.time() * 1e3
            for prop in ("spark.jobGroup.id", "spark.job.description"):
                self.sc.setLocalProperty(prop, None)
            self.spans[name] = sp


@dataclass
class _Job:
    group: str | None
    submit_ms: float
    end_ms: float = 0.0
    stages: list[int] = field(default_factory=list)


@dataclass
class _Task:
    stage: int
    dur_ms: float
    cpu_s: float
    gc_s: float
    spill_bytes: float
    shuffle_write: float
    shuffle_read: float
    written: float


def _load(eventlog_dir: str) -> tuple[dict[int, _Job], list[_Task]]:
    jobs: dict[int, _Job] = {}
    tasks: list[_Task] = []
    for path in glob.glob(f"{eventlog_dir}/*"):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = _Job(
                        props.get("spark.jobGroup.id"), ev["Submission Time"],
                        stages=list(ev["Stage IDs"]),
                    )
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    tasks.append(_Task(
                        stage=ev["Stage ID"],
                        dur_ms=info["Finish Time"] - info["Launch Time"],
                        cpu_s=m.get("Executor CPU Time", 0) / 1e9,
                        gc_s=m.get("JVM GC Time", 0) / 1e3,
                        spill_bytes=m.get("Disk Bytes Spilled", 0),
                        shuffle_write=sw.get("Shuffle Bytes Written", 0),
                        shuffle_read=sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                        written=(m.get("Output Metrics") or {}).get("Bytes Written", 0),
                    ))
    return jobs, tasks


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def span_stats(eventlog_dir: str, spans: dict[str, Span]) -> dict[str, dict]:
    """Per-span counters from the event log (see the module docstring)."""
    jobs, tasks = _load(eventlog_dir)
    by_span: dict[str, list[_Job]] = {name: [] for name in spans}
    # a stage id listed by several jobs ran (if at all) in the first one;
    # later jobs list it as skipped
    stage_span: dict[int, str] = {}
    for _, job in sorted(jobs.items()):
        name = job.group if job.group in spans else next(
            (n for n, sp in spans.items() if sp.start_ms <= job.submit_ms <= sp.end_ms), None
        )
        if name is None:
            continue
        by_span[name].append(job)
        for st in job.stages:
            stage_span.setdefault(st, name)
    tasks_by_stage: dict[int, list[_Task]] = {}
    for t in tasks:
        tasks_by_stage.setdefault(t.stage, []).append(t)

    out = {}
    for name, sp in spans.items():
        stages = {st: tasks_by_stage[st] for st, n in stage_span.items()
                  if n == name and st in tasks_by_stage}
        ts = [t for group in stages.values() for t in group]
        busy = _union_ms([(j.submit_ms, j.end_ms or sp.end_ms) for j in by_span[name]])
        # skew of the heaviest stage that reads a shuffle: the stage whose
        # tasks are keyed, so a hot key makes one task long
        keyed = [g for g in stages.values() if sum(t.shuffle_read for t in g) > 0]
        skew = 1.0
        if keyed:
            heavy = max(keyed, key=lambda g: sum(t.dur_ms for t in g))
            skew = max(t.dur_ms for t in heavy) / max(statistics.median(t.dur_ms for t in heavy), 1.0)
        out[name] = {
            "s": sp.s,
            "jobs": len(by_span[name]),
            "stages": len(stages),
            "task_cpu_s": sum(t.cpu_s for t in ts),
            "gc_s": sum(t.gc_s for t in ts),
            "spill_mb": sum(t.spill_bytes for t in ts) / 1e6,
            "shuffle_write_mb": sum(t.shuffle_write for t in ts) / 1e6,
            "mb_written": sum(t.written for t in ts) / 1e6,
            "driver_idle_s": max(sp.s - busy / 1e3, 0.0),
            "task_skew": skew,
        }
    return out
