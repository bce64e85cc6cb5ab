"""Spans around layer calls, and Spark's own counters attributed to them.

Each span sets a Spark local property while it runs, so every job the
call submits carries the span's name. After the traced session stops,
its uncompressed, non-rolling event log is read back and each task's
counters are summed into the span of the job that ran the task.
"""
from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

TAG = "perfbench.span"
PYTHON_RUN = "time to run Python workers"           # SQL metric, ms
PYTHON_SENT = "data sent to Python workers"         # SQL metric, bytes
PYTHON_RECV = "data returned from Python workers"   # SQL metric, bytes
SCAN_BYTES = "size of files read"                   # scan metric, bytes

# The spans reported as per-layer metrics, one per public layer call.
SPANS = [
    "session.get_spark",
    "pipeline.run_feature_job",
    "tokenize.docs_from_documents",
    "curation.quality_filter",
    "dedup.exact_dedup",
    "dedup.excise_passages",
    "curation.mixture_sample",
    "packing.pack_sequences",
    "asof.asof_join",
    "backfill.windows",
    "sessionize.sessionize",
    "hmm.fit_hmm_docs",
    "som.fit_batch_som",
    "som.assign_bmu",
]
# field -> (unit, better)
FIELDS = {
    "self_s": ("s", "lower"),
    "task_s": ("s", "lower"),
    "python_s": ("s", "lower"),
    "shuffle_mb": ("MB", "lower"),
    "spill_mb": ("MB", "lower"),
    "skew": ("ratio", "lower"),
    "jobs": ("count", "lower"),
}
# counter -> (unit, better)
COUNTERS = {
    "pipeline.read_amplification": ("ratio", "lower"),
    "pipeline.slot_idle_frac": ("ratio", "lower"),
    "pipeline.scaling_eff": ("ratio", "higher"),
    "spectral.python_s": ("s", "lower"),
    "spectral.arrow_mb": ("MB", "lower"),
    "spectral.skew": ("ratio", "lower"),
    "framing.frames": ("count", "lower"),
    "hmm.em_iters": ("count", "lower"),
    "trace.overhead_frac": ("ratio", "lower"),
}


def per_layer_names() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric."""
    return ([(f"{s}.{f}", u, b) for s in SPANS
             for f, (u, b) in FIELDS.items()]
            + [(c, u, b) for c, (u, b) in COUNTERS.items()])


@dataclass
class Span:
    name: str
    start: float
    end: float
    prev: str | None      # the previous prefix of the same chain

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when ``on``; otherwise every span is free and a
    chain runs only its final write."""

    def __init__(self, spark: SparkSession, on: bool,
                 plans: dict | None = None):
        self.sc = spark.sparkContext
        self.on = on
        self.spans: list[Span] = []
        # output name -> DataFrame written, kept only when a dict is given
        self.plans = plans

    def write(self, df: DataFrame, path: str) -> None:
        """Parquet write that ends a stage."""
        if self.plans is not None:
            self.plans[os.path.basename(path)] = df
        df.write.mode("overwrite").parquet(path)

    @contextmanager
    def span(self, name: str, prev: str | None = None):
        if not self.on:
            yield
            return
        self.sc.setLocalProperty(TAG, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append(Span(name, t0, time.perf_counter(), prev))
            self.sc.setLocalProperty(TAG, None)

    def chain(self, steps: list[tuple[str, DataFrame]], path: str) -> None:
        """Write the last frame of a chain of layer calls to ``path``.
        Traced, each earlier prefix is first forced through a noop sink
        under its own span; a call's self time is then its prefix's
        time minus the previous prefix's."""
        prev = None
        if self.on:
            for name, df in steps[:-1]:
                with self.span(name, prev):
                    df.write.format("noop").mode("overwrite").save()
                prev = name
        with self.span(steps[-1][0], prev):
            self.write(steps[-1][1], path)

    def self_times(self) -> dict[str, float]:
        dur = {s.name: s.dur for s in self.spans}
        return {s.name: s.dur - (dur[s.prev] if s.prev else 0.0)
                for s in self.spans}

    def prevs(self) -> dict[str, str | None]:
        """Span name -> the previous prefix of its chain, if any."""
        return {s.name: s.prev for s in self.spans}


@dataclass
class Task:
    stage: int
    run_ms: float
    python_ms: float
    python_bytes: float
    shuffle_bytes: float
    spill_bytes: float


@dataclass
class EventLog:
    job_span: dict[int, str | None] = field(default_factory=dict)
    stage_span: dict[int, str] = field(default_factory=dict)
    tasks: list[Task] = field(default_factory=list)
    # SQL execution id -> initial physical plan tree
    sql_plans: dict[int, dict] = field(default_factory=dict)
    # job id -> (SQL execution id, span)
    job_sql: dict[int, tuple[int, str | None]] = field(default_factory=dict)
    # SQL execution id -> scan-size accumulators, and bytes they report
    scan_accs: dict[int, set[int]] = field(default_factory=dict)
    scan_bytes: dict[int, float] = field(default_factory=dict)

    def span_tasks(self, span: str) -> list[Task]:
        return [t for t in self.tasks if self.stage_span.get(t.stage) == span]

    def span_scan_bytes(self, span: str) -> float:
        """Bytes of files the span's scans selected, pruning included."""
        execs = {e for e, s in self.job_sql.values() if s == span}
        return sum(self.scan_bytes.get(e, 0) for e in execs)

    def jobs(self, span: str) -> int:
        return sum(1 for s in self.job_span.values() if s == span)


def event_log_file(log_dir: str) -> str:
    names = [n for n in os.listdir(log_dir) if not n.endswith(".inprogress")]
    if len(names) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, "
                           f"found {sorted(os.listdir(log_dir))}")
    return os.path.join(log_dir, names[0])


def read_event_log(path: str, tag: str = TAG) -> EventLog:
    log = EventLog()
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                span = props.get(tag)
                log.job_span[ev["Job ID"]] = span
                exec_id = props.get("spark.sql.execution.id")
                if exec_id is not None:
                    log.job_sql[ev["Job ID"]] = (int(exec_id), span)
                if span is not None:
                    for sid in ev["Stage IDs"]:
                        log.stage_span.setdefault(sid, span)
            elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
                m = ev["Task Metrics"]
                acc = {a.get("Name"): a.get("Update") or 0
                       for a in ev["Task Info"].get("Accumulables", [])}
                log.tasks.append(Task(
                    stage=ev["Stage ID"],
                    run_ms=m["Executor Run Time"],
                    python_ms=float(acc.get(PYTHON_RUN, 0)),
                    python_bytes=float(acc.get(PYTHON_SENT, 0))
                    + float(acc.get(PYTHON_RECV, 0)),
                    shuffle_bytes=m["Shuffle Write Metrics"]
                    ["Shuffle Bytes Written"],
                    spill_bytes=m["Disk Bytes Spilled"]))
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                log.sql_plans[ev["executionId"]] = ev["sparkPlanInfo"]
                log.scan_accs.setdefault(ev["executionId"], set()).update(
                    _metric_ids(ev["sparkPlanInfo"], SCAN_BYTES))
            elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                log.scan_accs.setdefault(ev["executionId"], set()).update(
                    _metric_ids(ev["sparkPlanInfo"], SCAN_BYTES))
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                accs = log.scan_accs.get(ev["executionId"], set())
                for acc_id, value in ev["accumUpdates"]:
                    if acc_id in accs:
                        log.scan_bytes[ev["executionId"]] = (
                            log.scan_bytes.get(ev["executionId"], 0) + value)
    return log


def _metric_ids(plan: dict, name: str) -> set[int]:
    ids = {m["accumulatorId"] for m in plan.get("metrics", [])
           if m["name"] == name}
    for child in plan.get("children", []):
        ids |= _metric_ids(child, name)
    return ids


def _stage_extremes(tasks: list[Task]) -> tuple[float, float]:
    """(Σ over stages of the slowest task, Σ of the median task), ms."""
    by_stage: dict[int, list[float]] = {}
    for t in tasks:
        by_stage.setdefault(t.stage, []).append(t.run_ms)
    return (sum(max(v) for v in by_stage.values()),
            sum(statistics.median(v) for v in by_stage.values()))


def skew(tasks: list[Task]) -> float:
    """Σ over stages of the slowest task ÷ Σ of the median task."""
    top, mid = _stage_extremes(tasks)
    return top / mid if mid > 0 else 0.0


def _span_sums(log: EventLog, span: str) -> dict[str, float]:
    """The span's counters that add up over its tasks and jobs."""
    tasks = log.span_tasks(span)
    top, mid = _stage_extremes(tasks)
    return {
        "task_s": sum(t.run_ms for t in tasks) / 1e3,
        "python_s": sum(t.python_ms for t in tasks) / 1e3,
        "shuffle_mb": sum(t.shuffle_bytes for t in tasks) / 1e6,
        "spill_mb": sum(t.spill_bytes for t in tasks) / 1e6,
        "jobs": log.jobs(span),
        "top_ms": top,
        "mid_ms": mid,
    }


def span_fields(log: EventLog, span: str, self_s: float,
                prev: str | None = None) -> dict:
    """The 7 fields of a span. A chained span's prefix recomputes the
    previous prefix, so, as for its time, the previous prefix's sums are
    taken off, and its skew is the added slowest-task time ÷ the added
    median-task time."""
    sums = _span_sums(log, span)
    if prev is not None:
        before = _span_sums(log, prev)
        sums = {k: v - before[k] for k, v in sums.items()}
    top, mid = sums.pop("top_ms"), sums.pop("mid_ms")
    jobs = sums.pop("jobs")
    return {"self_s": self_s, **sums,
            "skew": top / mid if mid > 0 else 0.0, "jobs": jobs}


def per_layer_metrics(log: EventLog, self_s: dict[str, float],
                      prev: dict[str, str | None],
                      counters: dict[str, float]) -> dict[str, float]:
    """Every per-layer metric; spans and counters a workload does not
    reach read 0, the prediction for a bypassed layer."""
    out = {}
    for span in SPANS:
        fields = span_fields(log, span, self_s.get(span, 0.0),
                             prev.get(span))
        for f, v in fields.items():
            out[f"{span}.{f}"] = v
    for c in COUNTERS:
        out[c] = counters.get(c, 0.0)
    return out


PYTHON_NODES = ("MapInPandas", "MapInArrow", "ArrowEvalPython",
                "BatchEvalPython", "FlatMapGroupsInPandas",
                "FlatMapCoGroupsInPandas", "ArrowWindowPython",
                "AggregateInPandas")


def python_nodes(plan: dict) -> list[str]:
    """Python operator names in a sparkPlanInfo tree, pre-order."""
    out = [plan["nodeName"]] if plan["nodeName"] in PYTHON_NODES else []
    for child in plan.get("children", []):
        out.extend(python_nodes(child))
    return out
