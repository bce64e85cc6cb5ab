"""One benchmark run of one workload: set-up, timed passes, weak
scaling or the traced pass, output checks, and the result line."""
from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import threading
import time

from pyspark import SparkContext

from apollon_spark.session import get_spark

from . import record
from .trace import (Tracer, event_log_file, per_layer_metrics,
                    per_layer_names, read_event_log, skew, span_fields)
from .workloads import IO, WORKLOADS, Workload

MIN_PASSES = 2        # timed passes per run, at least
MB = 1e6
DRIVER_MEM = "4g"
# HotSpot's JIT compiler threads. The JVM keeps them alive for its whole
# life (-XX:-UseDynamicNumberOfCompilerThreads, which changes no
# compilation decision), so their CPU time stays readable per thread.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def process_tree() -> list[tuple[int, str, list[str]]]:
    """(pid, command name, the /proc stat fields after the name) of this
    process and all its descendants: the JVM and the Python workers."""
    procs: dict[int, tuple[int, str, list[str]]] = {}
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue          # the process ended while we looked
        comm, fields = raw[raw.index("(") + 1:].rsplit(")", 1)
        fields = fields.split()
        procs[int(name)] = (int(name), comm, fields)
        children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        if pid in procs:
            out.append(procs[pid])
    return out


def cpu_seconds() -> dict[str, float]:
    """User + system CPU seconds of the process tree (reaped children
    included): ``all`` of it, the JVM's JIT compiler threads (``jit``)
    and the Python workers (``workers``). Time the hypervisor steals
    from the box is in none of them."""
    ticks = {"all": 0, "jit": 0, "workers": 0}
    for pid, comm, fields in process_tree():
        own = sum(int(x) for x in fields[11:15])
        ticks["all"] += own
        if comm.startswith("python") and pid != os.getpid():
            ticks["workers"] += own
        if comm != "java":
            continue
        for tid in os.listdir(f"/proc/{pid}/task"):
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                    raw = fh.read()
            except OSError:
                continue
            name, fields = raw[raw.index("(") + 1:].rsplit(")", 1)
            if name.startswith(JIT_THREADS):
                ticks["jit"] += sum(int(x) for x in fields.split()[11:13])
    hz = os.sysconf("SC_CLK_TCK")
    return {k: v / hz for k, v in ticks.items()}


class RssSampler:
    """Peak summed RSS of the process tree, sampled from /proc."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def total_rss() -> int:
        pages = sum(int(f[21]) for _, _, f in process_tree())
        return pages * os.sysconf("SC_PAGE_SIZE")

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self.total_rss())
            self._stop.wait(self.period)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


class Run:
    """State of one run: the work directory, the live session, and the
    attempted / failed counts."""

    def __init__(self, wl: Workload, root: str, cpus: int):
        self.wl = wl
        self.cpus = cpus
        self.work = os.path.join(root, ".perfbench_work", wl.name)
        shutil.rmtree(self.work, ignore_errors=True)
        self.full = os.path.join(self.work, "in")
        self.quarter = os.path.join(self.work, "in_q")
        self.local = os.path.join(self.work, "spark-local")
        self.events = os.path.join(self.work, "events")
        for d in (self.local, self.events, os.path.join(self.work, "tmp")):
            os.makedirs(d)
        # Spark's block manager, Python's tempfile and the JVM's temp
        # files all stay inside the work directory
        os.environ["SPARK_LOCAL_DIRS"] = self.local
        # the engine's 48g driver default lets the heap grow past what a
        # shared 15 GB box has; the run record keeps the effective value
        os.environ.setdefault("SPARK_DRIVER_MEM", DRIVER_MEM)
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.checks: list[dict] = []
        self.facts: list[dict] = []

    def start(self, cpus: int, event_log: bool = False) -> float:
        """(Re)start the session; returns seconds spent in get_spark."""
        if self.spark is not None:
            self.spark.stop()
        conf = {"spark.local.dir": self.local,
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={os.environ['TMPDIR']} "
                    "-XX:-UseDynamicNumberOfCompilerThreads"}
        if event_log:
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": "file://" + self.events,
                         "spark.eventLog.compress": "false",
                         "spark.eventLog.rolling.enabled": "false"})
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", cpus=cpus, extra_conf=conf)
        return time.perf_counter() - t0

    def one_pass(self, inp: str, tag: str, tracer: Tracer | None = None,
                 scaling: bool = False) -> tuple[float, IO]:
        """Run one pass (or the scaling stage) into a fresh output
        directory; returns its wall time from parquet in until every
        output is written."""
        io = IO(inp, os.path.join(self.work, "out", tag))
        shutil.rmtree(io.out, ignore_errors=True)
        tracer = tracer or Tracer(self.spark, on=False)
        self.attempted += 1 if scaling else len(self.wl.spans)
        fn = self.wl.scaling if scaling else self.wl.run_pass
        t0 = time.perf_counter()
        try:
            fn(self.spark, io, tracer)
        except Exception:
            self.failed += 1
            raise
        return time.perf_counter() - t0, io

    def in_bytes(self, name: str) -> int:
        d = os.path.join(self.full, name)
        return sum(os.path.getsize(os.path.join(d, f)) for f in os.listdir(d))

    def check(self, io: IO) -> None:
        results, facts = self.wl.check(io)
        for c in results:
            self.attempted += 1
            self.failed += not c.ok
            self.checks.append({"name": c.name, "ok": c.ok,
                                "detail": c.detail})
        self.facts.append(facts)

    def check_repeatable(self) -> None:
        """Every pass over the same input gives the same outputs."""
        self.attempted += 1
        ok = all(f == self.facts[0] for f in self.facts)
        self.failed += not ok
        self.checks.append({"name": "repeatable", "ok": ok,
                            "detail": f"{len(self.facts)} passes agree"
                            if ok else f"outputs differ: {self.facts}"})

    def shutdown(self) -> None:
        """Stop the session, then the JVM and its Python workers, and
        wait for them to end."""
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()        # the gateway exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()


def n_passes(wl: Workload, seconds: float) -> int:
    """Timed passes in a run: set by --seconds and the workload's
    nominal pass time alone, so a faster program gets its median over
    as many passes, as warm, as before."""
    return max(MIN_PASSES, round(seconds / wl.nominal_pass_s))


def untraced(run: Run, sizes, seconds: float) -> tuple[dict, dict]:
    """Set-up (get_spark and a warm pass), then the timed passes. The
    metrics count the passes' CPU seconds less JIT compilation; wall
    times and JIT seconds go to the run record."""
    t0 = time.perf_counter()
    run.start(run.cpus)
    plans: dict = {}
    run.one_pass(run.full, "warm", Tracer(run.spark, on=False, plans=plans))
    setup = time.perf_counter() - t0
    fingerprints = record.plan_fingerprints(plans, run.work)
    conf = dict(run.spark.sparkContext.getConf().getAll())
    walls, cpus, jits, workers, outs = [], [], [], [], []
    with RssSampler() as rss:
        for k in range(n_passes(run.wl, seconds)):
            cpu0 = cpu_seconds()
            wall, io = run.one_pass(run.full, f"pass{k}")
            used = {n: v - cpu0[n] for n, v in cpu_seconds().items()}
            walls.append(wall)
            cpus.append(used["all"] - used["jit"])
            jits.append(used["jit"])
            workers.append(used["workers"])
            outs.append(io)
    run.shutdown()
    for io in outs:
        run.check(io)
    run.check_repeatable()
    cpu = statistics.median(cpus)
    wall = statistics.median(walls)
    metrics = {
        "cpu_s": (cpu, "s"),
        "tokens_per_cpu_s": (sizes.tokens / cpu, "tokens/s"),
        "seqs_per_cpu_s": (sizes.docs / cpu, "docs/s"),
        "setup_s": (setup, "s"),
    }
    info = {"passes": {"wall_s": walls, "cpu_s": cpus, "jit_s": jits,
                       "python_workers_s": workers},
            "wall_s": wall, "tokens_per_s": sizes.tokens / wall,
            "peak_rss_mb": rss.peak / MB,
            "spark_conf": conf, "plans": fingerprints}
    return metrics, info


def traced(run: Run) -> tuple[dict, dict]:
    """Warm pass, then the traced pass between two untraced ones (passes
    still speed up as the JIT warms), all in one session whose event log
    is on; then, for a workload with a scaling stage, one pass of it
    over the quarter shard at local[1], under the traced pass's
    conditions: a warm pass first, the event log on, the same span."""
    get_s = run.start(run.cpus, event_log=True)
    run.one_pass(run.quarter, "warm")
    tracer = Tracer(run.spark, on=True)
    before = run.one_pass(run.full, "untraced0")
    traced_wall, traced_io = run.one_pass(run.full, "traced", tracer)
    after = run.one_pass(run.full, "untraced1")
    for io in (before[1], traced_io, after[1]):
        run.check(io)
    run.check_repeatable()
    untraced_wall = (before[0] + after[0]) / 2
    conf = dict(run.spark.sparkContext.getConf().getAll())
    run.spark.stop()          # flushes and closes the event log
    run.spark = None
    log = read_event_log(event_log_file(run.events))
    self_s = tracer.self_times()
    self_s["session.get_spark"] = get_s
    remainder = traced_wall - sum(s.dur for s in tracer.spans)
    counters = {"trace.overhead_frac": traced_wall / untraced_wall - 1}
    facts = run.facts[-1]
    if "frames" in facts:
        counters["framing.frames"] = facts["frames"]
    if "em_iters" in facts:
        counters["hmm.em_iters"] = facts["em_iters"]
    job = "pipeline.run_feature_job"
    if run.wl.scaling is not None:
        f = span_fields(log, job, self_s[job])
        tasks = log.span_tasks(job)
        py = [t for t in tasks if t.python_ms > 0]
        # the finished event log is read; this session writes another
        run.start(1, event_log=True)
        run.one_pass(run.quarter, "quarter_warm", scaling=True)
        one_core = Tracer(run.spark, on=True)
        run.one_pass(run.quarter, "quarter", one_core, scaling=True)
        counters.update({
            "pipeline.read_amplification":
                log.span_scan_bytes(job) / run.in_bytes("docs"),
            "pipeline.slot_idle_frac":
                1 - f["task_s"] / (f["self_s"] * run.cpus),
            "pipeline.scaling_eff": one_core.self_times()[job] / self_s[job],
            "spectral.python_s": f["python_s"],
            "spectral.arrow_mb": sum(t.python_bytes for t in py) / MB,
            "spectral.skew": skew(py),
        })
    run.shutdown()
    units = {n: u for n, u, _ in per_layer_names()}
    metrics = {k: (v, units[k]) for k, v in
               per_layer_metrics(log, self_s, tracer.prevs(),
                                 counters).items()}
    info = {"untraced_wall_s": untraced_wall, "traced_wall_s": traced_wall,
            "remainder_s": remainder,
            "spans": {s.name: {"dur_s": s.dur, "self_s": self_s[s.name]}
                      for s in tracer.spans},
            "spark_conf": conf}
    return metrics, info


def run_workload(name: str, seed: int, seconds: float, trace: bool,
                 root: str) -> int:
    wl = WORKLOADS.get(name)
    if wl is None:
        print(f"perfbench: unknown workload {name!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    run = Run(wl, root, len(os.sched_getaffinity(0)))
    t0 = time.perf_counter()
    sizes = wl.make_inputs(seed, run.full, run.quarter)
    gen_s = time.perf_counter() - t0
    steal0 = record.cpu_steal()
    try:
        metrics, info = traced(run) if trace else untraced(run, sizes,
                                                            seconds)
    except Exception as exc:          # a stage call raised: report, exit 1
        run.shutdown()
        print(f"perfbench: {name} failed: {exc!r}", file=sys.stderr)
        metrics, info = {}, {"error": repr(exc)}
    rec = {"workload": name, "seed": seed, "trace": int(trace),
           "seconds": seconds, "hardware": record.hardware(),
           "versions": record.versions(),
           "input": {"docs": sizes.docs, "tokens": sizes.tokens,
                     "bytes": sizes.bytes, "gen_s": gen_s},
           "cpu_steal_frac": record.cpu_steal(steal0),
           "fail_ratio": run.failed / max(run.attempted, 1),
           "checks": run.checks, "facts": run.facts[-1:], **info}
    print(json.dumps({"run_record": rec}, default=str))
    correct = run.failed == 0 and bool(metrics)
    print(json.dumps({
        "correct": correct, "attempted": max(run.attempted, 1),
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}))
    shutil.rmtree(run.work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(run.work))     # when no other run uses it
    except OSError:
        pass
    return 0 if correct else 1
