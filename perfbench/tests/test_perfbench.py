"""The benchmark's own tests: seeded inputs, and the no-pruning guard.

Run from the repository root:

    python -m pytest perfbench/tests -q
"""
from __future__ import annotations

import filecmp
import json
import os
import re
import sys
from collections import Counter

import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from pyspark.sql import DataFrameWriter  # noqa: E402

from apollon_spark.session import get_spark  # noqa: E402
from perfbench import bench  # noqa: E402
from perfbench.trace import (PYTHON_NODES, EventLog, Task,  # noqa: E402
                             Tracer, event_log_file, per_layer_names,
                             python_nodes, read_event_log, span_fields)
from perfbench.workloads import IO, WORKLOADS  # noqa: E402

WRITE_TAG = "perfbench.write"


def _files(root: str) -> list[str]:
    return sorted(os.path.relpath(os.path.join(d, f), root)
                  for d, _, fs in os.walk(root) for f in fs)


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_same_seed_same_bytes_other_seed_other_bytes(name, tmp_path):
    wl = WORKLOADS[name]
    for tag, seed in (("a", 7), ("b", 7), ("c", 8)):
        wl.make_inputs(seed, str(tmp_path / tag / "in"),
                       str(tmp_path / tag / "q"))
    a, b, c = (str(tmp_path / t) for t in "abc")
    assert _files(a) == _files(b) == _files(c)
    match, mismatch, errors = filecmp.cmpfiles(a, b, _files(a),
                                               shallow=False)
    assert not mismatch and not errors
    _, mismatch, _ = filecmp.cmpfiles(a, c, _files(a), shallow=False)
    assert mismatch


def test_benchmark_json_lists_every_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert [(m["name"], m["unit"], m["better"])
            for m in spec["per_layer"]] == per_layer_names()
    assert {m["name"] for m in spec["end_to_end"]} == {
        "cpu_s", "tokens_per_cpu_s", "seqs_per_cpu_s", "setup_s"}


def test_benchmark_code_never_times_a_count():
    """A count lets Spark prune every column it does not need, so a
    stage timed by one skips the work it claims (ROADMAP item 1)."""
    here = os.path.join(ROOT, "perfbench")
    for name in os.listdir(here):
        if name.endswith(".py"):
            with open(os.path.join(here, name)) as fh:
                assert not re.search(r"\.count\(\)", fh.read()), name


def test_chained_span_takes_off_the_previous_prefix():
    """Prefix b recomputes prefix a, so b's fields are b's sums minus
    a's: 2 stages of a rerun inside b, plus b's own stage."""
    def task(stage, ms, py=0.0, shuffle=0.0):
        return Task(stage, ms, py, 0.0, shuffle, 0.0)
    a = [task(0, 100, 10, 1e6), task(0, 300, 10, 1e6)]
    b = ([task(1, 110, 10, 1e6), task(1, 290, 10, 1e6)]
         + [task(2, 50), task(2, 250)])
    log = EventLog(job_span={0: "a", 1: "b", 2: "b"},
                   stage_span={0: "a", 1: "b", 2: "b"}, tasks=a + b)
    f = span_fields(log, "b", 0.5, prev="a")
    assert f["self_s"] == 0.5
    assert f["task_s"] == pytest.approx(0.3)       # (110+290+50+250-400)/1e3
    assert f["python_s"] == pytest.approx(0.0)
    assert f["shuffle_mb"] == pytest.approx(0.0)
    assert f["jobs"] == 1
    # added slowest (290 + 250 - 300) ÷ added median (200 + 150 - 200)
    assert f["skew"] == pytest.approx(240 / 150)
    assert span_fields(log, "b", 0.5)["task_s"] == pytest.approx(0.7)


@pytest.fixture(scope="module")
def traced_spark(tmp_path_factory):
    events = tmp_path_factory.mktemp("events")
    spark = get_spark("perfbench-tests", cpus=2, extra_conf={
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{events}",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false"})
    yield spark, str(events)
    spark.stop()


def _plan_python_nodes(df) -> Counter:
    text = df._jdf.queryExecution().executedPlan().toString()
    return Counter(re.findall(r"\b(%s)\b" % "|".join(PYTHON_NODES), text))


@pytest.fixture(scope="module")
def recorded_passes(traced_spark, tmp_path_factory, monkeypatch_module):
    """Run one traced pass of every workload, recording each write the
    pass makes: its span, the written frame's columns and the Python
    nodes of the frame's full plan. Returns (writes, event log)."""
    spark, events = traced_spark
    sc = spark.sparkContext
    writes: list[dict] = []

    def recorder(orig):
        def write(self, *args, **kwargs):
            tag = f"w{len(writes)}"
            df = self._df
            writes.append({"tag": tag, "span": sc.getLocalProperty(
                               "perfbench.span"),
                           "path": args[0] if args else kwargs.get("path"),
                           "columns": df.columns,
                           "python": _plan_python_nodes(df)})
            sc.setLocalProperty(WRITE_TAG, tag)
            try:
                return orig(self, *args, **kwargs)
            finally:
                sc.setLocalProperty(WRITE_TAG, None)
        return write

    monkeypatch_module.setattr(DataFrameWriter, "parquet",
                               recorder(DataFrameWriter.parquet))
    monkeypatch_module.setattr(DataFrameWriter, "save",
                               recorder(DataFrameWriter.save))
    for name, wl in WORKLOADS.items():
        root = tmp_path_factory.mktemp(name)
        wl.make_inputs(3, str(root / "in"), str(root / "q"))
        io = IO(str(root / "in"), str(root / "out"))
        wl.run_pass(spark, io, Tracer(spark, on=True))
        results, _ = wl.check(io)
        assert all(c.ok for c in results), results
    monkeypatch_module.undo()
    spark.stop()               # closes the event log
    return writes, read_event_log(event_log_file(events), tag=WRITE_TAG)


@pytest.fixture(scope="module")
def monkeypatch_module():
    mp = pytest.MonkeyPatch()
    yield mp
    mp.undo()


def test_every_span_ends_in_a_write(recorded_passes):
    writes, _ = recorded_passes
    spans = {w["span"] for w in writes}
    for wl in WORKLOADS.values():
        for span in wl.spans:
            # the SOM fit returns its weights to the driver; the next
            # span writes the BMUs it assigns with them
            if span != "som.fit_batch_som":
                assert span in spans, f"{span} wrote nothing"


def test_writes_keep_python_nodes_and_columns(recorded_passes):
    """Each write's executed plan keeps every Python node of the
    written frame's own plan, and parquet writes keep every column."""
    writes, log = recorded_passes
    for w in writes:
        execs = {e for e, tag in log.job_sql.values() if tag == w["tag"]}
        ran = Counter()
        for e in execs:
            ran.update(python_nodes(log.sql_plans[e]))
        assert not w["python"] - ran, (w["span"], w["path"], w["python"],
                                       ran)
        if w["path"]:
            schema = pq.ParquetDataset(w["path"]).schema
            assert set(w["columns"]) <= set(schema.names), w


def test_unknown_workload_exits_nonzero(capsys):
    assert bench.run_workload("nope", 1, 1.0, False, ROOT) == 2
    assert capsys.readouterr().out == ""
