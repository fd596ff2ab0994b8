"""The benchmark's own tests: no Spark session needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import probes  # noqa: E402
import run  # noqa: E402
import spans as sp  # noqa: E402
import workloads  # noqa: E402
from checks import Ledger, Wrong, expect  # noqa: E402

EVENTS = os.path.join(HERE, "data", "eventlog.jsonl")


def _span(id_, start, end, parent=None, name="x"):
    return sp.Span(id=id_, name=name, op="op", parent=parent, start=start, end=end)


def test_union_length_merges_overlaps():
    assert sp.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert sp.union_length([]) == 0


def test_self_time_subtracts_covered_child_time():
    spans = [
        _span("op", 0.0, 10.0),
        _span("a", 1.0, 4.0, parent="op"),
        _span("b", 3.0, 6.0, parent="op"),  # overlaps a: covered 1..6
        _span("a1", 1.5, 2.0, parent="a"),
        _span("late", 9.5, 12.0, parent="op"),  # clipped to the parent's end
    ]
    st = sp.self_times(spans)
    assert st["op"] == 10.0 - 5.0 - 0.5
    assert st["a"] == 3.0 - 0.5
    assert st["b"] == 3.0
    assert st["a1"] == 0.5


def _recorded_spans():
    with open(os.path.join(HERE, "data", "spans.json")) as f:
        return [_span(d["id"], d["start"], d["end"], name=d["name"]) for d in json.load(f)]


def test_event_log_counters_per_span():
    """A log recorded (then trimmed to the fields the parser reads) from
    two spans on local[4]: a noop write of a 7-key group-by over four
    partitions (a map and a reduce stage) and a one-partition collect."""
    groups = sp.read_event_log([EVENTS])
    w, c = groups["perfbench-1"], groups["perfbench-2"]
    assert (w.jobs, w.stages, w.tasks) == (2, 2, 5)
    assert (c.jobs, c.stages, c.tasks) == (1, 1, 1)
    assert round(w.task_s, 3) == 1.304 and round(c.task_s, 3) == 0.016
    assert round(w.cpu_s, 6) == 0.440474 and round(c.cpu_s, 6) == 0.016544
    assert round(w.shuffle_write_mb * sp.MB) == 921
    assert round(w.shuffle_read_mb * sp.MB) == 921
    assert c.shuffle_read_mb == 0 and w.input_mb == 0 and w.spill_mb == 0
    assert w.stage_intervals == [(1792236452.102, 1792236452.49), (1792236452.638, 1792236452.766)]
    assert w.sql_starts == [1792236451.697] and len(c.sql_starts) == 1

    write, collect = _recorded_spans()
    # driver gap: span wall minus the two stage intervals (0.388 + 0.128 s)
    assert abs(sp.driver_gap(write, w) - (write.wall - 0.516)) < 1e-6
    assert abs(sp.plan_time(write, w) - (1792236451.697 - write.start)) < 1e-6
    assert 0 < sp.plan_time(collect, c) < collect.wall


def test_span_counters_roll_children_up():
    groups = sp.read_event_log([EVENTS])
    write, collect = _recorded_spans()
    root = _span("root", write.start - 1, collect.end + 1)
    write.parent = collect.parent = "root"
    tot = sp.span_counters([root, write, collect], groups)
    assert (tot["root"].jobs, tot["root"].stages, tot["root"].tasks) == (3, 3, 6)
    assert tot["root"].cpu_s == groups["perfbench-1"].cpu_s + groups["perfbench-2"].cpu_s
    assert len(tot["root"].stage_intervals) == 3


class _Jobs:
    def __init__(self):
        self.calls = []

    def setJobGroup(self, gid, desc):
        self.calls.append(gid)

    def setLocalProperty(self, key, value):
        self.calls.append((key, value))


def test_tracer_sets_and_restores_job_groups():
    jobs = _Jobs()
    tr = sp.Tracer(jobs)
    with tr.span("op") as op:
        with tr.span("child") as child:
            pass
    assert jobs.calls[:3] == [op.id, child.id, op.id]
    assert ("spark.jobGroup.id", None) in jobs.calls
    assert child.parent == op.id and child.op == op.op


# ---------------------------------------------------------------------------
# A wrong output lands in `failed`; the run goes on
# ---------------------------------------------------------------------------


class _Ctx(workloads.Ctx):
    def new_session(self) -> float:
        return 0.01


class _Workload:
    """Operations that succeed except the one at ``wrong_at``."""

    SETTLE = 1
    OP_S = 0.01

    def __init__(self, wrong_at: int):
        self.calls = 0
        self.wrong_at = wrong_at

    def prepare(self):
        pass

    def prepare_checks(self):
        pass

    def op(self, warm):
        self.calls += 1
        expect(self.calls != self.wrong_at, f"forced wrong output at operation {self.calls}")
        return {"span": None, "op_s": 0.001, "rows": 10}

    finish = None


def test_wrong_output_counts_as_failed_and_run_continues(tmp_path):
    ctx = _Ctx(str(tmp_path), str(tmp_path), seed=1, seconds=0.05, trace=False)
    wrong_at = workloads.WARMUPS + _Workload.SETTLE + 2  # the second measured operation
    wl = _Workload(wrong_at)
    res = workloads.run(ctx, wl)
    assert ctx.ledger.failed == 1
    assert f"forced wrong output at operation {wrong_at}" in ctx.ledger.failures[0]
    measured = wl.calls - workloads.WARMUPS - wl.SETTLE
    assert measured == workloads.measured_ops(ctx.seconds, wl.OP_S) == 5
    assert ctx.ledger.attempted == wl.calls
    assert len(res["ops"]) == measured - 1  # the failed operation is not timed


def test_ledger_counts_exceptions_from_the_program():
    led = Ledger()
    assert led.run("ok", lambda: None)
    assert not led.run("raises", lambda: 1 / 0)
    assert not led.run("wrong", lambda: (_ for _ in ()).throw(Wrong("bad")))
    assert (led.attempted, led.failed) == (3, 2)


def test_declared_metrics_match_benchmark_json():
    with open(os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == list(run.E2E)
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == list(run.PER_LAYER)
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    assert sorted(probes.OPERATOR_QUERIES) == sorted(run.OPERATOR_MODULES)
