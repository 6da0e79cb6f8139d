"""Span self time, the tail-percentile rule, CPU and pass accounting
and the compare step's refusals, without Spark."""

import os
import time

import pytest

import compare
import run
import spans


class FakeContext:
    def __init__(self):
        self.props = []

    def setLocalProperty(self, key, value):
        self.props.append((key, value))


def test_self_time_excludes_traced_callees():
    tracer = spans.Tracer(FakeContext())
    inner = tracer._wrap("schema.with_role", lambda: time.sleep(0.05))

    def outer_body():
        time.sleep(0.05)
        inner()
        inner()

    outer = tracer._wrap("operators.dedup", outer_body, "dedup")
    outer()
    assert tracer.calls == {"operators.dedup": 1, "schema.with_role": 2}
    assert 0.09 < tracer.self_s["schema.with_role"] < 0.2
    assert 0.04 < tracer.self_s["operators.dedup"] < 0.09
    # the family property is set on entry and cleared on exit
    assert tracer.sc.props == [("perfbench.family", "dedup"), ("perfbench.family", None)]


def test_tail_has_ten_samples_beyond_it():
    samples = [float(i) for i in range(1, 41)]
    value, pct = run.tail(samples)
    assert sum(s > value for s in samples) == 10
    assert (value, pct) == (30.0, 75)
    assert run.tail([3.0, 1.0, 2.0]) == (3.0, 100)


def test_cpu_time_survives_an_exiting_worker():
    # pid 30 (a worker) exits between the reads and takes its ticks along
    before = {10: 500, 20: 300, 30: 900}
    after = {10: 600, 20: 350, 40: 50}
    assert run.cpu_s_between(before, after) * os.sysconf("SC_CLK_TCK") == 200


def test_best_pass_sums_each_operations_minimum():
    ops = [({"name": n, "wall_s": w}, None) for n, w in
           [("a", 3.0), ("b", 1.0), ("a", 2.0), ("b", 4.0), ("a", 5.0), ("b", 1.5)]]
    assert run.best_pass(ops, lambda row: row["wall_s"]) == 3.0


def _result(traced: bool, cpus: str = "4") -> dict:
    return {"stamp": {"nproc": 4, "SPARK_GRAFT_CPUS": cpus, "traced": traced,
                      "workload": "omics_ingest"},
            "end_to_end": {"wall_s": 1.0}}


def test_compare_refuses_mixed_cores_and_trace_modes():
    bounds = {"wall_s": 0.25}
    assert compare.compare([_result(False)], [_result(False)], bounds)
    for a, b in (([_result(False)], [_result(False, "2")]),
                 ([_result(False), _result(True)], [_result(False)]),
                 ([_result(True)], [_result(False)])):
        with pytest.raises(SystemExit):
            compare.compare(a, b, bounds)
