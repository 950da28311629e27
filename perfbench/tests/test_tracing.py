"""Tests of the benchmark's own instruments (no Spark needed).

Run: python -m pytest perfbench/tests -q
"""

import os

import numpy as np
import pandas as pd
import pytest

from perfbench import tracing
from perfbench.checks import GroupedValues, quantile_errors

DATA = os.path.join(os.path.dirname(__file__), "data", "eventlog.jsonl")


def _log():
    with open(DATA) as fh:
        return tracing.parse_event_log(fh)


def test_event_log_parser_reads_jobs_tasks_and_python_bytes():
    log = _log()
    assert sorted(log.jobs) == [0, 1, 2, 3]
    assert log.jobs[1].group == "pb|0|call|operators.agg.tdigest_agg"
    assert (log.jobs[2].submit_ms, log.jobs[2].end_ms) == (2200, 2600)
    assert log.stage_job == {0: 0, 1: 1, 2: 2, 3: 2, 4: 3}
    assert len(log.tasks) == 7
    t = [t for t in log.tasks if t.stage == 2]
    assert [x.py_sent for x in t] == [1000, 3000, 0]
    assert [x.py_received for x in t] == [300, 700, 0]
    assert [x.failed for x in t] == [False, False, True]
    shuffle_read = [x.shuffle_read for x in log.tasks if x.stage == 3]
    assert shuffle_read == [10000]


def test_attribution_groups_by_job_group_not_stage_names():
    eng = tracing.attribute(_log())
    assert set(eng) == {0, 1}  # the set-up job is nobody's operation
    op = eng[0]
    assert (op.jobs, op.probe_jobs, op.stages, op.tasks) == (2, 1, 3, 5)
    assert op.failed_tasks == 1
    assert op.run_s == pytest.approx(0.62)
    assert op.cpu_s == pytest.approx(0.491)
    assert op.gc_s == pytest.approx(0.025)
    assert (op.shuffle_write, op.shuffle_read, op.spill) == (10000, 10000,
                                                             64)
    assert op.result_bytes == 5220
    assert (op.py_sent, op.py_received) == (4000, 1000)
    # union of [2000, 2100] and [2200, 2600] ms
    assert op.job_busy_s == pytest.approx(0.5)
    # longest stage (2): max 300 ms over median 100 ms
    assert op.task_skew == pytest.approx(3.0)
    assert op.fn_jobs == {"operators.agg.tdigest_agg": 1, "toPandas": 1}
    assert (eng[1].jobs, eng[1].probe_jobs, eng[1].task_skew) == (1, 0, 1.0)


def test_layer_metrics_are_means_per_operation():
    spans = [
        tracing.Span("operators.agg.tdigest_agg", 2.0, 2.3, "a", 0),
        tracing.Span("action:toPandas", 2.3, 2.7, "a", 0),
        tracing.Span("a", 1.9, 2.7, None, 0),
        tracing.Span("action:collect", 3.0, 3.1, "b", 1),
        tracing.Span("b", 3.0, 3.1, None, 1),
    ]
    samples = [("a", 0.8, None), ("b", 0.1, None)]
    out, per_type, per_fn = tracing.layer_metrics(_log(), spans, samples,
                                                  cores=4)
    assert out["spark.jobs"] == 1.5
    assert out["ops.probe_jobs"] == 0.5
    assert out["ops.plan_s"] == pytest.approx(0.15)
    assert out["ops.action_s"] == pytest.approx(0.25)
    assert out["arrow.bytes_to_python"] == 2000
    # op 0: 0.8 s wall, 0.5 s inside jobs; op 1: 0.1 s wall, 0.05 s
    assert out["driver.idle_s"] == pytest.approx((0.3 + 0.05) / 2)
    assert out["spark.slot_busy_ratio"] == pytest.approx(0.66 / (0.9 * 4))
    assert per_type["a"]["spark.jobs"] == 2
    assert per_type["b"]["spark.jobs"] == 1
    assert per_type["a"]["driver.idle_s"] == pytest.approx(0.3)
    fn = per_fn["operators.agg.tdigest_agg"]
    assert fn["calls"] == 1 and fn["probe_jobs"] == 1
    assert fn["plan_s"] == pytest.approx(0.3)
    assert fn["action_s"] == pytest.approx(0.4)
    assert set(out) <= set(tracing.LAYER_UNITS)


@pytest.mark.parametrize("n, pct, beyond", [
    (2000, 99.0, 20),  # 99.9 has only 2 beyond
    (1000, 99.0, 10),
    (100, 90.0, 10),
    (60, 75.0, 15),
    (40, 75.0, 10),
    (39, 50.0, 19),
    (20, 50.0, 10),
])
def test_tail_percentile_keeps_ten_samples_beyond(n, pct, beyond):
    vals = list(range(n, 0, -1))  # order must not matter
    p, v, b = tracing.tail_percentile(vals)
    assert (p, b) == (pct, beyond)
    assert sum(x > v for x in vals) == b >= 10


def test_tail_percentile_with_few_samples():
    p, v, b = tracing.tail_percentile(list(range(1, 16)))
    assert (v, b) == (5, 10) and p == pytest.approx(100 * 5 / 15)
    p, v, b = tracing.tail_percentile([3.0, 1.0, 2.0])
    assert (p, v, b) == (100.0, 3.0, 0)


class FakeContext:
    def __init__(self):
        self.groups = []

    def setJobGroup(self, gid, desc):
        self.groups.append(gid)


def test_tracer_tags_calls_and_actions_with_op_groups():
    sc = FakeContext()
    tr = tracing.Tracer(sc, enabled=True)
    start = tr.begin_op(7, "tdigest_agg")

    def action():
        return tr.action("toPandas", lambda: 42)

    assert tr.call("operators.agg.tdigest_agg", action) == 42
    tr.end_op("tdigest_agg", start)
    assert sc.groups == [
        "pb|7|call|operators.agg.tdigest_agg",
        "pb|7|action|toPandas",
        "pb|idle",
    ]
    assert [tracing.parse_group(g) for g in sc.groups] == [
        (7, "call", "operators.agg.tdigest_agg"),
        (7, "action", "toPandas"),
        None,
    ]
    names = [s.name for s in tr.spans]
    assert names == ["action:toPandas", "operators.agg.tdigest_agg",
                     "tdigest_agg"]
    assert [s.op_id for s in tr.spans] == [7, 7, 7]
    assert tr.last_action_end is not None


def test_disabled_tracer_only_calls_through():
    sc = FakeContext()
    tr = tracing.Tracer(sc, enabled=False)
    start = tr.begin_op(0, "x")
    assert tr.call("f", lambda a: a + 1, 1) == 2
    assert tr.action("collect", lambda: "ok") == "ok"
    tr.end_op("x", start)
    assert sc.groups == [] and tr.spans == []
    assert tr.last_action_end is not None


def test_parse_group_rejects_foreign_groups():
    assert tracing.parse_group(None) is None
    assert tracing.parse_group("user-group") is None
    assert tracing.parse_group("pb|aux|identity") is None
    assert tracing.parse_group("pb|3|call|a|b") == (3, "call", "a|b")


def test_rank_error_midpoint_convention():
    vals = np.array([1.0, 2.0, 2.0, 3.0, 10.0, 20.0])
    keys = pd.Series(["a"] * 4 + ["b"] * 2)
    ref = GroupedValues.build(keys, vals)
    # a = [1, 2, 2, 3]: 2 covers ranks [1/4, 3/4]; 2.5 lies between the
    # mid-ranks of 2 (0.5) and 3 (0.875)
    errs = quantile_errors(ref, ["a", "a"], [[2.0, 2.5], [1.0, 3.0]],
                           [0.7, 0.9])
    np.testing.assert_allclose(errs, [0.0, 0.025, 0.45, 0.0])
    # b = [10, 20]: an answer outside the data is rank 0 or 1
    errs = quantile_errors(ref, ["b"], [[5.0, 25.0]], [0.1, 0.9])
    np.testing.assert_allclose(errs, [0.1, 0.1])


def test_descendants_and_rss_cover_child_processes():
    import subprocess
    import sys

    child = subprocess.Popen([sys.executable, "-c",
                              "import time; time.sleep(30)"])
    try:
        assert child.pid in tracing.descendants(os.getpid())
        with tracing.RssSampler() as rss:
            pass
        assert rss.peak_bytes > 0
    finally:
        child.kill()
        child.wait(timeout=10)
    assert child.pid not in tracing.descendants(os.getpid())
