"""Span self time, job/stage attribution and held spans, without Spark.

    python3 -m pytest perfbench/tests/test_tracing.py -q
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tracing import (  # noqa: E402
    Span,
    Tracer,
    attribute,
    layer_metrics,
    self_times,
)

SPANS = [
    Span(1, "op", 0.0, None, "r", end=10.0),
    Span(2, "store", 1.0, 1, "r", end=5.0),
    Span(3, "features", 1.5, 2, "r", end=4.0),
    Span(4, "ml", 6.0, 1, "r", end=9.0),
]


def _job(jid, group, submitted, stage_ids):
    return {"job_id": jid, "group": group, "submitted": submitted,
            "stage_ids": stage_ids, "failed_tasks": 0}


def _stage(sid, submitted, run_ms, shuffle=0, failed=0):
    return {"stage_id": sid, "attempt": 0, "submitted": submitted,
            "num_tasks": 4, "run_ms": run_ms, "shuffle_write_bytes": shuffle,
            "spill_bytes": 0, "failed_tasks": failed}


JOBS = [
    _job(0, "perfbench-span-3", 2.0, [0, 1]),
    # a streaming query's own group: attributed by submission time
    _job(1, "stream-run-id", 7.0, [2]),
    # lists stage 1 again (a reused shuffle); stage 1 ran under job 0
    _job(2, "perfbench-span-2", 4.5, [1, 3]),
]
STAGES = [
    _stage(0, 2.0, 4000, shuffle=2**20),
    _stage(1, 2.1, 1000),
    _stage(2, 7.0, 3000, failed=1),
    _stage(3, 4.6, 500),
]


def test_self_time_excludes_children():
    assert self_times(SPANS) == {1: 3.0, 2: 1.5, 3: 2.5, 4: 3.0}


def test_jobs_and_stages_attributed_to_spans():
    jobs, stages = attribute(SPANS, JOBS, STAGES)
    assert jobs == {0: 3, 1: 4, 2: 2}
    assert stages == {(0, 0): 3, (1, 0): 3, (2, 0): 4, (3, 0): 2}


def test_layer_metrics_per_operation():
    m, _ = layer_metrics(SPANS, JOBS, STAGES, cores=4, n_ops=1)
    assert m["features.busy_s"] == (2.5, "s")
    assert m["features.task_s"] == (5.0, "s")
    assert m["features.slot_util"] == (0.5, "ratio")
    assert m["features.shuffle_mb"] == (1.0, "MB")
    assert m["ml.failed_tasks"] == (1.0, "count")
    assert m["store.task_s"] == (0.5, "s")
    assert m["cc.busy_s"] == (0.0, "s")
    assert m["cc.slot_util"] == (0.0, "ratio")


class _FakeContext:
    def __init__(self):
        self.groups = []
        self._jsc = self

    def setJobGroup(self, group, description):
        self.groups.append(group)

    def clearJobGroup(self):
        self.groups.append(None)


class _FakeFrame:
    def __init__(self, log):
        self.log = log

    def localCheckpoint(self, eager=True):
        self.log.append("checkpoint")
        return self


def test_held_span_ends_when_the_caller_checkpoints():
    tracer = Tracer(_FakeContext())
    log = []
    build = tracer.wrap(lambda x: _FakeFrame(log), "assign", held=True)
    with tracer.span("ingest"):
        out = build(1)
        (assign,) = [sp for sp in tracer.spans if sp.name == "assign"]
        assert assign.end is None
        out.localCheckpoint(eager=True)
        assert log == ["checkpoint"]  # the engine's own checkpoint, once
        assert assign.end is not None
    assert tracer.last_args["assign"] == (1,)


def test_ending_a_span_ends_the_spans_left_open_inside_it():
    tracer = Tracer(_FakeContext())
    build = tracer.wrap(lambda: _FakeFrame([]), "signatures", held=True)
    with tracer.span("ingest") as ingest:
        build()  # never checkpointed
    (sig,) = [sp for sp in tracer.spans if sp.name == "signatures"]
    assert sig.end == ingest.end
    assert tracer.sc.groups[-1] is None
