"""Layer tracing for the benchmark's traced run.

Spans are recorded from the benchmark's own files, around calls into
the engine's public functions; nothing inside the engine is changed.
Each span carries a name (the layer), start and end times, its parent
span and the run id of the operation it belongs to.  While a span is
open, the Spark job group is set to the span's id, so the engine's own
counters (``SparkContext`` status store: jobs and stages with executor
run time, shuffle write, spill, output bytes and failed tasks) can be
attributed to the innermost span that submitted them.  Jobs submitted
under another group (the Structured Streaming thread sets its own) are
attributed by submission time to the innermost open span.

Spark plans are lazy, so a layer's work runs when something forces it.
The benchmark therefore times layers where they are forced: in the
supervised pipeline ``TracedStageStore`` opens the layer's span around
the stage write and hands the read-back and manifest to the ``store``
span; in the streaming drain the micro-batch fold checkpoints the
result of each wrapped call right away, and the call's span stays open
until that checkpoint returns; the dense workload materializes each
layer inside the span it opens itself.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time
from dataclasses import asdict, dataclass, field

#: layers reported by the traced run, in pipeline order
LAYERS = (
    "signatures", "tfidf", "blocking", "features", "ml", "cc", "store",
    "assign", "ingest",
)

#: StageStore stage name -> layer whose plan the stage write executes
STAGE_LAYER = {
    "transcripts": "store",
    "entities_truth": "store",
    "signatures": "signatures",
    "tfidf_terms": "tfidf",
    "labeled_pairs": "blocking",
    "pair_features": "features",
    "scored_pairs": "ml",
    "error_analysis": "ml",
    "clusters": "cc",
}

_PIPELINE = "pubmed_and_method_spark.plans.pipeline"
_STREAMING = "pubmed_and_method_spark.streaming.incremental"

#: (module, attribute, layer, held) wrapped in the traced run only:
#: the eager calls of ``run_pipeline`` (its lazy layers are timed by
#: ``TracedStageStore``) and the two layer calls of the streaming fold.
#: ``held``: the caller checkpoints the returned DataFrame at once (the
#: fold does, for both), and the span stays open until that
#: ``localCheckpoint`` returns, so the layer's work is timed in the
#: layer without running it a second time.
WRAPPED = (
    (_PIPELINE, "fit_match_classifier", "ml", False),
    (_PIPELINE, "pairwise_metrics", "ml", False),
    (_PIPELINE, "connected_components", "cc", False),
    (_STREAMING, "build_signatures", "signatures", True),
    ("pubmed_and_method_spark.operators.incremental_assign",
     "assign_to_clusters", "assign", True),
)

_GROUP_PREFIX = "perfbench-span-"


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    parent: int | None
    run_id: str
    end: float | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder.

    The benchmark drives one layer call at a time; a streaming drain
    runs its micro-batch callback on another thread while the caller
    waits.  One stack shared by all threads (guarded by a lock)
    therefore nests the callback's spans under the drain's span.
    """

    def __init__(self, sc, run_id: str = ""):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        #: positional arguments of the latest wrapped call, per layer
        self.last_args: dict[str, tuple] = {}
        #: time spent recording spans and setting job groups
        self.bookkeeping_s = 0.0

    def start(self, name: str, **attrs) -> Span:
        t0 = time.perf_counter()
        with self._lock:
            parent = self._stack[-1].span_id if self._stack else None
            sp = Span(next(self._ids), name, time.time(), parent,
                      self.run_id, attrs=attrs)
            self.spans.append(sp)
            self._stack.append(sp)
        self.sc.setJobGroup(f"{_GROUP_PREFIX}{sp.span_id}", name)
        self.bookkeeping_s += time.perf_counter() - t0
        return sp

    def end(self, sp: Span) -> None:
        """End ``sp`` and any span still open inside it (a held span
        whose DataFrame was never checkpointed)."""
        if sp.end is not None:
            return
        t0 = time.perf_counter()
        sp.end = time.time()
        with self._lock:
            if sp in self._stack:
                at = self._stack.index(sp)
                for inner in self._stack[at + 1:]:
                    inner.end = sp.end
                del self._stack[at:]
            top = self._stack[-1] if self._stack else None
        if top is None:
            self.sc._jsc.clearJobGroup()
        else:
            self.sc.setJobGroup(f"{_GROUP_PREFIX}{top.span_id}", top.name)
        self.bookkeeping_s += time.perf_counter() - t0

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sp = self.start(name, **attrs)
        try:
            yield sp
        finally:
            self.end(sp)

    def wrap(self, fn, layer: str, held: bool = False):
        def traced(*args, **kwargs):
            self.last_args[layer] = args
            sp = self.start(layer, call=fn.__name__)
            try:
                out = fn(*args, **kwargs)
            except BaseException:
                self.end(sp)
                raise
            if not held:
                self.end(sp)
                return out
            checkpoint = out.localCheckpoint

            def checkpoint_then_end(*a, **k):
                try:
                    return checkpoint(*a, **k)
                finally:
                    self.end(sp)

            out.localCheckpoint = checkpoint_then_end
            return out

        traced.__wrapped__ = fn
        return traced


@contextlib.contextmanager
def wrappers_installed(tracer: Tracer):
    """Replace each ``WRAPPED`` module attribute with a traced wrapper
    for the duration of the block, then restore the original."""
    import importlib

    saved = []
    for mod_name, attr, layer, held in WRAPPED:
        mod = importlib.import_module(mod_name)
        fn = getattr(mod, attr)
        saved.append((mod, attr, fn))
        setattr(mod, attr, tracer.wrap(fn, layer, held))
    try:
        yield
    finally:
        for mod, attr, fn in saved:
            setattr(mod, attr, fn)


def traced_stage_store(tracer: Tracer, spark, root: str):
    """A ``StageStore`` whose ``run_stage`` records a ``store`` span
    per stage, with the stage's layer as a child span covering the
    build and the stage write (where the layer's plan executes).  The
    child span closes when the store first reads the written table
    back, so the read-back, row counts and manifest are the store's
    own time."""
    from pubmed_and_method_spark.plans.checkpoint import StageStore

    class _Session:
        """Delegates to the session; ``read`` marks the end of the
        stage write."""

        def __init__(self, store):
            self._store = store

        def __getattr__(self, name):
            return getattr(spark, name)

        @property
        def read(self):
            self._store._close_layer()
            return spark.read

    class TracedStageStore(StageStore):
        def __init__(self):
            super().__init__(_Session(self), root)
            self._layer_span: Span | None = None

        def _close_layer(self):
            if self._layer_span is not None:
                tracer.end(self._layer_span)
                self._layer_span = None

        def run_stage(self, name, build, inputs=(), params=None,
                      partition_by=()):
            with tracer.span("store", stage=name):
                self._layer_span = tracer.start(
                    STAGE_LAYER.get(name, "store"), stage=name
                )
                try:
                    return super().run_stage(
                        name, build, inputs=inputs, params=params,
                        partition_by=partition_by,
                    )
                finally:
                    self._close_layer()

    return TracedStageStore()


# -- engine counters ---------------------------------------------------


def _opt(o):
    return o.get() if o.isDefined() else None


def _epoch_s(date_opt):
    d = _opt(date_opt)
    return d.getTime() / 1000.0 if d is not None else None


def last_job_id(sc) -> int:
    return sc._jsc.sc().statusStore().jobsList(None).size() - 1


def read_engine_counters(sc, after_job: int = -1) -> tuple[list, list]:
    """(jobs, stages) from the SparkContext status store, as dicts, for
    jobs with an id above ``after_job`` and the stages they ran.

    The status store is fed by the listener bus, so this works with
    ``spark.ui.enabled=false``."""
    store = sc._jsc.sc().statusStore()
    jobs = []
    jl = store.jobsList(None)
    for i in range(jl.size()):
        j = jl.apply(i)
        if j.jobId() <= after_job:
            continue
        ids = j.stageIds().mkString(",")
        jobs.append({
            "job_id": j.jobId(),
            "group": _opt(j.jobGroup()),
            "submitted": _epoch_s(j.submissionTime()),
            "stage_ids": [int(s) for s in ids.split(",") if s],
            "failed_tasks": j.numFailedTasks(),
        })
    wanted = {s for j in jobs for s in j["stage_ids"]}
    stages = []
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    sl = store.stageList(None, False, False, no_quantiles, None)
    for i in range(sl.size()):
        s = sl.apply(i)
        if s.stageId() not in wanted:
            continue
        status = s.status().toString()
        if status == "SKIPPED":
            continue
        stages.append({
            "stage_id": s.stageId(),
            "attempt": s.attemptId(),
            "status": status,
            "submitted": _epoch_s(s.submissionTime()),
            "num_tasks": s.numTasks(),
            "run_ms": s.executorRunTime(),
            "shuffle_write_bytes": s.shuffleWriteBytes(),
            "spill_bytes": s.diskBytesSpilled(),
            "output_bytes": s.outputBytes(),
            "failed_tasks": s.numFailedTasks(),
        })
    return jobs, stages


def task_skew(sc, stage: dict) -> float:
    """Longest task over median task executor run time of one stage."""
    q = sc._gateway.new_array(sc._jvm.double, 2)
    q[0], q[1] = 0.5, 1.0
    dist = sc._jsc.sc().statusStore().taskSummary(
        stage["stage_id"], stage["attempt"], q
    )
    if not dist.isDefined():
        return 1.0
    run = dist.get().executorRunTime()
    median, longest = run.apply(0), run.apply(1)
    return longest / max(median, 1.0)


# -- per-layer derivation ----------------------------------------------


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of it its child spans cover."""
    child_s: dict[int, float] = {}
    for sp in spans:
        if sp.parent is not None and sp.end is not None:
            child_s[sp.parent] = child_s.get(sp.parent, 0.0) + (
                sp.end - sp.start
            )
    return {
        sp.span_id: max(0.0, (sp.end - sp.start) - child_s.get(sp.span_id, 0.0))
        for sp in spans
        if sp.end is not None
    }


def attribute(spans: list[Span], jobs: list, stages: list):
    """(job id -> span id, stage (id, attempt) -> span id).

    A job belongs to the span whose job group it carries; a job under
    another group (a streaming query's) to the innermost span open when
    it was submitted.  A stage belongs to the latest job that lists it
    and was submitted no later than the stage."""
    by_id = {sp.span_id: sp for sp in spans}

    def innermost(t):
        best = None
        for sp in spans:
            if sp.start <= t and (sp.end is None or t <= sp.end):
                if best is None or sp.start >= best.start:
                    best = sp
        return best.span_id if best else None

    job_span = {}
    for j in jobs:
        g = j["group"] or ""
        sid = None
        if g.startswith(_GROUP_PREFIX):
            sid = int(g[len(_GROUP_PREFIX):])
            if sid not in by_id:
                sid = None
        if sid is None and j["submitted"] is not None:
            sid = innermost(j["submitted"])
        job_span[j["job_id"]] = (sid, j["submitted"] or 0.0)
    owner = {}
    for j in jobs:
        for st in j["stage_ids"]:
            owner.setdefault(st, []).append(j["job_id"])
    out = {}
    for s in stages:
        cands = sorted(owner.get(s["stage_id"], ()))
        chosen = None
        for jid in cands:
            if s["submitted"] is None or job_span[jid][1] <= s["submitted"] + 1e-3:
                chosen = jid
        if chosen is None and cands:
            chosen = cands[0]
        if chosen is not None:
            out[(s["stage_id"], s["attempt"])] = job_span[chosen][0]
    return {jid: v[0] for jid, v in job_span.items()}, out


def layer_metrics(
    spans: list[Span], jobs: list, stages: list, cores: int, n_ops: int
) -> tuple[dict, dict]:
    """Per-layer busy (self) time, task time, slot utilization, shuffle
    and spill volume and failed tasks, each per operation; plus the
    stages each layer ran (for skew probes)."""
    n_ops = max(n_ops, 1)
    by_id = {sp.span_id: sp for sp in spans}
    selft = self_times(spans)
    acc = {
        layer: {"busy_s": 0.0, "task_s": 0.0, "shuffle_b": 0, "spill_b": 0,
                "failed": 0, "jobs": 0}
        for layer in LAYERS
    }
    for sid, t in selft.items():
        name = by_id[sid].name
        if name in acc:
            acc[name]["busy_s"] += t
    job_owner, stage_owner = attribute(spans, jobs, stages)
    layer_stages: dict[str, list] = {layer: [] for layer in LAYERS}
    for s in stages:
        sid = stage_owner.get((s["stage_id"], s["attempt"]))
        name = by_id[sid].name if sid in by_id else None
        if name not in acc:
            continue
        a = acc[name]
        a["task_s"] += s["run_ms"] / 1000.0
        a["shuffle_b"] += s["shuffle_write_bytes"]
        a["spill_b"] += s["spill_bytes"]
        a["failed"] += s["failed_tasks"]
        layer_stages[name].append(s)
    for sid in job_owner.values():
        name = by_id[sid].name if sid in by_id else None
        if name in acc:
            acc[name]["jobs"] += 1
    out = {}
    for layer, a in acc.items():
        busy = a["busy_s"] / n_ops
        task = a["task_s"] / n_ops
        out[f"{layer}.busy_s"] = (busy, "s")
        out[f"{layer}.task_s"] = (task, "s")
        out[f"{layer}.slot_util"] = (
            task / (busy * cores) if busy > 0 else 0.0, "ratio"
        )
        out[f"{layer}.shuffle_mb"] = (a["shuffle_b"] / n_ops / 2**20, "MB")
        out[f"{layer}.spill_mb"] = (a["spill_b"] / n_ops / 2**20, "MB")
        out[f"{layer}.failed_tasks"] = (a["failed"] / n_ops, "count")
    out["cc.jobs"] = (acc["cc"]["jobs"] / n_ops, "count")
    return out, layer_stages


def write_trace(path: str, tracer: Tracer, jobs: list, stages: list,
                extra: dict) -> None:
    selft = self_times(tracer.spans)
    doc = {
        **extra,
        "spans": [
            {**asdict(sp), "self_s": selft.get(sp.span_id)}
            for sp in tracer.spans
        ],
        "jobs": jobs,
        "stages": stages,
    }
    with open(path, "w") as f:
        json.dump(doc, f, indent=1, default=str)
