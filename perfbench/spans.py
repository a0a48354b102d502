"""Spans around the calls into each layer of clusterforge_spark.

A span has a name (``<layer>.<function>``, with a ``.plan`` suffix for
functions that only build a lazy DataFrame), a start, an end, a parent and
a request id shared by every span of one benchmark operation. Each span
also runs its Spark jobs under its own job group, so the jobs, stages and
tasks it launched directly can be read back from the status tracker.

Spans come from wrapping module attributes that the composition layers
call (``patched``); the wrappers call the original and return its result
unchanged. Spans stay in memory and are written out once, at the end.
"""

from __future__ import annotations

import contextlib
import importlib
import json
import time
from dataclasses import asdict, dataclass

#: (module, attribute, span name) wrapped during a traced run: the layer
#: boundaries the two workloads cross. Callers reach these through the
#: module attribute, so one patch covers both the benchmark's own calls
#: and the calls between layers.
TARGETS = (
    ("clusterforge_spark.sources.readers", "load_table", "sources.load_table.plan"),
    ("clusterforge_spark.operators.features", "compute_rfm", "features.compute_rfm.plan"),
    ("clusterforge_spark.pipeline", "run_full_pipeline", "pipeline.run_full_pipeline"),
    ("clusterforge_spark.pipeline", "run_prediction", "pipeline.run_prediction"),
    ("clusterforge_spark.operators.clustering", "predict_point", "clustering.predict_point"),
    ("clusterforge_spark.model_store", "save_model", "model_store.save_model"),
    ("clusterforge_spark.model_store", "model_exists", "model_store.model_exists"),
    ("clusterforge_spark.model_store", "load_model", "model_store.load_model"),
    ("clusterforge_spark.model_store", "ensure_artifact", "model_store.ensure_artifact"),
    ("clusterforge_spark.operators.similarity", "ivf_kcell_topk", "similarity.ivf_kcell_topk.plan"),
    ("clusterforge_spark.curation", "run_curation_pipeline", "curation.run_curation_pipeline"),
    ("clusterforge_spark.curation", "funnel_gate_labels", "text.funnel_gate_labels.plan"),
    ("clusterforge_spark.operators.dedup", "dedup_minhash_banded", "dedup.dedup_minhash_banded"),
    ("clusterforge_spark.operators.dedup", "dedup_canonical", "dedup.dedup_canonical"),
)


@dataclass
class Span:
    id: int
    parent: int | None
    req: int
    name: str
    start: float
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


class Tracer:
    """In-memory span recorder. ``enabled=False`` makes every span a no-op,
    so the untraced phase pays nothing but a context-manager call."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._unresolved: list[Span] = []
        self._seen_stages: set[int] = set()
        self._req = 0
        self._t0 = time.perf_counter()
        #: latest return value of each wrapped function, by span name
        self.last_result: dict = {}
        #: time spent in span entry/exit, i.e. the tracing overhead
        self.bookkeeping_s = 0.0

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        if parent is None:
            self._req += 1
        s = Span(
            id=len(self.spans),
            parent=parent.id if parent else None,
            req=self._req,
            name=name,
            start=0.0,
        )
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(f"perfbench-{s.id}", name)
        s.start = time.perf_counter() - self._t0
        self.bookkeeping_s += s.start + self._t0 - t_in
        try:
            yield s
        finally:
            t_out = time.perf_counter()
            s.end = t_out - self._t0
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(f"perfbench-{parent.id}", parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self._unresolved.append(s)
            self.bookkeeping_s += time.perf_counter() - t_out

    def resolve(self) -> None:
        """Read each finished span's jobs, stages and tasks from the status
        tracker. Called between operations, so its py4j calls fall in no
        operation's time. A stage that later jobs reuse is counted once,
        for the span that ran it first."""
        st = self.sc.statusTracker()
        for s in sorted(self._unresolved, key=lambda x: x.id):
            for jid in sorted(st.getJobIdsForGroup(f"perfbench-{s.id}")):
                s.jobs += 1
                info = st.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    if sid in self._seen_stages:
                        continue
                    si = st.getStageInfo(sid)
                    if si is None or si.numCompletedTasks + si.numFailedTasks == 0:
                        continue
                    self._seen_stages.add(sid)
                    s.stages += 1
                    s.tasks += si.numCompletedTasks + si.numFailedTasks
                    s.failed_tasks += si.numFailedTasks
        self._unresolved.clear()

    def write(self, path: str) -> None:
        """One JSON object per span, with its self time."""
        selft = self_time(self.spans)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**asdict(s), "self_s": selft[s.id]}) + "\n")


@contextlib.contextmanager
def patched(tracer: Tracer, targets=TARGETS):
    """Wrap each target attribute in a span for the duration of the block."""
    saved = []

    def wrap(fn, name):
        def traced(*args, **kwargs):
            with tracer.span(name):
                out = fn(*args, **kwargs)
            tracer.last_result[name] = out
            return out

        traced.__wrapped__ = fn
        return traced

    try:
        for mod_name, attr, name in targets:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr)
            saved.append((mod, attr, orig))
            setattr(mod, attr, wrap(orig, name))
        yield
    finally:
        for mod, attr, orig in reversed(saved):
            setattr(mod, attr, orig)


def self_time(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the time its children cover. The
    benchmark is single-threaded, so children never overlap."""
    out = {s.id: s.dur for s in spans}
    for s in spans:
        if s.parent is not None:
            out[s.parent] -= s.dur
    return out


def inclusive(spans: list[Span], attr: str) -> dict[int, int]:
    """Span id -> ``attr`` summed over the span and its descendants."""
    out = {s.id: getattr(s, attr) for s in spans}
    for s in sorted(spans, key=lambda x: -x.id):  # children after parents
        if s.parent is not None:
            out[s.parent] += out[s.id]
    return out
