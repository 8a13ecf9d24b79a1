"""Spans around calls into the engine's layers, with Spark work per span.

A span is one public call: name, start, end, parent span and pass id. Spans
stay in memory and are written out once, at the end of a run. Spark work is
attributed by giving each span its own job group (``sc.setJobGroup``); once
the run is over, the public ``StatusTracker`` gives the jobs, stages and
task counts of each group, and the JVM status store gives executor CPU, GC,
shuffle and spill bytes of each stage. Neither needs the Spark UI.
"""

from __future__ import annotations

import functools
import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

# per-stage counters read from the JVM status store: name -> (getter, scale)
STAGE_COUNTERS = {
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spill_bytes": ("diskBytesSpilled", 1),
}
SPARK_COUNTERS = ("spark_jobs", "tasks", "failed_tasks") + tuple(STAGE_COUNTERS)
# a span's layer is its name up to the first dot
LAYERS = ("session", "catalog", "pages", "pagerank", "checkpoint",
          "components", "label_propagation", "triangles", "prism",
          "components_incr", "triangles_incr")
LAYER_STATS = (
    "catalog.read_s", "catalog.commit_s", "catalog.commit_bytes",
    "catalog.snapshot_files", "pages.edges", "pages.vertices",
    "pagerank.sweeps", "pagerank.sweep_s", "pagerank.prepare_s",
    "pagerank.sweep_edges_per_s", "checkpoint.snapshots", "checkpoint.bytes",
    "components.rounds", "prism.supersteps", "prism.frontier_sum",
    "prism.frontier_max", "prism.delta_rows", "components_incr.frontier_init")


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    pass_id: str
    start: float
    end: float = 0.0
    spark: dict = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def group(self) -> str:
        return f"linkbench-span-{self.id}"


def self_time(span: Span, spans: list[Span]) -> float:
    """The span's duration minus the part of it its children cover."""
    kids = sorted((max(c.start, span.start), min(c.end, span.end))
                  for c in spans if c.parent == span.id)
    covered, reach = 0.0, span.start
    for lo, hi in kids:
        lo = max(lo, reach)
        if hi > lo:
            covered += hi - lo
            reach = hi
    return (span.end - span.start) - covered


class Tracer:
    """Records spans while ``enabled``; otherwise ``span`` costs one branch.

    ``sc`` (a SparkContext) is optional so the span bookkeeping can be used
    without Spark.
    """

    def __init__(self, sc=None) -> None:
        self.sc = sc
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, pass_id: str):
        if not self.enabled:
            yield None
            return
        s = Span(id=len(self.spans), name=name,
                 parent=self._stack[-1].id if self._stack else None,
                 pass_id=pass_id, start=time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def wrap(self, owner, attr: str, name: str):
        """Put a span around every call of ``owner.attr`` (a method the
        engine calls internally); returns a function that undoes it."""
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def traced(*args, **kwargs):
            pass_id = tracer._stack[-1].pass_id if tracer._stack else "-"
            with tracer.span(name, pass_id):
                return original(*args, **kwargs)

        setattr(owner, attr, traced)
        return lambda: setattr(owner, attr, original)

    def _set_group(self, s: Span | None) -> None:
        if self.sc is None:
            return
        if s is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(s.group, s.name)

    def collect_spark_work(self) -> None:
        """Fill ``span.spark`` with the Spark work of each span's own jobs.

        Call once, after the last traced call: the status store is updated
        from the listener bus, which is drained first."""
        if self.sc is None or not self.spans:
            return
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = jsc.statusStore()
        seen: set[int] = set()
        for s in self.spans:
            work = dict.fromkeys(SPARK_COUNTERS, 0)
            for job_id in tracker.getJobIdsForGroup(s.group):
                info = tracker.getJobInfo(job_id)
                if info is None:
                    continue
                work["spark_jobs"] += 1
                for stage_id in info.stageIds:
                    if stage_id in seen:
                        continue
                    seen.add(stage_id)
                    st = tracker.getStageInfo(stage_id)
                    if st is not None:
                        work["tasks"] += st.numCompletedTasks + st.numFailedTasks
                        work["failed_tasks"] += st.numFailedTasks
                    data = store.lastStageAttempt(stage_id)
                    for key, (getter, scale) in STAGE_COUNTERS.items():
                        work[key] += getattr(data, getter)() * scale
            s.spark = work

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) | {"self_s": self_time(s, self.spans)}
                       for s in self.spans], fh)


def layer_metrics(spans: list[Span], stats: dict[str, dict[str, float]],
                  traced: list[str]) -> dict[str, float]:
    """Per-layer metrics: the median over traced passes of each layer's
    per-pass total (the session layer: its one set-up span), plus the
    program's own counts per pass (``stats``)."""
    per: dict[str, dict[str, float]] = {}
    for s in spans:
        d = per.setdefault(s.pass_id, {})
        for key, value in [("self_s", self_time(s, spans))] + list(
                s.spark.items()):
            name = f"{s.layer}.{key}"
            d[name] = d.get(name, 0.0) + value
        if s.name in ("catalog.read", "catalog.commit"):
            name = f"{s.name}_s"
            d[name] = d.get(name, 0.0) + (s.end - s.start)
    for p in traced:
        per.setdefault(p, {}).update(stats.get(p, {}))

    def med(name: str, passes: list[str]) -> float:
        vals = [per.get(p, {}).get(name, 0.0) for p in passes]
        return statistics.median(vals) if vals else 0.0

    out = {}
    for layer in LAYERS:
        passes = ["setup"] if layer == "session" else traced
        for key in ("self_s",) + SPARK_COUNTERS:
            out[f"{layer}.{key}"] = med(f"{layer}.{key}", passes)
    for name in LAYER_STATS:
        out[name] = med(name, traced)
    return out
