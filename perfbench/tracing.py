"""Spans around the calls into each layer's public functions, recorded from
outside the package.

``Tracer.install`` replaces each target function (in every loaded
``blurrily_spark`` module that bound it by name) with a wrapper that opens
a span. A span records its layer, the function, its start and end, its
thread and the span that caused it. Each span also gets its own Spark job
group, so after the run :meth:`Tracer.harvest` can read the jobs, tasks,
executor time and shuffle bytes that ran inside it from the in-process
status store (``statusTracker().getJobIdsForGroup`` and
``statusStore().lastStageAttempt``); no event log is needed. Jobs belong to
the innermost open span of the thread that launched them.

A ``builder`` span wraps a call that returns a lazy DataFrame: any job
inside it ran at construction time. An ``action`` span wraps a call (or a
benchmark step) that runs the plan.

Spans stay in memory; :func:`layer_metrics` reduces them when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import itertools
import sys
import threading
import time
from dataclasses import dataclass, field

from pyspark import SparkContext

# layer -> [(module, attribute path, kind)]. Layers are named after modules.
TARGETS: dict[str, list[tuple[str, str, str]]] = {
    "config": [("blurrily_spark.config", "get_spark", "action")],
    "tokenizer": [
        ("blurrily_spark.functions.tokenizer", "with_normalized", "builder"),
        ("blurrily_spark.functions.tokenizer", "normalize", "builder"),
        ("blurrily_spark.functions.tokenizer", "add_trigrams", "builder"),
    ],
    "index": [("blurrily_spark.operators.index", "build_postings", "builder")],
    "find": [
        ("blurrily_spark.operators.find", "find", "builder"),
        ("blurrily_spark.operators.find", "find_one", "builder"),
    ],
    "pairs": [
        ("blurrily_spark.operators.pairs", "candidate_pairs", "builder"),
        ("blurrily_spark.operators.pairs", "rescore_pairs_exact", "builder"),
        ("blurrily_spark.operators.pairs", "meta_blocking_prune", "builder"),
    ],
    "scoring": [
        ("blurrily_spark.operators.scoring", "score_pairs", "builder"),
        ("blurrily_spark.operators.scoring", "match_edges", "builder"),
    ],
    "cluster": [("blurrily_spark.operators.cluster", "assign_entities", "builder")],
    "pipeline": [("blurrily_spark.plans.pipeline", "LinkagePipeline.run", "action")],
    "dedup": [
        ("blurrily_spark.operators.dedup", "near_dedup", "builder"),
        ("blurrily_spark.operators.dedup", "cut_duplicate_spans", "builder"),
    ],
    "corpus": [("blurrily_spark.operators.corpus", "lm_score", "builder")],
    "api": [
        ("blurrily_spark.api", "Map.put", "action"),
        ("blurrily_spark.api", "Map.find", "action"),
        ("blurrily_spark.api", "Map.delete", "action"),
    ],
    "server": [
        ("blurrily_spark.server", "BlurrilyClient.find", "action"),
        ("blurrily_spark.server", "BlurrilyClient.put", "action"),
        ("blurrily_spark.server", "BlurrilyClient.delete", "action"),
    ],
}
LAYERS = tuple(TARGETS)
# The client round trip launches no Spark job itself (the server thread's
# Map call does), so the server layer reports time and calls only.
TIME_ONLY_LAYERS = ("server",)
BUILDER_LAYERS = tuple(
    layer for layer, ts in TARGETS.items() if any(kind == "builder" for *_, kind in ts)
)

@dataclass
class Span:
    layer: str
    name: str
    kind: str
    phase: str
    thread: int
    parent: "Span | None"
    t0: float
    t1: float = 0.0
    group: str | None = None
    jobs: int = 0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_bytes: int = 0
    input_records: int = 0
    harvested: bool = False
    children: list = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return self.t1 - self.t0


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.phase = "setup"
        self.overhead_s = 0.0
        self._stacks: dict[int, list[Span]] = {}
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        self._seen_stages: set[int] = set()
        self._ids = itertools.count(1)

    # -- spans ------------------------------------------------------------

    def _open(self, layer: str, name: str, kind: str) -> Span:
        t = time.perf_counter()
        tid = threading.get_ident()
        with self._lock:
            stack = self._stacks.setdefault(tid, [])
            parent = stack[-1] if stack else self._latest_open(tid)
            span = Span(layer, name, kind, self.phase, tid, parent, 0.0)
            stack.append(span)
            self.spans.append(span)
        if parent is not None:
            parent.children.append(span)
        sc = SparkContext._active_spark_context
        if sc is not None:
            span.group = f"perfbench-{next(self._ids)}"
            sc.setJobGroup(span.group, f"{layer}:{name}")
        span.t0 = time.perf_counter()
        self.overhead_s += span.t0 - t
        return span

    def _latest_open(self, tid: int) -> Span | None:
        # A span opened on a thread with nothing open (the server's handler
        # thread) was caused by the latest span still open elsewhere: the
        # benchmark drives the server with one client, one request at a time.
        latest = None
        for other, stack in self._stacks.items():
            if other != tid and stack and (latest is None or stack[-1].t0 > latest.t0):
                latest = stack[-1]
        return latest

    def _close(self, span: Span) -> None:
        span.t1 = time.perf_counter()
        with self._lock:
            stack = self._stacks[span.thread]
            stack.pop()
            restore = next((s.group for s in reversed(stack) if s.group), None)
        sc = SparkContext._active_spark_context
        if sc is not None and span.group is not None:
            if restore is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            else:
                sc.setJobGroup(restore, "restored")
        self.overhead_s += time.perf_counter() - span.t1

    @contextlib.contextmanager
    def span(self, layer: str, name: str, kind: str = "action"):
        """A span around a benchmark step that belongs to ``layer`` (the
        action that runs a builder's plan, or the warm-up)."""
        s = self._open(layer, name, kind)
        try:
            yield s
        finally:
            self._close(s)

    # -- patching ---------------------------------------------------------

    def _wrap(self, fn, layer: str, name: str, kind: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(layer, name, kind):
                return fn(*args, **kwargs)

        return wrapper

    def install(self) -> None:
        for layer, targets in TARGETS.items():
            for module_name, path, kind in targets:
                module = importlib.import_module(module_name)
                if "." in path:  # a method: patch the class attribute
                    cls_name, attr = path.split(".")
                    owner = getattr(module, cls_name)
                    original = owner.__dict__[attr]
                    self._set(owner, attr, self._wrap(original, layer, path, kind))
                    continue
                original = getattr(module, path)
                wrapper = self._wrap(original, layer, path, kind)
                # functions imported by name elsewhere are bound there too
                for mod in list(sys.modules.values()):
                    if getattr(mod, "__name__", "").startswith("blurrily_spark") and (
                        getattr(mod, path, None) is original
                    ):
                        self._set(mod, path, wrapper)

    def _set(self, owner, attr: str, value) -> None:
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    # -- Spark attribution --------------------------------------------------

    def harvest(self, sc: SparkContext) -> None:
        """Read the Spark work of every closed, unharvested span. Call
        before the context stops: its status store goes with it."""
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        pending = [s for s in self.spans if not s.harvested and s.t1 and s.group]
        by_job = []
        for s in pending:
            for jid in tracker.getJobIdsForGroup(s.group):
                by_job.append((jid, s))
            s.harvested = True
        # a stage reused by a later job is listed again there as skipped:
        # credit it once, to the first job that ran it
        for jid, s in sorted(by_job, key=lambda js: js[0]):
            s.jobs += 1
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                if sid in self._seen_stages:
                    continue
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # never submitted (skipped): nothing ran
                    continue
                self._seen_stages.add(sid)
                s.tasks += sd.numCompleteTasks()
                s.run_s += sd.executorRunTime() / 1e3
                s.cpu_s += sd.executorCpuTime() / 1e9
                s.gc_s += sd.jvmGcTime() / 1e3
                s.shuffle_bytes += sd.shuffleReadBytes() + sd.shuffleWriteBytes()
                s.input_records += sd.inputRecords()


def _self_seconds(span: Span) -> float:
    """Span duration minus the part its children cover."""
    covered, end = 0.0, span.t0
    for c in sorted(span.children, key=lambda c: c.t0):
        lo, hi = max(c.t0, end), min(c.t1, span.t1)
        if hi > lo:
            covered += hi - lo
            end = hi
    return span.seconds - covered


def _outermost(span: Span) -> bool:
    p = span.parent
    while p is not None:
        if p.layer == span.layer:
            return False
        p = p.parent
    return True


def subtree(span: Span):
    yield span
    for c in span.children:
        yield from subtree(c)


def layer_metrics(
    spans: list[Span], n_ops: int, phases: dict[str, tuple[str, int]]
) -> dict[str, float]:
    """``L.s``, ``L.self_s``, ``L.calls`` and the Spark counters per layer.
    A layer named in ``phases`` ({layer: (phase, units)}, e.g. ``config``
    per setup round) is read from that phase and divided by its units;
    every other layer from the measured window, per operation."""
    out: dict[str, float] = {}
    for layer in LAYERS:
        phase, per = phases.get(layer, ("measure", n_ops))
        mine = [s for s in spans if s.layer == layer and s.phase == phase]
        per = max(per, 1)
        out[f"{layer}.s"] = sum(s.seconds for s in mine if _outermost(s)) / per
        out[f"{layer}.self_s"] = sum(_self_seconds(s) for s in mine) / per
        out[f"{layer}.calls"] = len(mine) / per
        if layer in TIME_ONLY_LAYERS:
            continue
        out[f"{layer}.jobs"] = sum(s.jobs for s in mine) / per
        if layer in BUILDER_LAYERS:
            out[f"{layer}.construct_jobs"] = (
                sum(s.jobs for s in mine if s.kind == "builder") / per
            )
        out[f"{layer}.tasks"] = sum(s.tasks for s in mine) / per
        out[f"{layer}.cpu_s"] = sum(s.cpu_s for s in mine) / per
        out[f"{layer}.shuffle_bytes"] = sum(s.shuffle_bytes for s in mine) / per
    return out
