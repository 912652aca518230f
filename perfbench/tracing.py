"""Per-layer tracing for the benchmark.

Spans are recorded from this file only: ``Tracer.install`` replaces the
public functions listed in ``LAYER_CALLS`` (module attributes, so every
``module.func(...)`` call site in the engine goes through the wrapper)
with a wrapper that opens a span. A span is (name, layer, parent, start,
end); spans live in memory and are written out once, at the end of a
traced run. Spans are always recorded, which is cheap: the pipeline
entry points' latencies are read from them. Everything that costs more
(the counters below, and the ``Tracer.inspect`` hooks that read a
written query's Catalyst time and path) runs only while
``Tracer.probing`` is set, in the passes of a traced run that are traced.

Spark counters come from outside the engine as well:

- jobs and stages from the driver's status store (it is populated with
  the UI off), serialized in one py4j call each and attributed to the
  innermost span whose interval holds the job's submission time. Job
  groups are not used because streaming queries overwrite them with
  their run id;
- Catalyst phase times from ``QueryExecution.tracker()``; reading them
  forces the plan, so a traced operation plans its query twice;
- JIT and GC time from the JVM's Compilation and GarbageCollector MXBeans;
- CPU time of the driver JVM and of its Python worker processes from
  ``/proc`` (see ``ProcCpu``).

JIT, GC and CPU are read at both ends of every span of a layer in
``PROBED_LAYERS`` (one operation: a query's build or execution, or a
pipeline entry point) and stored with the span as deltas.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import os
import time
from dataclasses import dataclass, field

#: layer -> [(module, functions)]; ``None`` wraps every public function
LAYER_CALLS: dict[str, list[tuple[str, list[str] | None]]] = {
    "pipeline": [
        (
            "de_project_sprint_etl_spark.pipeline",
            ["load_snapshot", "load_increment", "refresh_marts", "build_retention_mart"],
        )
    ],
    "sources.write": [("de_project_sprint_etl_spark.sources.writers", ["overwrite"])],
    "sources.commit": [
        (
            "de_project_sprint_etl_spark.sources.incremental",
            ["init_view", "append_delta", "merge_upsert", "delete_where", "compact", "gc_orphans"],
        )
    ],
    "sources.publish": [("de_project_sprint_etl_spark.sources.incremental", ["_publish"])],
    "operators": [
        ("de_project_sprint_etl_spark.operators.dims", None),
        ("de_project_sprint_etl_spark.operators.facts", None),
        ("de_project_sprint_etl_spark.operators.retention", None),
    ],
    "functions.iterative": [
        ("de_project_sprint_etl_spark.functions.graph", ["pagerank", "bfs_distances", "label_propagation"]),
        ("de_project_sprint_etl_spark.functions.dedup", ["dup_groups"]),
    ],
    "streaming": [
        (
            "de_project_sprint_etl_spark.streaming.jobs",
            ["run_to_memory", "run_foreach_batch", "ingest_stream_into_view"],
        ),
        # plans/streamq.py drains its streams through writeStream directly,
        # so the blocking wait is wrapped as well
        ("pyspark.sql.streaming.query", ["StreamingQuery.awaitTermination"]),
    ],
}


PROBED_LAYERS = {"plans", "engine", "pipeline"}


def union_s(intervals) -> float:
    """Length of the union of ``(lo, hi)`` intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    return total + (cur_hi - cur_lo if cur_hi is not None else 0.0)


@dataclass
class Span:
    name: str
    layer: str
    parent: int | None
    start: float
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)
    #: counter deltas (probed layers) and ``Tracer.inspect`` results
    attrs: dict = field(default_factory=dict)


def _public_functions(module) -> list[str]:
    return [
        n
        for n, v in vars(module).items()
        if callable(v)
        and not n.startswith("_")
        and getattr(v, "__module__", None) == module.__name__
        and not isinstance(v, type)
    ]


def _resolve(module_name: str, dotted: str):
    owner = importlib.import_module(module_name)
    *path, attr = dotted.split(".")
    for p in path:
        owner = getattr(owner, p)
    return owner, attr


class Tracer:
    def __init__(self) -> None:
        #: set while a traced pass runs: probes and inspect hooks are on
        self.probing = False
        #: returns counter readings (name -> value) for PROBED_LAYERS spans
        self.probe = None
        #: layer -> hook(*args, **kwargs) -> attrs, called with a wrapped
        #: call's arguments before its span opens, while probing
        self.inspect: dict = {}
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, layer: str, attrs: dict | None = None):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        probe = self.probe if self.probing and layer in PROBED_LAYERS else None
        before = probe() if probe else {}
        span = Span(name, layer, parent, time.time(), attrs=dict(attrs or {}))
        self.spans.append(span)
        self._stack.append(idx)
        try:
            yield span
        finally:
            self._stack.pop()
            span.end = time.time()
            if probe:
                span.attrs.update({k: v - before[k] for k, v in probe().items()})

    def install(self) -> None:
        """Wrap every call in ``LAYER_CALLS``; ``uninstall`` restores them."""
        for layer, targets in LAYER_CALLS.items():
            for module_name, names in targets:
                module = importlib.import_module(module_name)
                for dotted in names or _public_functions(module):
                    owner, attr = _resolve(module_name, dotted)
                    self._wrap(owner, attr, layer, f"{layer.split('.')[0]}.{attr}")

    def _wrap(self, owner, attr: str, layer: str, name: str) -> None:
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            hook = self.inspect.get(layer) if self.probing else None
            with self.span(name, layer, hook(*args, **kwargs) if hook else None):
                return fn(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, fn))

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    # -- derived views -------------------------------------------------
    def outermost(self, layer: str, lo: int, hi: int) -> list[Span]:
        """Spans of ``layer`` among ``spans[lo:hi]`` that have no ancestor
        of the same layer (so nested calls count once)."""
        out = []
        for s in self.spans[lo:hi]:
            if s.layer != layer:
                continue
            p = s.parent
            while p is not None and self.spans[p].layer != layer:
                p = self.spans[p].parent
            if p is None:
                out.append(s)
        return out

    def attribute_jobs(self, jobs: dict[int, dict], lo: int, hi: int) -> None:
        """Give each job to the innermost span among ``spans[lo:hi]`` that
        holds its submission."""
        for jid, job in jobs.items():
            t = job["submissionTime"] / 1000.0
            best = None
            for i in range(lo, hi):
                s = self.spans[i]
                if s.start <= t <= s.end and (best is None or s.start >= self.spans[best].start):
                    best = i
            if best is not None and jid not in self.spans[best].jobs:
                self.spans[best].jobs.append(jid)

    def jobs_under(self, span: Span) -> set[int]:
        """Jobs of ``span`` and of every span nested in it."""
        idx = self.spans.index(span)
        out, todo = set(span.jobs), [idx]
        while todo:
            p = todo.pop()
            for i in range(p + 1, len(self.spans)):
                s = self.spans[i]
                if s.parent == p:
                    out.update(s.jobs)
                    todo.append(i)
        return out

    def dump(self, path: str) -> None:
        """Write every span, one JSON object a line. ``self_s`` is the
        span's duration minus the part of it its child spans cover."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append((s.start, s.end))
        with open(path, "w") as fh:
            for i, s in enumerate(self.spans):
                fh.write(json.dumps({
                    "id": i, "name": s.name, "layer": s.layer, "parent": s.parent,
                    "start": s.start, "end": s.end,
                    "self_s": (s.end - s.start) - union_s(kids.get(i, [])),
                    "jobs": s.jobs, **s.attrs,
                }) + "\n")


class SparkCounters:
    """Reads Spark's own counters through py4j (trace mode only)."""

    def __init__(self, spark) -> None:
        self.spark = spark
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._jvm = sc._jvm
        mf = self._jvm.java.lang.management.ManagementFactory
        self._compile = mf.getCompilationMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._mapper = self._jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(self._jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(scala_module.__getattr__("MODULE$"))

    def jit_gc_s(self) -> tuple[float, float]:
        jit = self._compile.getTotalCompilationTime() / 1000.0
        gc = sum(b.getCollectionTime() for b in self._gcs) / 1000.0
        return jit, gc

    def jobs_and_stages(self) -> tuple[dict[int, dict], dict[int, list[dict]]]:
        """All retained jobs by id and stage attempts by stage id, read
        after the listener bus has drained."""
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        jobs = json.loads(self._mapper.writeValueAsString(store.jobsList(None)))
        stage_list = store.stageList(
            None, False, False,
            getattr(store, "stageList$default$4")(),
            getattr(store, "stageList$default$5")(),
        )
        stages: dict[int, list[dict]] = {}
        for st in json.loads(self._mapper.writeValueAsString(stage_list)):
            stages.setdefault(st["stageId"], []).append(st)
        return {j["jobId"]: j for j in jobs if j.get("submissionTime")}, stages

    @staticmethod
    def catalyst_ms(df) -> float:
        """Analysis + optimization + planning time of ``df``'s plan."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        total = 0
        for phase in ("analysis", "optimization", "planning"):
            opt = phases.get(phase)
            if opt.isDefined():
                total += opt.get().durationMs()
        return float(total)


def _ticks(pid: int) -> tuple[int, int]:
    """(ppid, utime+stime+cutime+cstime) of a live process, in ticks."""
    with open(f"/proc/{pid}/stat") as fh:
        f = fh.read().rsplit(")", 1)[1].split()
    return int(f[1]), int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])


class ProcCpu:
    """CPU seconds of the driver JVM and of every process below it (the
    PySpark daemon and its Python workers). A worker that exited was
    reaped by its parent, whose children-time fields then hold it, so a
    snapshot of the live tree never drops finished work."""

    def __init__(self, jvm_pid: int) -> None:
        self.jvm_pid = jvm_pid
        self._hz = os.sysconf("SC_CLK_TCK")

    def snapshot(self) -> tuple[float, float]:
        """(jvm_s, python_workers_s)."""
        procs = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    procs[int(d)] = _ticks(int(d))
                except (OSError, IndexError, ValueError):
                    pass
        below, frontier = {}, [self.jvm_pid]
        while frontier:
            p = frontier.pop()
            for pid, (ppid, ticks) in procs.items():
                if ppid == p and pid not in below:
                    below[pid] = ticks
                    frontier.append(pid)
        jvm = procs.get(self.jvm_pid, (0, 0))[1]
        return jvm / self._hz, sum(below.values()) / self._hz

    def peak_rss_mb(self) -> float:
        with open(f"/proc/{self.jvm_pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0
