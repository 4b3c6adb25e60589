"""Spans around the benchmark's calls into sparkcheck, and Spark jobs
attributed to the sparkcheck module that launched them.

Nothing here touches sparkcheck. Attribution uses what Spark already records:

- PySpark names a job after its Python call site (``collect at
  <file>:<line>``) for actions that go through ``SCCallSiteSync``. Readers
  and writers (``df.write.parquet``, ``spark.read.parquet``) and ``count()``
  do not, so the job would carry a JVM call site. While tracing, those
  methods are wrapped to set the same kind of call site, taken from the
  first frame outside pyspark.
- Every traced call runs in its own job group. After the call returns, the
  job ids of that group come from the public ``statusTracker``, and job
  times plus stage task metrics from Spark's status store through the JVM
  gateway.

Spans stay in memory; ``Tracer.dump`` writes them out once, at the end.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import re
import sys
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

# sparkcheck modules that the per-layer metrics report on
LAYERS = ("planner", "runner", "metrics.audio", "io", "incremental", "checkpoint")

_SITE = re.compile(r" at (.+\.py):\d+$")

# pyspark entry points that launch jobs without naming their Python call site
_UNNAMED_ACTIONS = {
    "pyspark.sql.classic.dataframe:DataFrame": ("count",),
    "pyspark.sql.readwriter:DataFrameWriter": (
        "parquet", "save", "saveAsTable", "insertInto"),
    "pyspark.sql.readwriter:DataFrameReader": ("parquet", "load", "table"),
}


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float = 0.0
    call: int = -1


@dataclass
class Job:
    job_id: int
    name: str
    module: str
    submit: float
    end: float
    stages: int
    failed_tasks: int
    input_records: int
    task_ms: float
    shuffle_bytes: int
    output_bytes: int


@dataclass
class CallTrace:
    call: int
    start: float
    end: float
    spans: list[Span] = field(default_factory=list)
    jobs: list[Job] = field(default_factory=list)
    group_jobs: int = 0
    extra: dict = field(default_factory=dict)


def module_of(job_name: str, package_dir: str) -> str:
    """'collect at <pkg>/metrics/audio.py:442' -> 'metrics.audio'; a call site
    outside the sparkcheck package -> 'unattributed'."""
    m = _SITE.search(job_name)
    if not m:
        return "unattributed"
    path = os.path.realpath(m.group(1))
    if not path.startswith(package_dir + os.sep):
        return "unattributed"
    rel = os.path.relpath(path, package_dir)[:-3]
    parts = [p for p in rel.split(os.sep) if p != "__init__"]
    return ".".join(parts) or "sparkcheck"


class Tracer:
    """Records spans and the jobs of each traced call. ``enabled`` is flipped
    per call by the closed loop, so traced and untraced calls interleave."""

    def __init__(self, spark, package_dir: str) -> None:
        self.sc = spark.sparkContext
        self.package_dir = os.path.realpath(package_dir)
        self.enabled = False
        self.calls: list[CallTrace] = []
        self._cur: CallTrace | None = None
        self._pyspark_dir = os.path.dirname(
            os.path.realpath(sys.modules["pyspark"].__file__))
        self._store = self.sc._jsc.sc().statusStore()
        self._patched: list[tuple[type, str, object]] = []
        self._patch_unnamed_actions()

    # ------------------------------------------------------------ call site

    def _patch_unnamed_actions(self) -> None:
        for target, methods in _UNNAMED_ACTIONS.items():
            mod_name, cls_name = target.split(":")
            cls = getattr(importlib.import_module(mod_name), cls_name)
            for meth in methods:
                orig = cls.__dict__.get(meth)
                if orig is None:
                    continue
                self._patched.append((cls, meth, orig))
                setattr(cls, meth, self._named(orig))

    def _named(self, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            f = sys._getframe(1)
            while f is not None and os.path.realpath(
                    f.f_code.co_filename).startswith(tracer._pyspark_dir):
                f = f.f_back
            site = (f"{fn.__name__} at {f.f_code.co_filename}:{f.f_lineno}"
                    if f is not None else fn.__name__)
            jsc = tracer.sc._jsc
            jsc.setCallSite(site)
            try:
                return fn(*args, **kwargs)
            finally:
                jsc.setCallSite(None)
        return wrapper

    def close(self) -> None:
        for cls, meth, orig in self._patched:
            setattr(cls, meth, orig)
        self._patched.clear()

    # ---------------------------------------------------------------- spans

    def begin_call(self, i: int) -> None:
        if not self.enabled:
            return
        self.sc.setLocalProperty("spark.jobGroup.id", f"perfbench-{i}")
        self._cur = CallTrace(call=i, start=time.time(), end=0.0)

    def end_call(self) -> CallTrace | None:
        if not self.enabled or self._cur is None:
            return None
        cur, self._cur = self._cur, None
        cur.end = time.time()
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self._collect_jobs(cur)
        self.calls.append(cur)
        return cur

    def span(self, layer: str, name: str):
        return _SpanCtx(self, layer, name)

    # ----------------------------------------------------------------- jobs

    def _collect_jobs(self, cur: CallTrace) -> None:
        # job-end events reach the status store through the listener bus
        # asynchronously: drain it before reading
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        ids = sorted(self.sc.statusTracker().getJobIdsForGroup(
            f"perfbench-{cur.call}"))
        cur.group_jobs = len(ids)
        for jid in ids:
            jd = self._store.job(jid)
            stage_ids = jd.stageIds()
            n_st = stage_ids.size()
            rec = task = shuf = out = failed = 0
            ran = 0
            for k in range(n_st):
                try:
                    sd = self._store.lastStageAttempt(stage_ids.apply(k))
                except Py4JJavaError:   # no attempt recorded for the stage
                    continue
                if str(sd.status()) == "SKIPPED":
                    continue
                ran += 1
                rec += sd.inputRecords()
                task += sd.executorRunTime()
                shuf += sd.shuffleWriteBytes()
                out += sd.outputBytes()
                failed += sd.numFailedTasks()
            sub, done = jd.submissionTime(), jd.completionTime()
            submit = sub.get().getTime() / 1e3 if sub.isDefined() else cur.start
            end = done.get().getTime() / 1e3 if done.isDefined() else cur.end
            name = jd.name()
            cur.jobs.append(Job(
                job_id=jid, name=name, module=module_of(name, self.package_dir),
                submit=submit, end=end, stages=ran, failed_tasks=failed,
                input_records=rec, task_ms=float(task), shuffle_bytes=shuf,
                output_bytes=out))

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([{
                "call": c.call, "start": c.start, "end": c.end,
                "group_jobs": c.group_jobs, "extra": c.extra,
                "spans": [vars(s) for s in c.spans],
                "jobs": [vars(j) for j in c.jobs]} for c in self.calls], f)


class _SpanCtx:
    def __init__(self, tracer: Tracer, layer: str, name: str) -> None:
        self.t, self.layer, self.name = tracer, layer, name

    def __enter__(self):
        if self.t.enabled and self.t._cur is not None:
            self.s = Span(self.name, self.layer, time.time(),
                          call=self.t._cur.call)
        else:
            self.s = None
        return self

    def __exit__(self, *exc):
        if self.s is not None:
            self.s.end = time.time()
            self.t._cur.spans.append(self.s)
        return False


# ------------------------------------------------------------ time accounting

def self_times(c: CallTrace) -> dict[str, float]:
    """Split a call's wall time (ms) among layers. At each instant the time
    belongs to the running Spark job's module, else to the innermost open
    span's layer, else to the benchmark ('bench'). A layer's self time is
    therefore its spans minus the part covered by its children: jobs of
    other modules and nested spans. Jobs running at the same time share the
    instant equally."""
    cuts = {c.start, c.end}
    for s in c.spans:
        cuts.update((s.start, s.end))
    for j in c.jobs:
        cuts.update((max(j.submit, c.start), min(j.end, c.end)))
    edges = sorted(t for t in cuts if c.start <= t <= c.end)
    out: dict[str, float] = {}
    for a, b in zip(edges, edges[1:]):
        mid = (a + b) / 2
        running = [j.module for j in c.jobs if j.submit <= mid < j.end]
        if running:
            for mod in running:
                out[mod] = out.get(mod, 0.0) + (b - a) * 1e3 / len(running)
            continue
        open_spans = [s for s in c.spans if s.start <= mid < s.end]
        layer = max(open_spans, key=lambda s: s.start).layer if open_spans else "bench"
        out[layer] = out.get(layer, 0.0) + (b - a) * 1e3
    return out


def outside_jobs_ms(c: CallTrace) -> float:
    """Call wall time during which no Spark job of the call was running."""
    busy = 0.0
    cur_a = cur_b = None
    for a, b in sorted((max(j.submit, c.start), min(j.end, c.end))
                       for j in c.jobs):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                busy += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        busy += cur_b - cur_a
    return max(0.0, (c.end - c.start) - busy) * 1e3
