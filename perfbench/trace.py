"""Span recorder for the traced run.

Spans are recorded from the benchmark's side: ``Tracer.wrap`` swaps a
layer's public functions for wrappers that open a span around each
call. Each span is (name, start, end, parent span, op id), kept in
memory and written out when the run ends.

Before every call the wrapper sets the Spark job description to the
span's id, so each Spark job can be read back from the event log and
attributed to the innermost span that launched it. Jobs launched from
threads the benchmark does not control (streaming micro-batches) carry
their own description; they go to the innermost span open when they
were submitted. A span's self time is its wall time minus the part its
child spans cover.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import inspect
import json
import os
import time
from dataclasses import dataclass, field

PREFIX = "perfbench:"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int | None
    t0: float  # epoch seconds
    t1: float = 0.0
    attrs: dict = field(default_factory=dict)
    jobs: list = field(default_factory=list)

    @property
    def wall(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """Records spans when enabled; a disabled tracer costs one branch."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.op: int | None = None

    def start(self, name: str, **attrs) -> Span | None:
        if not self.enabled:
            return None
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, parent, self.op, time.time(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        self.spark.sparkContext.setJobDescription(f"{PREFIX}{s.id}")
        return s

    def end(self, s: Span | None) -> None:
        if s is None:
            return
        s.t1 = time.time()
        self._stack.pop()
        self.spark.sparkContext.setJobDescription(
            f"{PREFIX}{self._stack[-1].id}" if self._stack else None
        )

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        s = self.start(name, **attrs)
        try:
            yield s
        finally:
            self.end(s)

    def wrap(self, module, attr: str, name: str, on_result=None) -> None:
        """Replace ``module.attr`` with a span-recording wrapper.
        ``on_result(span, arguments, result)`` may add counters, where
        ``arguments`` maps parameter names to the call's values."""
        fn = getattr(module, attr)
        sig = inspect.signature(fn)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as s:
                out = fn(*args, **kwargs)
                if on_result is not None and s is not None:
                    on_result(s, sig.bind(*args, **kwargs).arguments, out)
                return out

        setattr(module, attr, traced)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.id, "name": s.name, "parent": s.parent, "op": s.op,
                    "start": s.t0, "end": s.t1, "attrs": s.attrs,
                    "jobs": [j["id"] for j in s.jobs],
                }) + "\n")


def read_event_log(log_dir: str, app_id: str) -> list[dict]:
    """Jobs of one application with their stage metrics summed:
    run/CPU/GC time, shuffle and spill bytes, and the bytes the
    Arrow/Python operators exchanged with Python workers."""
    paths = glob.glob(os.path.join(log_dir, f"*{app_id}*"))
    if not paths:
        raise FileNotFoundError(f"no event log for {app_id} under {log_dir}")
    p = paths[0]
    files = sorted(glob.glob(os.path.join(p, "events_*"))) if os.path.isdir(p) else [p]
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    for fp in files:
        with open(fp) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = {
                        "id": ev["Job ID"],
                        "desc": (ev.get("Properties") or {}).get("spark.job.description") or "",
                        "t0": ev["Submission Time"] / 1000, "t1": ev["Submission Time"] / 1000,
                        "stages": [s["Stage ID"] for s in ev.get("Stage Infos", [])],
                    }
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["t1"] = ev["Completion Time"] / 1000
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    acc = {a.get("Name"): a.get("Value") for a in info.get("Accumulables", [])}

                    def num(*names):
                        return sum(float(acc.get(n) or 0) for n in names)

                    stages[info["Stage ID"]] = {
                        "cpu_s": num("internal.metrics.executorCpuTime") / 1e9,
                        "gc_s": num("internal.metrics.jvmGCTime") / 1e3,
                        "shuffle_mb": num(
                            "internal.metrics.shuffle.read.remoteBytesRead",
                            "internal.metrics.shuffle.read.localBytesRead",
                            "internal.metrics.shuffle.write.bytesWritten",
                        ) / 1e6,
                        "spill_mb": num("internal.metrics.diskBytesSpilled") / 1e6,
                        "python_mb": num("data sent to Python workers",
                                         "data returned from Python workers") / 1e6,
                    }
    out = []
    for j in jobs.values():
        for k in ("cpu_s", "gc_s", "shuffle_mb", "spill_mb", "python_mb"):
            j[k] = sum(stages.get(s, {}).get(k, 0.0) for s in j["stages"])
        out.append(j)
    return sorted(out, key=lambda j: j["t0"])


def attribute(spans: list[Span], jobs: list[dict]) -> None:
    """Attach each job to a span: by the description the tracer set,
    else to the innermost span open at the job's submission."""
    by_id = {s.id: s for s in spans}
    for j in jobs:
        desc = j["desc"]
        s = by_id.get(int(desc[len(PREFIX):])) if desc.startswith(PREFIX) else None
        if s is None:
            inside = [x for x in spans if x.t0 <= j["t0"] <= (x.t1 or float("inf"))]
            s = max(inside, key=lambda x: x.t0) if inside else None
        if s is not None:
            s.jobs.append(j)


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def subtree(spans: list[Span], root: Span) -> list[Span]:
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out, todo = [], [root]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s.id, []))
    return out


def rollup(spans: list[Span], root: Span) -> dict:
    """Spark work under ``root``: job count, job wall time (overlaps
    counted once), and the summed stage metrics."""
    jobs = [j for s in subtree(spans, root) for j in s.jobs]
    out = {"jobs": len(jobs), "job_s": _union([(j["t0"], j["t1"]) for j in jobs])}
    for k in ("cpu_s", "gc_s", "shuffle_mb", "spill_mb", "python_mb"):
        out[k] = sum(j[k] for j in jobs)
    return out


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per span name: summed wall time not covered by child spans."""
    child: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            child.setdefault(s.parent, []).append((s.t0, s.t1))
    out: dict[str, float] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + s.wall - _union(child.get(s.id, []))
    return out
