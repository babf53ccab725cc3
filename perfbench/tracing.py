"""Spans around the calls into each layer, recorded from outside the program.

The traced run wraps the public functions of the engine's operator
modules (``instrument``) and times each operation's phases itself.
Every span has a name, start, end, parent and the id of the operation
it belongs to; spans stay in memory and are written once, at the end.

Spark work inside a span is counted by job-id delta: Spark numbers jobs
consecutively, so the scheduler's job counter before and after a span
bounds the jobs it started, however few of them the UI still retains.
Per-stage metrics come from the driver's status REST API after the
traced pass; the traced session raises the UI's retention so that no
stage of the window is evicted, and ``StageAccounting`` fails if one was.
"""

from __future__ import annotations

import functools
import json
import time
import types
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field

# The traced session keeps every job and stage of the run in the UI store.
RETENTION_CONF = {
    "spark.ui.retainedJobs": "1000000",
    "spark.ui.retainedStages": "1000000",
}


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op_id: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder. A span given a ``probe`` reads it just
    outside both of its edges; the differences of the readings (jobs
    submitted, CPU seconds) become the span's attributes."""

    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.op_id: int | None = None

    @property
    def current(self) -> Span | None:
        return self._stack[-1] if self._stack else None

    @contextmanager
    def span(self, name: str, probe=None, **attrs):
        parent = self.current
        before = probe() if probe else None
        sp = Span(len(self.spans), name, parent.id if parent else None, self.op_id, 0.0,
                  attrs=attrs)
        self.spans.append(sp)
        self._stack.append(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if probe:
                after = probe()
                if "jobs" in before:
                    sp.attrs["first_job"] = before["jobs"]
                for key in before:
                    sp.attrs[key] = after[key] - before[key]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([vars(s) for s in self.spans], fh)


def instrument(tracer: Tracer, modules: dict[str, types.ModuleType], probe):
    """Wrap each module's public functions in spans; returns an undo
    function. Calls made directly from an operation's construction span
    also take ``probe`` readings (jobs, CPU), so their work can be
    attributed to their module. ``functools.wraps`` keeps the wrapper's
    qualified name equal to the function's, so a wrapped function shipped
    to a Python worker is pickled by reference and the worker runs the
    original."""
    saved: list[tuple[types.ModuleType, str, object]] = []

    def wrap(label: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            top = tracer.current is not None and tracer.current.name == "construct"
            with tracer.span(label, probe if top else None, module=label.split(".")[0]):
                return fn(*args, **kwargs)

        return traced

    for short, mod in modules.items():
        for name, obj in list(vars(mod).items()):
            if (
                isinstance(obj, types.FunctionType)
                and not name.startswith("_")
                and obj.__module__ == mod.__name__
            ):
                saved.append((mod, name, obj))
                setattr(mod, name, wrap(f"{short}.{name}", obj))

    def undo() -> None:
        for mod, name, obj in saved:
            setattr(mod, name, obj)

    return undo


def jobs_submitted(sc) -> int:
    """Jobs the scheduler has numbered so far; unaffected by UI retention."""
    return sc._jsc.sc().dagScheduler().numTotalJobs()


STAGE_FIELDS = {
    # REST field -> (metric, scale)
    "executorCpuTime": ("cpu_s", 1e-9),
    "executorRunTime": ("run_s", 1e-3),
    "jvmGcTime": ("gc_s", 1e-3),
    "shuffleReadBytes": ("shuffle_read_bytes", 1),
    "shuffleWriteBytes": ("shuffle_write_bytes", 1),
    "diskBytesSpilled": ("spill_bytes", 1),
    "numFailedTasks": ("failed_tasks", 1),
    "numCompleteTasks": ("tasks", 1),
}


class StageAccounting:
    """Per-job stage metrics of the running application, read once."""

    def __init__(self, spark):
        sc = spark.sparkContext
        # The UI store is fed by the listener bus; drain it first.
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        jobs = self._get(f"{base}/jobs")
        stages = self._get(f"{base}/stages")
        self.job_stages = {j["jobId"]: j["stageIds"] for j in jobs}
        # A stage reused by a later job (its shuffle output) belongs to
        # the first job that ran it.
        self.owner: dict[int, int] = {}
        for job in sorted(self.job_stages):
            for sid in self.job_stages[job]:
                self.owner.setdefault(sid, job)
        self.stages: dict[int, dict[str, float]] = {}
        self.status: dict[int, str] = {}
        for st in stages:
            acc = self.stages.setdefault(st["stageId"], dict.fromkeys(
                [m for m, _ in STAGE_FIELDS.values()], 0.0))
            for key, (metric, scale) in STAGE_FIELDS.items():
                acc[metric] += st.get(key, 0) * scale
            if self.status.get(st["stageId"]) != "COMPLETE":
                self.status[st["stageId"]] = st["status"]

    @staticmethod
    def _get(url: str):
        with urllib.request.urlopen(url, timeout=60) as resp:
            return json.load(resp)

    def totals(self, windows: list[tuple[int, int]]) -> dict[str, float]:
        """Sum the stages run by the jobs numbered ``first <= id < end``
        in each window; a stage counts with the job that first ran it.
        Raise if any job or stage is no longer in the UI store."""
        out = {m: 0.0 for m, _ in STAGE_FIELDS.values()}
        out["jobs"] = out["stages"] = 0
        for first, end in windows:
            out["jobs"] += end - first
            for job in range(first, end):
                if job not in self.job_stages:
                    raise RuntimeError(f"job {job} was evicted from the UI store")
                for sid in self.job_stages[job]:
                    status = self.status.get(sid)
                    if status is None:
                        raise RuntimeError(f"stage {sid} of job {job} was evicted")
                    if self.owner[sid] != job or status == "SKIPPED":
                        continue
                    out["stages"] += 1
                    for metric, value in self.stages[sid].items():
                        out[metric] += value
        return out
