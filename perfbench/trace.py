"""Spans around calls into the engine's layers, and the Spark stage
metrics of each span's jobs.

A span records name, start, end, parent and trace id.  While a span is
open its thread runs under a Spark job group of its own, so after the
run one pass over the REST API's jobs and stages attributes every job
to exactly one span.  Spans are kept in memory and written once, when
the run ends.

Per span (jobs of the span and its descendants):

- ``wall_s``: end minus start;
- ``self_s``: wall minus the part child spans cover;
- ``driver_s``: wall minus the part the span's jobs were running;
- ``jobs``, ``tasks``, ``executor_cpu_s``, ``executor_run_s``, ``gc_s``,
  ``shuffle_write_mb``, ``shuffle_read_mb``, ``spill_mb``, ``input_mb``,
  ``output_mb``.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import itertools
import json
import threading
import time
import urllib.request
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field

GROUP_PROP = "spark.jobGroup.id"
STAGE_FIELDS = {
    # REST stage field -> (metric, scale)
    "executorCpuTime": ("executor_cpu_s", 1e-9),
    "executorRunTime": ("executor_run_s", 1e-3),
    "jvmGcTime": ("gc_s", 1e-3),
    "shuffleWriteBytes": ("shuffle_write_mb", 1e-6),
    "shuffleReadBytes": ("shuffle_read_mb", 1e-6),
    "memoryBytesSpilled": ("spill_mb", 1e-6),
    "inputBytes": ("input_mb", 1e-6),
    "outputBytes": ("output_mb", 1e-6),
    "numCompleteTasks": ("tasks", 1),
}


@dataclass
class Span:
    name: str
    span_id: int
    parent: int | None
    trace_id: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"{self.trace_id}-{self.span_id}"


@dataclass(frozen=True)
class Job:
    job_id: int
    group: str | None
    start: float
    end: float
    stage_ids: tuple[int, ...]


def covered(lo: float, hi: float, intervals: list[tuple[float, float]]) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


def span_metrics(
    spans: list[Span],
    jobs: list[Job],
    stages: dict[int, dict[str, float]],
) -> dict[int, dict[str, float]]:
    """Metrics per span id.  Jobs count toward their own span and every
    ancestor; each completed stage counts once, toward the first job
    that lists it (later jobs that reuse its shuffle only skip it)."""
    children: dict[int | None, list[Span]] = {}
    for s in spans:
        children.setdefault(s.parent, []).append(s)
    by_group: dict[str, list[Job]] = {}
    for j in sorted(jobs, key=lambda j: j.job_id):
        by_group.setdefault(j.group or "", []).append(j)
    owner: dict[int, int] = {}
    for j in sorted(jobs, key=lambda j: j.job_id):
        for sid in j.stage_ids:
            owner.setdefault(sid, j.job_id)

    def subtree_jobs(s: Span) -> list[Job]:
        out = list(by_group.get(s.group, []))
        for c in children.get(s.span_id, []):
            out += subtree_jobs(c)
        return out

    result = {}
    for s in spans:
        js = subtree_jobs(s)
        kids = [(c.start, c.end) for c in children.get(s.span_id, [])]
        m = {
            "wall_s": s.end - s.start,
            "self_s": s.end - s.start - covered(s.start, s.end, kids),
            "driver_s": s.end - s.start
            - covered(s.start, s.end, [(j.start, j.end) for j in js]),
            "jobs": float(len(js)),
        }
        for metric, _ in STAGE_FIELDS.values():
            m[metric] = 0.0
        for j in js:
            for sid in j.stage_ids:
                if owner.get(sid) == j.job_id and sid in stages:
                    for metric, v in stages[sid].items():
                        m[metric] += v
        result[s.span_id] = m
    return result


class Tracer:
    """Spans for one run.  ``traced`` says whether the run is traced at
    all (and so whether :meth:`patched` installs wrappers); ``enabled``
    switches recording on and off within it.  While it is off every
    call is a pass-through, so the measured code path is the same with
    tracing on and off."""

    def __init__(self, sc, trace_id: str, traced: bool):
        self.sc = sc
        self.trace_id = trace_id
        self.traced = traced
        self.enabled = False
        self.spans: list[Span] = []
        self.default_parent: int | None = None
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def start(self, name: str) -> Span | None:
        if not self.enabled:
            return None
        stack = self._stack()
        parent = stack[-1].span_id if stack else self.default_parent
        with self._lock:
            span = Span(name, next(self._ids), parent, self.trace_id, 0.0)
            self.spans.append(span)
        span.attrs["_prev_group"] = self.sc.getLocalProperty(GROUP_PROP)
        self.sc.setJobGroup(span.group, name)
        stack.append(span)
        span.start = time.time()
        return span

    def finish(self, span: Span | None) -> None:
        if span is None:
            return
        span.end = time.time()
        stack = self._stack()
        if stack and stack[-1] is span:
            stack.pop()
        self.sc.setLocalProperty(GROUP_PROP, span.attrs.pop("_prev_group"))

    def record(self, name: str, start: float, end: float) -> None:
        """A span timed by the caller, for work before the tracer could
        exist (the session start)."""
        if self.traced:
            self.spans.append(
                Span(name, next(self._ids), None, self.trace_id, start, end)
            )

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[Span | None]:
        s = self.start(name)
        try:
            yield s
        finally:
            self.finish(s)

    def wrap(self, fn: Callable, name: str) -> Callable:
        """``fn`` with a span around each call."""

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn  # type: ignore[attr-defined]
        return traced

    def wrap_lazy(self, fn: Callable, name: str) -> Callable:
        """``fn`` returns a DataFrame that its caller derives from and
        then runs one action on; the span covers the build and that
        action, so the jobs the plan causes count toward ``name``."""

        def traced(*args, **kwargs):
            span = self.start(name)
            try:
                df = fn(*args, **kwargs)
            except BaseException:
                self.finish(span)
                raise
            if span is None:
                return df
            # the caller's own frame resumes between build and action
            self._stack().remove(span)
            self.sc.setLocalProperty(GROUP_PROP, span.attrs["_prev_group"])
            return _ActionSpan(df, self, span)

        return traced

    def wrap_factory(self, fn: Callable, name: str) -> Callable:
        """``fn`` builds a callable (a sink, a foreachBatch function);
        each call of what it builds gets a span."""

        def traced(*args, **kwargs):
            built = fn(*args, **kwargs)
            wrapped = self.wrap(built, name)
            wrapped.__dict__.update(getattr(built, "__dict__", {}))
            return wrapped

        return traced

    @contextlib.contextmanager
    def patched(self, targets: list[tuple[object, str, str, str]]):
        """Replace ``module.attr`` with a traced wrapper for the block
        (no-op in an untraced run).  Each target is
        ``(module, attr, span_name, kind)`` with kind ``call``, ``lazy``
        (:meth:`wrap_lazy`) or ``factory`` (:meth:`wrap_factory`)."""
        if not self.traced:
            yield
            return
        kinds = {"call": self.wrap, "lazy": self.wrap_lazy,
                 "factory": self.wrap_factory}
        saved = [(mod, attr, getattr(mod, attr)) for mod, attr, _, _ in targets]
        try:
            for mod, attr, name, kind in targets:
                setattr(mod, attr, kinds[kind](getattr(mod, attr), name))
            yield
        finally:
            for mod, attr, orig in saved:
                setattr(mod, attr, orig)

    def report(self, ui_url: str | None, app_id: str) -> list[dict]:
        """Join spans with the REST API's jobs and stages; one dict per
        span (name, ids, times, attrs and the metrics listed above)."""
        for s in self.spans:  # a lazy span whose frame never ran an action
            s.end = max(s.end, s.start)
        jobs, stages = fetch_jobs_and_stages(ui_url, app_id) if ui_url else ([], {})
        metrics = span_metrics(self.spans, jobs, stages)
        return [
            {
                "name": s.name,
                "span_id": s.span_id,
                "parent": s.parent,
                "trace_id": s.trace_id,
                "start": s.start,
                "end": s.end,
                **{k: v for k, v in s.attrs.items() if not k.startswith("_")},
                **metrics[s.span_id],
            }
            for s in self.spans
        ]


class _ActionSpan:
    """Stands in for a DataFrame built under an open span: derived
    frames stay wrapped, and the first action runs under the span's job
    group and then closes the span (later actions run unwrapped)."""

    _ACTIONS = {"collect", "first", "take", "count", "head", "toPandas"}

    def __init__(self, df, tracer: Tracer, span: Span):
        self._df, self._tracer, self._span = df, tracer, span

    def __getattr__(self, name):
        attr = getattr(self._df, name)
        if not callable(attr):
            return attr

        def call(*args, **kwargs):
            if name in self._ACTIONS and "_prev_group" in self._span.attrs:
                sc = self._tracer.sc
                sc.setLocalProperty(GROUP_PROP, self._span.group)
                try:
                    return attr(*args, **kwargs)
                finally:
                    self._span.end = time.time()
                    sc.setLocalProperty(
                        GROUP_PROP, self._span.attrs.pop("_prev_group")
                    )
            out = attr(*args, **kwargs)
            if type(out).__name__ == "DataFrame":
                return _ActionSpan(out, self._tracer, self._span)
            return out

        return call


def _epoch(stamp: str | None) -> float | None:
    if not stamp:
        return None
    return (
        dt.datetime.strptime(stamp, "%Y-%m-%dT%H:%M:%S.%f%Z")
        .replace(tzinfo=dt.timezone.utc)
        .timestamp()
    )


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.loads(r.read())


def fetch_jobs_and_stages(
    ui_url: str, app_id: str, settle_s: float = 10.0
) -> tuple[list[Job], dict[int, dict[str, float]]]:
    """Every job (with its group and run interval) and every completed
    stage's metrics, once the UI's listener has caught up with the
    jobs already finished (it runs asynchronously)."""
    base = f"{ui_url}/api/v1/applications/{app_id}"
    deadline = time.monotonic() + settle_s
    while True:
        raw_jobs = _get(f"{base}/jobs")
        if all(j["status"] != "RUNNING" for j in raw_jobs) or (
            time.monotonic() > deadline
        ):
            break
        time.sleep(0.2)
    jobs = []
    for j in raw_jobs:
        start, end = _epoch(j.get("submissionTime")), _epoch(j.get("completionTime"))
        if start is None or end is None:
            continue
        jobs.append(
            Job(j["jobId"], j.get("jobGroup"), start, end, tuple(j["stageIds"]))
        )
    stages = {}
    for s in _get(f"{base}/stages?status=complete"):
        stages[s["stageId"]] = {
            metric: s.get(key, 0) * scale
            for key, (metric, scale) in STAGE_FIELDS.items()
        }
    return jobs, stages
