"""Spans around the benchmark's calls into the engine's layers.

A :class:`Tracer` is created per run.  When disabled (the end-to-end
run) ``span`` is a no-op.  When enabled (the traced run) each span
records name, start, end, parent span and run id in memory, and tags
the Spark jobs its thread starts with a job group named after the
span's layer, so per-stage executor CPU, task, shuffle and spill
counters can be summed per layer from Spark's status store afterwards.

Layer names follow the engine's modules: a span ``tables.append`` is
the ``tables`` layer.  A job inherits the group of the innermost open
span of the thread that starts it.
"""

from __future__ import annotations

import ast
import contextlib
import functools
import itertools
import json
import threading
import time
from dataclasses import asdict, dataclass

JOB_GROUP_KEY = "spark.jobGroup.id"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    thread: str

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: s.duration - covered(children.get(s.id, []), s.start, s.end)
        for s in spans
    }


class Tracer:
    def __init__(self, enabled: bool, run_id: str, sc=None) -> None:
        self.enabled = enabled
        self.run_id = run_id
        self.sc = sc
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, group: bool = True):
        """``group=False`` skips the job group, two JVM calls, for a span
        that starts no Spark job and runs too often to pay for them."""
        if not self.enabled:
            yield
            return
        sid = next(self._ids)
        stack = self._stack()
        parent = stack[-1] if stack else None
        prev_group = None
        group = group and self.sc is not None
        if group:
            prev_group = self.sc.getLocalProperty(JOB_GROUP_KEY)
            self.sc.setLocalProperty(JOB_GROUP_KEY, self.group(name.split(".", 1)[0]))
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            if group:
                self.sc.setLocalProperty(JOB_GROUP_KEY, prev_group)
            span = Span(sid, name, start, end, parent, self.run_id,
                        threading.current_thread().name)
            with self._lock:
                self.spans.append(span)

    def group(self, layer: str) -> str:
        return f"{self.run_id}:{layer}"

    def wrap(self, name: str, fn):
        """``fn`` wrapped in a span (for patching a layer boundary that
        the engine calls internally)."""

        @functools.wraps(fn)
        def inner(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        return inner

    @contextlib.contextmanager
    def patched(self, targets: list[tuple[object, str, str]]):
        """Wrap ``getattr(owner, attr)`` in span ``name`` for each
        ``(owner, attr, name)`` while the block runs; no-op when
        tracing is off."""
        if not self.enabled:
            yield
            return
        saved = [(owner, attr, getattr(owner, attr)) for owner, attr, _ in targets]
        try:
            for owner, attr, name in targets:
                setattr(owner, attr, self.wrap(name, getattr(owner, attr)))
            yield
        finally:
            for owner, attr, fn in saved:
                setattr(owner, attr, fn)

    # -- summaries -------------------------------------------------------

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def total(self, name: str) -> float:
        return sum(s.duration for s in self.by_name(name))

    def layer_self_time(self) -> dict[str, float]:
        st = self_times(self.spans)
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.layer] = out.get(s.layer, 0.0) + st[s.id]
        return out

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(
                {
                    "run_id": self.run_id,
                    "spans": [asdict(s) for s in self.spans],
                    "self_time_s": self.layer_self_time(),
                },
                fh,
            )


def spark_layer_counters(sc, tracer: Tracer, layers: list[str]) -> dict[str, dict]:
    """Per layer: jobs, tasks, executor CPU s, shuffle write MB and
    spill MB of the jobs that ran under the layer's job group."""
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    out = {}
    for layer in layers:
        jobs = tracker.getJobIdsForGroup(tracer.group(layer))
        tasks, cpu_ns, shuffle_b, spill_b = 0, 0, 0, 0
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 — skipped stages have no attempt
                    continue
                tasks += st.numCompleteTasks()
                cpu_ns += st.executorCpuTime()
                shuffle_b += st.shuffleWriteBytes()
                spill_b += st.memoryBytesSpilled() + st.diskBytesSpilled()
        out[layer] = {
            "jobs": len(jobs),
            "tasks": tasks,
            "cpu_s": cpu_ns / 1e9,
            "shuffle_write_mb": shuffle_b / 2**20,
            "spill_mb": spill_b / 2**20,
        }
    return out


def read_through(progress) -> int | None:
    """Events read through a trigger: the sum of the per-partition next
    offsets in its first source's end offset (``{"0": 12, "1": 9}``, or
    Kafka's ``{"topic": {"0": 12}}``); None for other offset formats.
    The offset arrives as JSON from a listener event and as a Python
    dict literal from ``StreamingQuery.lastProgress``."""

    def total(v):
        if all(isinstance(x, dict) for x in v.values()):
            return sum(total(x) for x in v.values())
        if not all(str(k).isdigit() for k in v):
            raise ValueError("not a partition -> offset map")
        return sum(int(x) for x in v.values())

    if not progress.sources:
        return None
    raw = progress.sources[0].endOffset
    for parse in (json.loads, ast.literal_eval):
        try:
            v = parse(raw)
            return total(v) if isinstance(v, dict) and v else None
        except (TypeError, ValueError, SyntaxError, AttributeError):
            continue
    return None


class TriggerListener:
    """Collects streaming progress events (trigger phase durations,
    rows) through a PySpark ``StreamingQueryListener``.  A trigger's rows
    come from the advance of its source offsets where they are counts
    (``numInputRows`` counts a source once per action that scans it, so a
    ``foreachBatch`` sink that writes twice reads as twice the rows)."""

    def __init__(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        self.progress: list[dict] = []
        self._through: dict[str, int] = {}
        outer = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                run_id, rows = str(p.runId), p.numInputRows
                through = read_through(p)
                if through is not None:
                    rows = through - outer._through.get(run_id, 0)
                    outer._through[run_id] = through
                outer.progress.append(
                    {
                        "t": time.perf_counter(),
                        "run_id": run_id,
                        "batch": p.batchId,
                        "rows": rows,
                        "duration_ms": dict(p.durationMs),
                    }
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _L()
