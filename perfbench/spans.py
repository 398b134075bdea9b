"""Span recording for the traced benchmark run, plus the streaming
progress log every run reads its epoch timings from.

``Tracer`` wraps public entry points of the engine's modules from the
outside (no source edits) and records one span per call: name, start,
end, parent span, run id and a few call attributes. Spans stay in
memory until the run ends; ``run.py`` writes them to the run record.
A layer's self time is its span minus the time its child spans cover.

``ProgressLog`` is a ``StreamingQueryListener`` that keeps every
``StreamingQueryProgress`` as a dict, so trigger, state-store and
per-phase timings come from Spark itself rather than from the sink.
"""

from __future__ import annotations

import datetime
import functools
import json
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    """Records spans while installed. ``install`` patches the targets,
    ``uninstall`` restores the originals, so untraced work between
    traced work pays nothing."""

    def __init__(self):
        self.spans: list[dict] = []
        self.run_id = ""
        self._local = threading.local()
        self._lock = threading.Lock()
        self._targets: list[tuple[object, str, str, object]] = []
        self._saved: list[tuple[object, str, object]] = []

    def add(self, owner, attr: str, name: str, attrs_fn=None) -> None:
        """Register ``owner.attr`` to be traced as span ``name``.
        ``attrs_fn(args, kwargs, result)`` returns extra span fields."""
        self._targets.append((owner, attr, name, attrs_fn))

    def install(self) -> None:
        for owner, attr, name, attrs_fn in self._targets:
            orig = getattr(owner, attr)
            self._saved.append((owner, attr, orig))
            setattr(owner, attr, self._wrap(orig, name, attrs_fn))

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, orig = self._saved.pop()
            setattr(owner, attr, orig)

    def _wrap(self, orig, name, attrs_fn):
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            stack = tracer._stack()
            with tracer._lock:
                sid = len(tracer.spans)
                tracer.spans.append({})
            span = {
                "id": sid,
                "name": name,
                "parent": stack[-1] if stack else None,
                "run": tracer.run_id,
                "thread": threading.get_ident(),
            }
            stack.append(sid)
            span["start"] = time.perf_counter()
            ok = False
            try:
                result = orig(*args, **kwargs)
                ok = True
                return result
            finally:
                span["end"] = time.perf_counter()
                stack.pop()
                span["ok"] = ok
                if ok and attrs_fn is not None:
                    span.update(attrs_fn(args, kwargs, result))
                tracer.spans[sid] = span

        return traced

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def run_spans(self, run_id: str) -> list[dict]:
        return [s for s in self.spans if s.get("run") == run_id]


def duration(span: dict) -> float:
    return span["end"] - span["start"]


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus its direct children's durations.
    Children run on the parent's thread, nested inside it, so their
    intervals never overlap one another."""
    child = {s["id"]: 0.0 for s in spans}
    for s in spans:
        if s["parent"] in child:
            child[s["parent"]] += duration(s)
    return {s["id"]: duration(s) - child[s["id"]] for s in spans}


class ProgressLog(StreamingQueryListener):
    """Collects progress events of every query; ``wait_terminated``
    blocks until the listener bus has delivered a query's final event,
    which it posts after all of that query's progress events."""

    def __init__(self):
        self.progress: dict[str, list[dict]] = {}
        self._done: set[str] = set()
        self._cv = threading.Condition()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = json.loads(event.progress.json)
        with self._cv:
            self.progress.setdefault(p["runId"], []).append(p)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._cv:
            self._done.add(str(event.runId))
            self._cv.notify_all()

    def runs_done(self) -> set[str]:
        with self._cv:
            return set(self._done)

    def wait_new_run(self, before: set[str], timeout: float = 60.0) -> str:
        """Run id of the one query that terminated since ``before``."""
        deadline = time.monotonic() + timeout
        with self._cv:
            while not (self._done - before):
                left = deadline - time.monotonic()
                if left <= 0:
                    raise TimeoutError("streaming query did not report termination")
                self._cv.wait(left)
            (run,) = self._done - before
            return run


def progress_epoch_s(p: dict) -> float:
    """Unix seconds at which a progress event's trigger started."""
    ts = datetime.datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    return ts.replace(tzinfo=datetime.timezone.utc).timestamp()
