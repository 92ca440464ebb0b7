"""In-memory spans recorded around calls into the program's layers.

A span is (id, name, start, end, parent id, run id). Spans stay in
memory and are written out once, when the benchmark ends. The hooks
here patch names from outside the package for the length of a traced
run and restore them afterwards; the package itself is not edited.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self.run_id: str | None = None
        self._root: int | None = None  # parent of spans opened off-thread

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str) -> dict:
        stack = self._stack()
        with self._lock:
            span = {
                "id": next(self._ids),
                "name": name,
                "start": time.monotonic(),
                "end": None,
                "parent": stack[-1] if stack else self._root,
                "run_id": self.run_id,
            }
            self.spans.append(span)
        stack.append(span["id"])
        return span

    def close(self, span: dict) -> None:
        span["end"] = time.monotonic()
        self._stack().remove(span["id"])

    @contextmanager
    def span(self, name: str):
        s = self.open(name)
        try:
            yield s
        finally:
            self.close(s)

    @contextmanager
    def run(self, run_id: str):
        """Root span of one run; spans opened on other threads hang off it."""
        self.run_id = run_id
        with self.span("run") as root:
            self._root = root["id"]
            try:
                yield root
            finally:
                self._root = None

    def wrap(self, name: str, fn, calls: list | None = None):
        """fn wrapped in a span; each call's (args, kwargs, result) is
        appended to ``calls`` when given."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
            if calls is not None:
                calls.append((args, kwargs, out))
            return out

        return wrapper

    def named(self, name: str, run_id: str | None = None) -> list[dict]:
        return [
            s
            for s in self.spans
            if s["name"] == name and (run_id is None or s["run_id"] == run_id)
        ]

    def dump(self, path: str, **extra) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "spans": self.spans}, f, indent=1)


@contextmanager
def patched(obj, name: str, value):
    """Set ``obj.name`` to ``value`` for the block, then restore it."""
    had = name in vars(obj)
    old = vars(obj).get(name)
    setattr(obj, name, value)
    try:
        yield
    finally:
        if had:
            setattr(obj, name, old)
        else:
            delattr(obj, name)


@contextmanager
def job_stage_spans(tracer: Tracer, sc):
    """Open a ``stage.<name>`` span when the pipeline labels a driver
    thread's jobs ``hsearch:<name>`` and close it when the label is
    cleared: the span covers exactly the stage's materialization."""
    prefix = "hsearch:"
    orig = sc.setJobDescription
    open_by_thread: dict[int, dict] = {}

    def hook(value):
        tid = threading.get_ident()
        if tid in open_by_thread:
            tracer.close(open_by_thread.pop(tid))
        if value and value.startswith(prefix):
            open_by_thread[tid] = tracer.open("stage." + value[len(prefix) :])
        return orig(value)

    with patched(sc, "setJobDescription", hook):
        yield


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
