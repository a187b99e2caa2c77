"""Span tracing from the benchmark's own files.

In the traced run the benchmark replaces selected public functions of
``dumpty_spark`` at the modules the callers look them up in (their import
sites) with wrappers that record a span: name, layer, start, end, parent
span and request id. Spans stay in memory and are written out when the
run ends. Each span also tags the Spark jobs it starts with its own job
group, so jobs and tasks can be counted per span with the status tracker.

Spark is lazy: a wrapper around a function that only builds a plan (for
example ``sources.jdbc.scan``) records plan-building time, and the scan
itself is paid inside the span of the action that runs it.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import threading
from dataclasses import asdict, dataclass, field

from elt_bench.health import JvmProbe, now


@dataclass
class Span:
    id: int
    name: str
    layer: str
    request: int
    parent: int | None
    start: float
    end: float = 0.0
    jobs: int = 0
    tasks: int = 0
    attrs: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, probe: JvmProbe):
        self.probe = probe
        self.spans: list[Span] = []
        self.request = -1
        self._root: int | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    # -- spans ------------------------------------------------------------
    def _stack(self) -> list[tuple[int, str | None]]:
        """This thread's open spans, each with the job group it replaced."""
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str, layer: str) -> Span:
        stack = self._stack()
        parent = stack[-1][0] if stack else self._root
        with self._lock:
            sp = Span(len(self.spans), name, layer, self.request, parent, now())
            self.spans.append(sp)
        stack.append((sp.id, self.probe.current_group()))
        self.probe.set_group(f"span-{sp.id}")
        return sp

    def close(self, sp: Span) -> None:
        sp.end = now()
        _, prev_group = self._stack().pop()
        self.probe.set_group(prev_group)
        jobs = self.probe.job_ids(f"span-{sp.id}")
        sp.jobs, sp.tasks = len(jobs), self.probe.tasks(jobs)

    def begin_request(self, i: int, name: str) -> Span:
        self.request = i
        self._root = None
        sp = self.open(name, "bench")
        self._root = sp.id
        return sp

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        sp = self.open(name, layer)
        try:
            yield sp
        finally:
            self.close(sp)

    # -- wrapping ---------------------------------------------------------
    def wrap(self, module: str, attr: str, on_result=None) -> None:
        """Replace ``module.attr`` with a wrapper that records a span named
        after the function's own module; ``on_result`` may record
        attributes of the result on the span."""
        mod = importlib.import_module(module)
        fn = getattr(mod, attr)
        layer = fn.__module__.split(".")[1]
        name = f"{fn.__module__.removeprefix('dumpty_spark.')}.{fn.__name__}"

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name, layer) as sp:
                out = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(sp, out)
                return out

        setattr(mod, attr, wrapper)
        self._patched.append((mod, attr, fn))

    def unwrap(self) -> None:
        for mod, attr, fn in reversed(self._patched):
            setattr(mod, attr, fn)
        self._patched.clear()

    # -- analysis ---------------------------------------------------------
    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its children cover (children
        on pipeline worker threads may overlap each other)."""
        kids: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                kids.setdefault(sp.parent, []).append(sp)
        out = {}
        for sp in self.spans:
            covered, cur_s, cur_e = 0.0, None, None
            for c in sorted(kids.get(sp.id, []), key=lambda c: c.start):
                s, e = max(c.start, sp.start), min(c.end, sp.end)
                if e <= s:
                    continue
                if cur_e is None or s > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = s, e
                else:
                    cur_e = max(cur_e, e)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[sp.id] = (sp.end - sp.start) - covered
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)
