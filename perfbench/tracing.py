"""Spans around the engine's public module functions, from outside the
engine, plus a count of py4j commands.

:meth:`Tracer.install` replaces every public function of the traced
modules with a wrapper, in the defining module and in every engine
module that imported it by name. Wrappers stay installed for the life
of the process and record only while :attr:`Tracer.active` is set, so
an untraced pass calls straight through. A wrapper keeps the wrapped
function's module and qualified name, so a function handed to
``mapInPandas`` still pickles by reference and the Python worker runs
the plain function.

A span records name, module, start, end, parent and thread. Its parent
is the innermost open span of the same thread or, for a thread the
engine started itself, the phase span the benchmark opened.
"""

from __future__ import annotations

import functools
import inspect
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

from eventlog import union_s


@dataclass
class Span:
    name: str
    module: str | None
    start: float
    end: float | None
    parent: int | None
    thread: str


class Tracer:
    def __init__(self, modules: dict[str, object], package_prefixes: tuple[str, ...]):
        """``modules`` maps a short module key (e.g. ``operators.dedup``)
        to the module whose public functions are traced;
        ``package_prefixes`` names the modules whose imported references
        are rewired too."""
        self.modules = modules
        self.package_prefixes = package_prefixes
        self.spans: list[Span] = []
        self.active = False
        self.py4j_cmds = 0
        self._lock = threading.Lock()
        self._local = threading.local()
        self._phase: int | None = None
        self._installed = False

    # -- spans -----------------------------------------------------------
    def _open(self, name: str, module: str | None) -> int:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else self._phase
        span = Span(name, module, time.time(), None, parent, threading.current_thread().name)
        with self._lock:
            self.spans.append(span)
            idx = len(self.spans) - 1
        stack.append(idx)
        return idx

    def _close(self, idx: int) -> None:
        self.spans[idx].end = time.time()
        self._local.stack.pop()

    @contextmanager
    def phase(self, name: str):
        """A benchmark phase: a root span that also parents the spans of
        threads the engine starts inside it."""
        idx = self._open(name, None)
        self._phase = idx
        try:
            yield idx
        finally:
            self._close(idx)
            self._phase = None

    # -- installation ----------------------------------------------------
    def _wrap(self, fn, key: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            idx = tracer._open(fn.__name__, key)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer._close(idx)

        return wrapper

    def _count_py4j(self, send):
        tracer = self

        @functools.wraps(send)
        def wrapper(*args, **kwargs):
            if tracer.active:
                with tracer._lock:
                    tracer.py4j_cmds += 1
            return send(*args, **kwargs)

        return wrapper

    def install(self) -> None:
        if self._installed:
            return
        wrappers = {}
        for key, mod in self.modules.items():
            for name, obj in list(vars(mod).items()):
                if (
                    not name.startswith("_")
                    and inspect.isfunction(obj)
                    and obj.__module__ == mod.__name__
                ):
                    wrappers[id(obj)] = (obj, self._wrap(obj, key))
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(self.package_prefixes):
                continue
            for attr, obj in list(vars(mod).items()):
                hit = wrappers.get(id(obj))
                if hit is not None and hit[0] is obj:
                    setattr(mod, attr, hit[1])
        from py4j import clientserver, java_gateway

        for cls in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):
            cls.send_command = self._count_py4j(cls.send_command)
        self._installed = True


def self_times(spans: list[Span], lo: float, hi: float) -> dict[int, float]:
    """Self time of every closed span that starts inside ``[lo, hi]``:
    its duration minus the part of it that its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    chosen = [
        i for i, s in enumerate(spans) if s.end is not None and lo <= s.start <= hi
    ]
    for i in chosen:
        parent = spans[i].parent
        if parent is not None:
            children.setdefault(parent, []).append((spans[i].start, spans[i].end))
    out = {}
    for i in chosen:
        s = spans[i]
        out[i] = (s.end - s.start) - union_s(children.get(i, ()), s.start, s.end)
    return out


def enclosing_span(spans: list[Span], t: float, candidates) -> int | None:
    """Innermost span among ``candidates`` whose interval holds ``t``."""
    best = None
    for i in candidates:
        s = spans[i]
        if s.start <= t <= (s.end if s.end is not None else t):
            if best is None or s.start >= spans[best].start:
                best = i
    return best
