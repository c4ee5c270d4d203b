"""In-memory spans for the traced run.

A span has a name, start, end (``perf_counter_ns``), the span that
caused it (``parent``) and the request it belongs to (``req``).  Spans
stay in memory and are written once, when the run ends.  Layer wrappers
are installed from the benchmark's own files around calls into the
program's public functions; nothing inside the program is edited.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._ids = itertools.count(1)
        self._local = threading.local()

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def pending(self) -> list[dict]:
        """Spans closed on this thread since the last ``flush``."""
        p = getattr(self._local, "pending", None)
        if p is None:
            p = self._local.pending = []
        return p

    def current(self) -> dict | None:
        st = self._stack()
        return st[-1] if st else None

    @contextmanager
    def span(self, name: str, **attrs):
        st = self._stack()
        sp = {
            "id": next(self._ids),
            "parent": st[-1]["id"] if st else None,
            "name": name,
            "start": time.perf_counter_ns(),
            "end": None,
            "req": None,
            **attrs,
        }
        st.append(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter_ns()
            st.pop()
            self.pending().append(sp)

    def flush(self, req) -> None:
        """Tag this thread's closed spans with request id ``req`` and
        move them to the run's span list."""
        p = self.pending()
        for sp in p:
            sp["req"] = req
        with self._lock:
            self.spans.extend(p)
        p.clear()

    def wrap(self, owner, attr: str, name: str, before=None, after=None) -> None:
        """Replace ``owner.attr`` by a wrapper that records span
        ``name``.  ``before(sp, args, kwargs)`` and ``after(sp, result,
        args, kwargs)`` may add attributes; ``after`` runs outside the
        timed interval."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as sp:
                if before is not None:
                    before(sp, args, kwargs)
                result = fn(*args, **kwargs)
            if after is not None:
                after(sp, result, args, kwargs)
            return result

        setattr(owner, attr, traced)


def self_time_ns(spans: list[dict]) -> dict[int, int]:
    """span id -> duration minus the time its children cover (the union
    of child intervals, clipped to the parent)."""
    kids: dict[int, list[tuple[int, int]]] = {}
    for sp in spans:
        if sp["parent"] is not None:
            kids.setdefault(sp["parent"], []).append((sp["start"], sp["end"]))
    out = {}
    for sp in spans:
        covered, cur_s, cur_e = 0, None, None
        for s, e in sorted(kids.get(sp["id"], ())):
            s, e = max(s, sp["start"]), min(e, sp["end"])
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
        out[sp["id"]] = sp["end"] - sp["start"] - covered
    return out
