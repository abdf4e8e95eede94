"""Spans around the calls into the library's layers, recorded from outside.

``Tracer.patched`` replaces module attributes with wrappers that open a span
(name, start, end, parent, run id) around each call, and restores them on exit.
Spans stay in memory until ``write``. A span's self time is its duration minus
the part covered by its child spans.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import time


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.run = ""
        self._open: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._open[-1] if self._open else None,
            "run": self.run,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._open.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    @contextlib.contextmanager
    def patched(self, calls: list[tuple[str, str]]):
        """Trace every call to ``module.attr`` for each (module, attr) in ``calls``."""
        saved = []
        try:
            for mod_name, attr in calls:
                mod = importlib.import_module(mod_name)
                fn = getattr(mod, attr)
                name = f"{fn.__module__.removeprefix('timberjack_spark.')}.{fn.__name__}"
                saved.append((mod, attr, fn))
                setattr(mod, attr, self._wrap(fn, name))
            yield
        finally:
            for mod, attr, fn in reversed(saved):
                setattr(mod, attr, fn)

    def durations(self, name: str, run_prefix: str = "") -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["run"].startswith(run_prefix) and s["end"] is not None]

    def summary(self) -> dict[str, dict]:
        """Per span name: calls, total and self seconds."""
        child = {s["id"]: 0.0 for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, dict] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            d = s["end"] - s["start"]
            agg = out.setdefault(s["name"], {"calls": 0, "total_s": 0.0, "self_s": 0.0})
            agg["calls"] += 1
            agg["total_s"] += d
            agg["self_s"] += d - child[s["id"]]
        return out

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "summary": self.summary(), **extra}, fh, indent=1, default=str)
