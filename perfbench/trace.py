"""Benchmark-side tracing: spans, counters and Spark callsites.

Spans are kept in memory and written as JSON when the run ends. Each span
has a name, start, end, parent and the run id; its self time is its
duration minus the time its child spans cover. Counters accumulate
per-layer time and work counts at the same boundaries.

Nothing here reaches into the program: spans wrap the benchmark's calls
into ``greenocr_spark`` modules, and ``install_callsites`` only labels the
Spark jobs those calls start, so Spark's own event log can be grouped by
the ``greenocr_spark/<file>.py:<line>`` that started each job.
"""

from __future__ import annotations

import contextlib
import functools
import json
import linecache
import os
import sys
import time
from collections import defaultdict

_PKG = os.sep + "greenocr_spark" + os.sep


class Tracer:
    """In-memory span and counter store for one benchmark run."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        # called with the innermost open span's name (None outside every
        # span) whenever it changes, so the caller can label the Spark jobs
        # each span starts
        self.on_enter = None

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        if self.on_enter is not None:
            self.on_enter(name)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = rec["start"] + (time.perf_counter() - t0)
            self._stack.pop()
            if self.on_enter is not None:
                self.on_enter(self.spans[self._stack[-1]]["name"] if self._stack else None)

    def add(self, name: str, value: float) -> None:
        self.counters[name] += value

    def duration(self, name: str) -> float:
        """Total duration of the closed spans called ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def self_times(self) -> dict[int, float]:
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: (s["end"] - s["start"]) - child[s["id"]] for s in self.spans}

    def dump(self, path: str, extra: dict | None = None) -> None:
        self_s = self.self_times()
        doc = {
            "run_id": self.run_id,
            "spans": [{**s, "self_s": self_s[s["id"]]} for s in self.spans],
            "counters": dict(self.counters),
            **(extra or {}),
        }
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(doc, f, indent=1)


def _program_frame():
    """Innermost stack frame inside the greenocr_spark package, or None."""
    f = sys._getframe(2)
    while f is not None:
        fn = f.f_code.co_filename
        if _PKG in fn:
            rel = fn[fn.rindex(_PKG) + 1 :]
            code = linecache.getline(fn, f.f_lineno).strip()
            return rel, f.f_lineno, f"{f.f_code.co_name}: {code}"
        f = f.f_back
    return None


def install_callsites(sc) -> None:
    """Label every Spark job started from greenocr_spark code with its
    Python callsite.

    PySpark names only some actions (collect, first) after their Python
    caller; writes and isEmpty show up as ``NativeMethodAccessorImpl``.
    This wraps the PySpark entry points the program uses so the job's
    ``callSite.short`` reads ``<api> at greenocr_spark/<file>.py:<line>``
    and ``callSite.long`` adds the enclosing function and source line."""
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

    def wrap(cls, meth):
        fn = getattr(cls, meth)
        if getattr(fn, "_perfbench_wrapped", False):
            return

        @functools.wraps(fn)
        def inner(*args, **kwargs):
            site = _program_frame()
            if site is None:
                return fn(*args, **kwargs)
            rel, line, where = site
            short = f"{meth} at {rel}:{line}"
            prev = (sc.getLocalProperty("callSite.short"), sc.getLocalProperty("callSite.long"))
            sc.setLocalProperty("callSite.short", short)
            sc.setLocalProperty("callSite.long", f"{short} in {where}")
            try:
                return fn(*args, **kwargs)
            finally:
                sc.setLocalProperty("callSite.short", prev[0])
                sc.setLocalProperty("callSite.long", prev[1])

        inner._perfbench_wrapped = True
        setattr(cls, meth, inner)

    for meth in ("isEmpty", "collect", "first"):
        wrap(DataFrame, meth)
    wrap(DataFrameWriter, "parquet")
    wrap(DataFrameReader, "parquet")
