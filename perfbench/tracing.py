"""Span tracer that wraps the program's public functions from the outside.

Nothing in the program is edited: :meth:`Tracer.install` replaces each
listed function with a timing wrapper in every loaded
``inspig_etl_spark`` module that binds it (so a name imported with
``from x import f`` at module top is wrapped too, and names imported inside
a function body pick up the wrapper from the defining module). Spans are
kept in memory — name, start, end, parent, operation id, thread — and
written out as JSON at exit.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import sys
import threading
import time
from dataclasses import asdict, dataclass

# (module, attribute, span name). ``Class.method`` attributes wrap methods.
TARGETS = (
    ("inspig_etl_spark.session", "get_spark", "session.get_spark"),
    ("inspig_etl_spark.catalog", "table", "catalog.table"),
    ("inspig_etl_spark.pipelines.weekly", "build_weekly_report", "weekly.build_weekly_report"),
    ("inspig_etl_spark.pipelines.weekly", "build_weekly_wide", "weekly.build_weekly_wide"),
    ("inspig_etl_spark.pipelines.weekly", "build_weekly_summary", "weekly.build_weekly_summary"),
    ("inspig_etl_spark.pipelines.on_demand", "run_single_farm", "on_demand.run_single_farm"),
    ("inspig_etl_spark.sources.sinks", "read_or_empty", "sinks.read_or_empty"),
    ("inspig_etl_spark.sources.sinks", "replace_by_key", "sinks.replace_by_key"),
    ("inspig_etl_spark.sources.sinks", "merge_upsert", "sinks.merge_upsert"),
    ("inspig_etl_spark.sources.sinks", "staged_overwrite", "sinks.staged_overwrite"),
    ("inspig_etl_spark.streaming.incremental", "RunManifest.record_step", "manifest.record_step"),
    ("inspig_etl_spark.streaming.incremental", "RunManifest.finish", "manifest.finish"),
    ("inspig_etl_spark.runner", "run_weekly_batch", "runner.run_weekly_batch"),
    ("inspig_etl_spark.runner", "run_collector", "runner.run_collector"),
    ("inspig_etl_spark.api", "handle_run_farm", "api.handle_run_farm"),
    ("inspig_etl_spark.api", "handle_status", "api.handle_status"),
    ("inspig_etl_spark.queries.weather_pipeline", "weather_pipeline_day", "weather.weather_pipeline_day"),
    ("inspig_etl_spark.queries.weather_pipeline", "observed_daily", "weather.observed_daily"),
)


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None
    thread: int
    attrs: dict | None = None

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. Spans on one thread nest by call order;
    ``op`` is the benchmark operation current when the span started, shared
    by every thread (operations are sequential, so the HTTP handler thread's
    spans join the client's operation)."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.op: int | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0
        self._restore: list[tuple[object, str, object]] = []
        # name -> (before(args, kwargs) -> state, after(state, args, kwargs) -> attrs)
        self.hooks: dict[str, tuple] = {}

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str) -> tuple[int, str, float, int | None, int | None]:
        st = self._stack()
        with self._lock:
            sid = self._next
            self._next += 1
        parent = st[-1] if st else None
        st.append(sid)
        return (sid, name, time.perf_counter(), parent, self.op)

    def end(self, token, attrs: dict | None = None) -> Span:
        sid, name, start, parent, op = token
        end = time.perf_counter()
        self._stack().pop()
        span = Span(sid, name, start, end, parent, op, threading.get_ident(), attrs)
        with self._lock:
            self.spans.append(span)
        return span

    @contextlib.contextmanager
    def span(self, name: str):
        token = self.begin(name)
        try:
            yield
        finally:
            self.end(token)

    def _hook_span(self, start: float, end: float) -> None:
        """Record a hook's run as a ``trace.hook`` child of the current span,
        so that the caller's self time does not include it."""
        st = self._stack()
        with self._lock:
            sid = self._next
            self._next += 1
            self.spans.append(Span(sid, "trace.hook", start, end, st[-1] if st else None,
                                   self.op, threading.get_ident()))

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            before, after = self.hooks.get(name, (None, None))
            if before:
                t0 = time.perf_counter()
                state = before(args, kwargs)
                self._hook_span(t0, time.perf_counter())
            else:
                state = None
            token = self.begin(name)
            try:
                result = fn(*args, **kwargs)
            finally:
                span = self.end(token)
            if after:
                t0 = time.perf_counter()
                span.attrs = after(state, args, kwargs)
                self._hook_span(t0, time.perf_counter())
            return result

        return traced

    def install(self, targets=TARGETS) -> None:
        """Wrap every target wherever the program's loaded modules bind it."""
        for mod_name, attr, name in targets:
            mod = importlib.import_module(mod_name)
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(mod, cls_name)
                orig = cls.__dict__[meth]
                self._restore.append((cls, meth, orig))
                setattr(cls, meth, self.wrap(orig, name))
                continue
            orig = getattr(mod, attr)
            traced = self.wrap(orig, name)
            for m_name, m in list(sys.modules.items()):
                if not m_name.startswith("inspig_etl_spark") or m is None:
                    continue
                if getattr(m, attr, None) is orig:
                    self._restore.append((m, attr, orig))
                    setattr(m, attr, traced)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()

    def dump(self, path: str, extra: dict | None = None) -> None:
        with open(path, "w") as f:
            json.dump(
                {"spans": [asdict(s) for s in self.spans], **(extra or {})}, f
            )


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> self time: the span's duration minus the part of its
    interval that its direct children cover (overlapping children are
    merged, so parallel children are not subtracted twice)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_start = cur_end = None
        for c in sorted(children.get(s.id, ()), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_end is None or lo > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = lo, hi
            else:
                cur_end = max(cur_end, hi)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.id] = s.dur - covered
    return out


def outermost(spans: list[Span], prefix: str) -> list[Span]:
    """Spans named ``prefix*`` whose ancestors carry no such name — so
    nested calls (build_weekly_report -> build_weekly_wide) count once."""
    by_id = {s.id: s for s in spans}
    out = []
    for s in spans:
        if not s.name.startswith(prefix):
            continue
        p = by_id.get(s.parent) if s.parent is not None else None
        while p is not None and not p.name.startswith(prefix):
            p = by_id.get(p.parent) if p.parent is not None else None
        if p is None:
            out.append(s)
    return out
