"""Spans and counts at the boundaries of the ``cdw_spark`` layers.

Nothing under ``cdw_spark/`` is edited: :class:`Tracer` swaps a wrapper in
for a layer's public function in every ``cdw_spark`` module that holds a
reference to it, and swaps the original back when the traced pass ends.
Each span records its name, start, end, parent, the operation it belongs
to, and the range of Spark job ids started inside it (the loop is one
closed-loop client, so every job started between a span's start and end
belongs to that span or to one of its children). Spans stay in memory and
are written out once, when the run ends.
"""

from __future__ import annotations

import importlib
import json
import os
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


def dir_bytes(path: str) -> int:
    """Bytes of every file under ``path`` (0 when it does not exist)."""
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


@dataclass
class Span:
    id: int
    name: str
    op: int | None
    parent: int | None
    start: float
    end: float = 0.0
    job_lo: int = 0
    job_hi: int = 0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Records spans for one run. ``active`` is False outside traced passes:
    a ``cdw_spark`` module first imported during a traced pass keeps the
    wrapper it bound, which then only passes calls through."""

    def __init__(self, spark):
        self._dag = spark.sparkContext._jsc.sc().dagScheduler()
        self._t0 = time.perf_counter()
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op: int | None = None
        self.active = False
        self._undo: list[tuple[object, str, object]] = []

    def jobs_started(self) -> int:
        return self._dag.numTotalJobs()

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, self.op, parent, time.perf_counter() - self._t0)
        s.attrs.update(attrs)
        s.job_lo = self.jobs_started()
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            s.job_hi = self.jobs_started()
            s.end = time.perf_counter() - self._t0
            self._stack.pop()

    # --- wrapping the layers' public functions -----------------------------

    def _swap(self, module_name: str, fn_name: str, make_wrapper) -> None:
        module = importlib.import_module(module_name)
        original = getattr(module, fn_name)
        wrapper = make_wrapper(original)
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith("cdw_spark"):
                continue
            for attr, value in list(vars(mod).items()):
                if value is original:
                    setattr(mod, attr, wrapper)
                    self._undo.append((mod, attr, original))

    def _timed(self, span_name: str, describe=None):
        """Wrapper factory: one span per call; ``describe(args, kwargs)``
        may add attributes before the call and returns a callback that adds
        attributes from the result."""

        def make(original):
            def wrapper(*args, **kwargs):
                if not self.active:
                    return original(*args, **kwargs)
                with self.span(span_name) as s:
                    after = describe(s, args, kwargs) if describe else None
                    out = original(*args, **kwargs)
                    if after:
                        after(out)
                    return out

            wrapper.__wrapped__ = original
            return wrapper

        return make

    def install(self) -> None:
        """Wrap every layer boundary the per-layer metrics read."""
        from cdw_spark.operators import artifacts

        def gate(s, args, kwargs):
            df = args[0]

            def after(out):
                s.attrs["fired"] = out is not df

            return after

        def serve(s, args, kwargs):
            names = ("spark", "family", "fixture_path", "version", "spec_text")
            a = dict(zip(names, args)) | kwargs
            d = artifacts.artifact_dir(a["family"], a["fixture_path"], a["version"], a["spec_text"])
            s.attrs["build"] = not os.path.exists(os.path.join(d, "_SUCCESS"))

        def write(s, args, kwargs):
            names = ("df", "name", "layout", "mode", "path")
            a = dict(zip(names, args)) | kwargs
            path = a.get("path")
            s.attrs["table"] = a["name"]
            before = dir_bytes(path) if path else 0

            def after(out):
                s.attrs["bytes"] = (dir_bytes(path) - before) if path else 0

            return after

        self._swap("cdw_spark.catalog", "load_fixture", self._timed("catalog.load_fixture"))
        self._swap("cdw_spark.plans.hints", "broadcast_if_small", self._timed("hints.broadcast_if_small", gate))
        self._swap("cdw_spark.plans.hints", "rebalance_scan", self._timed("hints.rebalance_scan", gate))
        self._swap("cdw_spark.operators.artifacts", "serve_at_rest", self._timed("artifacts.serve_at_rest", serve))
        self._swap("cdw_spark.operators.artifacts", "serve_summary_at_rest", self._timed("artifacts.serve_summary_at_rest"))
        self._swap("cdw_spark.streaming.source", "run_available_now", self._timed("streaming.run_available_now"))
        self._swap("cdw_spark.plans.layout", "write_table", self._timed("layout.write_table", write))
        self._swap("cdw_spark.sources.json_loader", "load_staging_events", self._timed("sources.load_staging"))
        self._swap("cdw_spark.sources.json_loader", "load_staging_songs", self._timed("sources.load_staging"))
        self.active = True

    def uninstall(self) -> None:
        self.active = False
        for mod, attr, original in reversed(self._undo):
            setattr(mod, attr, original)
        self._undo.clear()

    # --- read-out ----------------------------------------------------------

    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                out[s.parent].append(s)
        return out

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        record = dict(extra)
        record["spans"] = [
            {
                "id": s.id,
                "op": s.op,
                "name": s.name,
                "parent": s.parent,
                "start": round(s.start, 6),
                "end": round(s.end, 6),
                "jobs": s.job_hi - s.job_lo,
                **s.attrs,
            }
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump(record, f)


@dataclass
class EventLog:
    """What the Spark event log says about each job and stage."""

    job_stages: dict[int, list[int]] = field(default_factory=dict)
    ran: set[int] = field(default_factory=set)  # stages submitted (not skipped)
    tasks: dict[int, int] = field(default_factory=lambda: defaultdict(int))
    task_s: dict[int, float] = field(default_factory=lambda: defaultdict(float))
    shuffle_write_bytes: dict[int, int] = field(default_factory=lambda: defaultdict(int))

    def stages(self, span: Span) -> list[int]:
        """Stages that ran for the jobs started inside ``span``."""
        return [
            sid
            for job in range(span.job_lo, span.job_hi)
            for sid in self.job_stages.get(job, ())
            if sid in self.ran
        ]


def read_event_log(log_dir: str) -> EventLog:
    """Parse the (uncompressed) Spark event log files under ``log_dir``."""
    log = EventLog()
    paths = [os.path.join(root, f) for root, _, files in os.walk(log_dir) for f in files]
    for path in paths:
        with open(path) as f:
            for line in f:
                if '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    sid = ev["Stage ID"]
                    m = ev.get("Task Metrics") or {}
                    log.tasks[sid] += 1
                    log.task_s[sid] += m.get("Executor Run Time", 0) / 1000.0
                    sw = m.get("Shuffle Write Metrics") or {}
                    log.shuffle_write_bytes[sid] += sw.get("Shuffle Bytes Written", 0)
                elif '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    log.job_stages[ev["Job ID"]] = ev["Stage IDs"]
                elif '"SparkListenerStageSubmitted"' in line:
                    log.ran.add(json.loads(line)["Stage Info"]["Stage ID"])
    return log
