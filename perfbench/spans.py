"""Spans around calls into the program, and Spark's event log attributed to them.

A span has a name, a start, an end, a parent and the run id. While a span is
open, the Spark local property ``perfbench.span`` holds its id, so every job
the event log records carries the id of the innermost span that submitted it.
Spans stay in memory and are written out once, at the end of the run.

Nothing here touches the program unless ``Tracer.instrument`` is called: the
untraced run measures the program as users get it.
"""

from __future__ import annotations

import contextlib
import functools
import json
import sys
import time
from dataclasses import dataclass, field
from pathlib import Path

SPAN_PROPERTY = "perfbench.span"

# Stage accumulables that count bytes crossing the JVM <-> Python seam
PY_OUT = "data sent to Python workers"
PY_IN = "data returned from Python workers"

# Driver-side actions counted per span (DataFrame methods)
ACTIONS = ("collect", "toPandas", "count", "first", "take")


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float  # epoch seconds, comparable with the event log's times
    end: float = 0.0
    counts: dict[str, int] = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder. ``spark`` may be set later; until then spans only time."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.spark = None
        self._undo: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None, time.time())
        self.spans.append(s)
        self._stack.append(s)
        self._set_property(str(s.id))
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._set_property(str(parent.id) if parent else None)

    def count(self, key: str, n: int = 1) -> None:
        if self._stack:
            c = self._stack[-1].counts
            c[key] = c.get(key, 0) + n

    def _set_property(self, value: str | None) -> None:
        if self.spark is not None:
            self.spark.sparkContext.setLocalProperty(SPAN_PROPERTY, value)

    # -- instrumentation -------------------------------------------------

    def wrap_everywhere(self, module, attr: str, span_name: str) -> None:
        """Replace ``module.attr`` with a spanned wrapper at every name it is
        looked up under: the defining module and each program module that
        imported it by name."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def wrapper(*a, **k):
            with self.span(span_name):
                return orig(*a, **k)

        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("discogs_load_spark"):
                for name, val in list(vars(mod).items()):
                    if val is orig:
                        self._undo.append((mod, name, orig))
                        setattr(mod, name, wrapper)

    def count_actions(self, spark) -> None:
        """Count driver-side DataFrame actions and the rows they bring back.

        Patched on the class the session's frames actually have (PySpark 4's
        classic DataFrame overrides every action of ``pyspark.sql.DataFrame``).
        Only the outermost action counts: ``first`` calls ``take``, which
        calls ``collect``."""
        cls = type(spark.range(0))
        tracer = self
        depth = [0]

        def make(orig, action):
            @functools.wraps(orig)
            def wrapper(df, *a, **k):
                depth[0] += 1
                try:
                    out = orig(df, *a, **k)
                finally:
                    depth[0] -= 1
                if depth[0] == 0:
                    tracer.count("driver_actions")
                    if action in ("collect", "take"):
                        tracer.count("collect_rows", len(out))
                    elif action == "toPandas":
                        tracer.count("collect_rows", len(out.index))
                    elif action == "first":
                        tracer.count("collect_rows", int(out is not None))
                return out

            return wrapper

        for action in ACTIONS:
            orig = getattr(cls, action)
            self._undo.append((cls, action, orig))
            setattr(cls, action, make(orig, action))

    def uninstrument(self) -> None:
        for owner, name, orig in reversed(self._undo):
            setattr(owner, name, orig)
        self._undo.clear()

    # -- output ------------------------------------------------------------

    def children(self) -> dict[int, list[int]]:
        kids: dict[int, list[int]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s.id)
        return kids

    def self_seconds(self, span: Span) -> float:
        """Span time minus the part of it its child spans cover."""
        covered = _union_length(
            [(self.spans[c].start, self.spans[c].end) for c in self.children().get(span.id, [])]
        )
        return max(span.seconds - covered, 0.0)

    def subtree(self, span_id: int) -> set[int]:
        kids = self.children()
        out, todo = set(), [span_id]
        while todo:
            i = todo.pop()
            out.add(i)
            todo.extend(kids.get(i, []))
        return out

    def write(self, path: Path) -> None:
        path.write_text(json.dumps({
            "run_id": self.run_id,
            "spans": [
                {"id": s.id, "name": s.name, "parent": s.parent, "start": s.start,
                 "end": s.end, "self_s": self.self_seconds(s), "run": self.run_id,
                 "counts": s.counts}
                for s in self.spans
            ],
        }))


def _union_length(intervals: list[tuple[float, float]]) -> float:
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


# -- event log ---------------------------------------------------------------


@dataclass
class StageStats:
    tasks: int = 0
    failed_tasks: int = 0
    run_ms: float = 0.0
    cpu_ns: float = 0.0
    gc_ms: float = 0.0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0
    input_bytes: int = 0
    output_bytes: int = 0
    output_rows: int = 0
    py_out: int = 0
    py_in: int = 0

    def add(self, other: StageStats) -> None:
        for k, v in vars(other).items():
            setattr(self, k, getattr(self, k) + v)


@dataclass
class Job:
    id: int
    span: int | None
    start: float  # epoch seconds
    end: float
    stages: list[int]


@dataclass
class EventLog:
    jobs: dict[int, Job]
    stages: dict[int, StageStats]

    def jobs_in(self, span_ids: set[int]) -> list[Job]:
        return [j for j in self.jobs.values() if j.span in span_ids]

    def stats(self, jobs: list[Job], only_scans: bool = False) -> tuple[StageStats, int]:
        """Summed task metrics over the stages of ``jobs`` and the stage count.
        ``only_scans`` keeps stages that read input files."""
        total, n, seen = StageStats(), 0, set()
        for j in jobs:
            for sid in j.stages:
                st = self.stages.get(sid)
                if sid in seen or st is None or (only_scans and not st.input_bytes):
                    continue
                seen.add(sid)
                total.add(st)
                n += 1
        return total, n


def parse_event_log(path: Path) -> EventLog:
    jobs: dict[int, Job] = {}
    stages: dict[int, StageStats] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                span = (ev.get("Properties") or {}).get(SPAN_PROPERTY)
                jobs[ev["Job ID"]] = Job(
                    ev["Job ID"], int(span) if span not in (None, "") else None,
                    ev["Submission Time"] / 1000, 0.0, list(ev.get("Stage IDs", [])),
                )
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000
            elif kind == "SparkListenerTaskEnd":
                st = stages.setdefault(ev["Stage ID"], StageStats())
                st.tasks += 1
                if (ev.get("Task End Reason") or {}).get("Reason", "Success") != "Success":
                    st.failed_tasks += 1
                m = ev.get("Task Metrics") or {}
                st.run_ms += m.get("Executor Run Time", 0)
                st.cpu_ns += m.get("Executor CPU Time", 0)
                st.gc_ms += m.get("JVM GC Time", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                st.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                st.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                st.spill += m.get("Disk Bytes Spilled", 0)
                st.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                out = m.get("Output Metrics") or {}
                st.output_bytes += out.get("Bytes Written", 0)
                st.output_rows += out.get("Records Written", 0)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = stages.setdefault(info["Stage ID"], StageStats())
                for acc in info.get("Accumulables", []):
                    name = acc.get("Name", "")
                    if name == PY_OUT:
                        st.py_out += int(acc.get("Value", 0))
                    elif name == PY_IN:
                        st.py_in += int(acc.get("Value", 0))
    return EventLog(jobs, stages)


def find_event_log(log_dir: Path) -> Path:
    logs = [p for p in log_dir.iterdir() if not p.name.endswith(".inprogress")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {len(logs)}")
    return logs[0]


def busy_seconds(jobs: list[Job], start: float, end: float) -> float:
    """Wall time inside [start, end] during which at least one job ran."""
    return _union_length([(max(j.start, start), min(j.end, end)) for j in jobs if j.end > start and j.start < end])
