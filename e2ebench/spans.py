"""In-memory spans around calls into tapes_spark modules, and the Spark
event-log fold that turns them into per-layer counters.

A span carries name, start, end, parent and pass id.  While a span is the
innermost open one, every Spark job the driver submits is tagged with the
span's job group (``setJobGroup``), so the event log attributes jobs,
stages and tasks to spans.  Spans are recorded from the benchmark's own
files by wrapping module attributes for the duration of one traced pass;
no code inside ``tapes_spark`` is edited.

A span's self time is its duration minus the part of its interval that
its children cover (overlapping children count once).  A span's counters
are inclusive: they sum the jobs of the span and of all its descendants.
"""

from __future__ import annotations

import functools
import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    pass_id: str

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


def covered(intervals: list[tuple[float, float]], lo: float,
            hi: float) -> float:
    """Length of the union of *intervals* clipped to [lo, hi]."""
    total = 0.0
    cur_lo = cur_hi = None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    return {
        s.id: (s.end - s.start) - covered(
            [(c.start, c.end) for c in children.get(s.id, [])],
            s.start, s.end,
        )
        for s in spans
    }


def subtree(spans: list[Span], root: int) -> set[int]:
    ids = {root}
    for s in spans:  # spans are recorded in open order: parents first
        if s.parent in ids:
            ids.add(s.id)
    return ids


class Tracer:
    """Span recorder.  ``wrap`` installs span-recording wrappers that stay
    inert until ``active_pass`` opens a pass."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._pass_id: str | None = None
        self._patches: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ spans

    def _tag(self) -> None:
        if self._stack:
            s = self.spans[self._stack[-1]]
            self.sc.setJobGroup(f"span-{s.id}", s.name)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def span(self, name: str):
        if self._pass_id is None:
            yield None
            return
        s = Span(len(self.spans), name, time.time(), 0.0,
                 self._stack[-1] if self._stack else None, self._pass_id)
        self.spans.append(s)
        self._stack.append(s.id)
        self._tag()
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._tag()

    @contextmanager
    def active_pass(self, pass_id: str, name: str):
        self._pass_id = pass_id
        try:
            with self.span(name) as root:
                yield root
        finally:
            self._pass_id = None

    @property
    def current(self) -> str | None:
        return self.spans[self._stack[-1]].name if self._stack else None

    # --------------------------------------------------------- wrapping

    def patch(self, owner, attr: str, make) -> None:
        """Replace ``owner.attr`` by ``make(original)`` until
        ``unwrap_all``."""
        orig = getattr(owner, attr)
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def wrap(self, owner, attr: str, name) -> None:
        """Record a span around every call of ``owner.attr``; *name* is a
        string or a function of the call's arguments."""
        def make(orig):
            @functools.wraps(orig)
            def wrapper(*args, **kwargs):
                label = name(*args, **kwargs) if callable(name) else name
                with self.span(label):
                    return orig(*args, **kwargs)
            return wrapper

        self.patch(owner, attr, make)

    def unwrap_all(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


# ------------------------------------------------------------ event log

@dataclass
class StageStats:
    tasks: int = 0
    failed_tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_b: int = 0
    spill_b: int = 0
    output_b: int = 0
    arrow_s: float = 0.0
    arrow_rows: int = 0


@dataclass
class EventLog:
    job_group: dict[int, str | None] = field(default_factory=dict)
    job_window: dict[int, tuple[float, float]] = field(default_factory=dict)
    job_stages: dict[int, list[int]] = field(default_factory=dict)
    stages: dict[int, StageStats] = field(default_factory=dict)

    def jobs_of(self, span_ids: set[int]) -> list[int]:
        groups = {f"span-{i}" for i in span_ids}
        return [j for j, g in self.job_group.items() if g in groups]

    def totals(self, jobs: list[int]) -> StageStats:
        out = StageStats()
        for j in jobs:
            for sid in self.job_stages.get(j, ()):
                st = self.stages.get(sid)
                if st is None:
                    continue
                for k in vars(out):
                    setattr(out, k, getattr(out, k) + getattr(st, k))
        return out

    def top_stage_cpu_s(self, jobs: list[int]) -> float:
        return max(
            (self.stages[s].cpu_s for j in jobs
             for s in self.job_stages.get(j, ()) if s in self.stages),
            default=0.0,
        )


_ARROW_TIME = (
    "time to start Python workers",
    "time to initialize Python workers",
    "time to run Python workers",
)


def _arrow_accumulators(plan: dict, out: dict[int, str]) -> None:
    if plan.get("nodeName", "").startswith("ArrowEvalPython"):
        for m in plan.get("metrics", ()):
            out[m["accumulatorId"]] = m["name"]
    for c in plan.get("children", ()):
        _arrow_accumulators(c, out)


def _events(evdir: str):
    for root, _dirs, files in os.walk(evdir):
        for fn in sorted(files):
            if fn.startswith((".", "appstatus")):
                continue
            with open(os.path.join(root, fn)) as f:
                for line in f:
                    if line.strip():
                        yield json.loads(line)


def fold_event_log(evdir: str) -> EventLog:
    log = EventLog()
    arrow_acc: dict[int, str] = {}
    owned: set[int] = set()
    task_ends = []
    for ev in _events(evdir):
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            j = ev["Job ID"]
            log.job_group[j] = (ev.get("Properties") or {}).get(
                "spark.jobGroup.id")
            # a stage reused by a later job is listed again (as skipped);
            # its tasks belong to the first job that listed it
            log.job_stages[j] = [
                s for s in ev.get("Stage IDs", ()) if s not in owned
            ]
            owned.update(log.job_stages[j])
            log.job_window[j] = (ev["Submission Time"] / 1000.0, 0.0)
        elif kind == "SparkListenerJobEnd":
            j = ev["Job ID"]
            start = log.job_window.get(j, (0.0, 0.0))[0]
            log.job_window[j] = (start, ev["Completion Time"] / 1000.0)
        elif kind == "SparkListenerTaskEnd":
            task_ends.append(ev)
        elif "sparkPlanInfo" in ev:
            _arrow_accumulators(ev["sparkPlanInfo"], arrow_acc)
    for ev in task_ends:
        st = log.stages.setdefault(ev["Stage ID"], StageStats())
        info = ev.get("Task Info") or {}
        tm = ev.get("Task Metrics") or {}
        st.tasks += 1
        if info.get("Failed") or (ev.get("Task End Reason") or {}).get(
                "Reason", "Success") != "Success":
            st.failed_tasks += 1
        st.run_s += tm.get("Executor Run Time", 0) / 1e3
        st.cpu_s += tm.get("Executor CPU Time", 0) / 1e9
        st.gc_s += tm.get("JVM GC Time", 0) / 1e3
        st.spill_b += (tm.get("Memory Bytes Spilled", 0)
                       + tm.get("Disk Bytes Spilled", 0))
        st.shuffle_write_b += (tm.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0)
        st.output_b += (tm.get("Output Metrics") or {}).get(
            "Bytes Written", 0)
        for acc in info.get("Accumulables", ()):
            name = arrow_acc.get(acc.get("ID"))
            if name is None:
                continue
            upd = int(acc.get("Update") or 0)
            if name in _ARROW_TIME:
                st.arrow_s += upd / 1e3
            elif name == "number of output rows":
                st.arrow_rows += upd
    return log
