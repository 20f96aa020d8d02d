"""Span recorder and Spark status-store reader for the traced benchmark run.

Spans are kept in memory as (name, start, end, parent, run id) and written
out when the run ends. Each open span is also the Spark job group of the
calling thread, so every stage Spark runs is attributed to the innermost
span that was open when its job was submitted; a span's Spark counters
read from the status store are therefore its *self* counters.
"""

from __future__ import annotations

import json
import re
import statistics
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: str
    name: str
    start: float
    parent: str | None
    run_id: str
    end: float | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return (self.end if self.end is not None else time.perf_counter()) \
            - self.start


class SpanRecorder:
    """A stack of open spans; the top of the stack is the job group."""

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def begin(self, name: str, **attrs) -> Span:
        parent = self._stack[-1].sid if self._stack else None
        s = Span(f"{self.run_id}:{len(self.spans)}", name,
                 time.perf_counter(), parent, self.run_id, attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.sid, name)
        return s

    def end(self, span: Span) -> None:
        """Close *span* and any child it left open (an exception that
        unwinds through several layers closes them all here)."""
        if span not in self._stack:
            return
        now = time.perf_counter()
        while self._stack:
            top = self._stack.pop()
            top.end = now
            if top is span:
                break
        self.sc.setJobGroup(self._stack[-1].sid if self._stack else
                            f"{self.run_id}:idle", "idle")

    def open(self, name: str) -> Span | None:
        """Innermost open span called *name*, if any."""
        for s in reversed(self._stack):
            if s.name == name:
                return s
        return None

    def wrap(self, fn, name_of, after=None):
        """``fn`` wrapped in a span named ``name_of(*args)``; ``after(span,
        result, *args)`` may attach attributes once ``fn`` returns."""
        def wrapped(*args, **kwargs):
            s = self.begin(name_of(*args))
            try:
                out = fn(*args, **kwargs)
                if after is not None:
                    after(s, out, *args, **kwargs)
                return out
            finally:
                self.end(s)
        wrapped.__wrapped__ = fn
        return wrapped

    def self_time(self, span: Span) -> float:
        kids = sum(c.dur for c in self.spans if c.parent == span.sid)
        return span.dur - kids

    def table(self) -> dict[str, dict]:
        """Per span name: calls, total wall and self time (seconds)."""
        out: dict[str, dict] = {}
        for s in self.spans:
            if s.end is None:
                continue
            row = out.setdefault(s.name, {"calls": 0, "total_s": 0.0,
                                          "self_s": 0.0})
            row["calls"] += 1
            row["total_s"] += s.dur
            row["self_s"] += self.self_time(s)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([{"id": s.sid, "name": s.name, "start": s.start,
                        "end": s.end, "parent": s.parent,
                        "run_id": s.run_id, **s.attrs}
                       for s in self.spans], f, indent=1)


def _iter(scala_seq):
    it = scala_seq.iterator()
    while it.hasNext():
        yield it.next()


_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "B": 1.0, "KiB": 2.0 ** 10, "MiB": 2.0 ** 20, "GiB": 2.0 ** 30,
          "TiB": 2.0 ** 40}
_VALUE = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*(ms|s|m|h|B|KiB|MiB|GiB|TiB)?")


def parse_sql_metric(text: str) -> float:
    """A SQL metric as the status store formats it: '8,000', '23 ms',
    '1.2 KiB', or a 'total (min, med, max ...)' header followed by the
    total on the next line. Times come back in seconds, sizes in bytes."""
    line = text.strip().splitlines()[-1]
    m = _VALUE.match(line.strip())
    if m is None:
        raise ValueError(f"unparsable SQL metric {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


@dataclass
class StageTotals:
    cpu_s: float = 0.0
    run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_b: float = 0.0
    spill_b: float = 0.0
    output_b: float = 0.0
    tasks: int = 0
    task_skew: float = 0.0

    @property
    def disk_write_b(self) -> float:
        """Bytes Spark tasks put on local disk: table and staging files,
        shuffle files and spills."""
        return self.output_b + self.shuffle_write_b + self.spill_b


class StatusReader:
    """Reads job, stage and SQL-operator metrics from the in-process
    status stores (they are populated with the web UI disabled). The job
    list is read once, when the reader is made: make a new reader to see
    jobs that ran after that."""

    def __init__(self, spark):
        self.store = spark.sparkContext._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self._jobs: dict[str, list[tuple[int, list[int]]]] | None = None

    def jobs_by_group(self) -> dict[str, list[tuple[int, list[int]]]]:
        if self._jobs is None:
            self._jobs = {}
            for j in _iter(self.store.jobsList(None)):
                g = j.jobGroup()
                key = g.get() if g.isDefined() else ""
                self._jobs.setdefault(key, []).append(
                    (j.jobId(), list(_iter(j.stageIds()))))
        return self._jobs

    def stage_totals(self, groups: set[str], skew: bool = False) -> StageTotals:
        """Totals over every stage of every job in *groups*. With ``skew``,
        also max / median task duration in the stage that ran longest."""
        t = StageTotals()
        seen: set[int] = set()
        longest = None
        for g, jobs in self.jobs_by_group().items():
            if g not in groups:
                continue
            for _jid, stage_ids in jobs:
                for sid in stage_ids:
                    if sid in seen:
                        continue
                    seen.add(sid)
                    try:
                        st = self.store.lastStageAttempt(sid)
                    except Exception:   # skipped stage: never attempted
                        continue
                    if st.numCompleteTasks() == 0:
                        continue
                    t.cpu_s += st.executorCpuTime() / 1e9
                    t.run_s += st.executorRunTime() / 1e3
                    t.gc_s += st.jvmGcTime() / 1e3
                    t.shuffle_write_b += st.shuffleWriteBytes()
                    t.spill_b += st.diskBytesSpilled()
                    t.output_b += st.outputBytes()
                    t.tasks += st.numCompleteTasks()
                    if longest is None or st.executorRunTime() > longest[2]:
                        longest = (sid, st.attemptId(), st.executorRunTime())
        if skew and longest is not None:
            durs = [d.get() for d in (x.duration() for x in _iter(
                self.store.taskList(longest[0], longest[1], 100000)))
                    if d.isDefined()]
            med = statistics.median(durs) if durs else 0
            t.task_skew = max(durs) / med if med > 0 else 1.0
        return t

    def job_ids(self, groups: set[str]) -> set[int]:
        return {jid for g, jobs in self.jobs_by_group().items()
                if g in groups for jid, _ in jobs}

    def sql_nodes(self, groups: set[str]):
        """(node name, {metric name: value}) for every plan node of every
        SQL execution that ran a job in *groups*."""
        jobs = self.job_ids(groups)
        for e in _iter(self.sql.executionsList()):
            if not jobs.intersection(int(k) for k in _iter(e.jobs().keys())):
                continue
            values = self.sql.executionMetrics(e.executionId())
            for node in _iter(self.sql.planGraph(e.executionId()).allNodes()):
                ms = {}
                for m in _iter(node.metrics()):
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        ms[m.name()] = parse_sql_metric(v.get())
                yield node.name(), ms
