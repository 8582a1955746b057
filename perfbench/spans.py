"""Spans around the benchmark's calls into the engine, and the fold of
Spark's own event log into them.

Untraced, a span only records its wall interval. Traced, each span also
adds a Spark job tag (``SparkSession.addTag``) for its duration, so every
job launched inside it carries the span's tag; nested spans stack tags,
so a job counts toward its span and every ancestor. After the session
stops, ``fold`` reads the uncompressed event log and attaches to each
span its jobs, their tasks' metrics and SQL accumulables.
"""

from __future__ import annotations

import json
import re
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

_TAG_RE = re.compile(r"pbspan-(\d+)$")

# SQL accumulables Spark's Python operators report per task (ms / bytes)
_ACCUMS = {
    "time to start Python workers": "python_start_ms",
    "time to initialize Python workers": "python_init_ms",
    "time to run Python workers": "python_run_ms",
    "data sent to Python workers": "arrow_to_python_bytes",
    "data returned from Python workers": "arrow_from_python_bytes",
}

COUNTERS = ("jobs", "tasks", "failed_tasks", "python_start_ms",
            "python_init_ms", "python_run_ms", "arrow_to_python_bytes",
            "arrow_from_python_bytes", "shuffle_write_bytes",
            "shuffle_read_bytes", "gc_ms", "executor_run_ms", "cpu_ms")


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    qid: str | None
    start: float  # epoch seconds, comparable with event-log timestamps
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    job_ids: list = field(default_factory=list)
    counters: dict = field(default_factory=dict)
    job_union_ms: float = 0.0

    @property
    def wall_ms(self) -> float:
        return (self.end - self.start) * 1e3


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, qid: str | None = None, **attrs):
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent.id if parent else None,
                  qid if qid is not None else (parent.qid if parent
                                               else None),
                  time.time(), attrs=dict(attrs))
        self.spans.append(sp)
        self._stack.append(sp)
        tag = f"pbspan-{sp.id}"
        if self.enabled:
            self.spark.addTag(tag)
        try:
            yield sp
        finally:
            sp.end = time.time()
            if self.enabled:
                self.spark.removeTag(tag)
            self._stack.pop()

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.id]

    # -- event-log fold --------------------------------------------------

    def fold(self, event_log: str) -> dict[int, dict]:
        """Attach event-log jobs and task metrics to every span. Returns
        the jobs ({job id: {submit, end, call_site, stages, spans}}) for
        callers that split a span's jobs further."""
        jobs: dict[int, dict] = {}
        stage_info: dict[int, dict] = {}
        stage_counters: dict[int, dict] = defaultdict(
            lambda: dict.fromkeys(COUNTERS, 0))
        with open(event_log) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    tags = props.get("spark.job.tags", "")
                    spans = {int(m.group(1)) for t in tags.split(",")
                             if (m := _TAG_RE.search(t))}
                    jobs[ev["Job ID"]] = {
                        "submit": ev["Submission Time"] / 1e3,
                        "end": ev["Submission Time"] / 1e3,
                        "call_site": props.get("callSite.short"),
                        "stages": list(ev["Stage IDs"]),
                        "spans": spans,
                    }
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    stage_info[info["Stage ID"]] = {
                        "submit": info.get("Submission Time", 0) / 1e3,
                        "end": info.get("Completion Time", 0) / 1e3,
                    }
                elif kind == "SparkListenerTaskEnd":
                    _add_task(stage_counters[ev["Stage ID"]], ev)
        for jid, job in jobs.items():
            c = dict.fromkeys(COUNTERS, 0)
            c["jobs"] = 1
            job["stage_ms"] = {}
            for s in job["stages"]:
                if s in stage_counters:
                    for k, v in stage_counters[s].items():
                        c[k] += v
                    info = stage_info.get(s)
                    if info:
                        job["stage_ms"][s] = {
                            "ms": (info["end"] - info["submit"]) * 1e3,
                            "python": stage_counters[s]["python_run_ms"] > 0}
            job["counters"] = c
        by_id = {s.id: s for s in self.spans}
        for jid, job in sorted(jobs.items()):
            for sid in job["spans"]:
                sp = by_id.get(sid)
                if sp is None:
                    continue
                sp.job_ids.append(jid)
        for sp in self.spans:
            sp.counters = dict.fromkeys(COUNTERS, 0)
            for jid in sp.job_ids:
                for k, v in jobs[jid]["counters"].items():
                    sp.counters[k] += v
            sp.job_union_ms = union_ms(
                [(jobs[j]["submit"], jobs[j]["end"]) for j in sp.job_ids],
                sp.start, sp.end)
        return jobs

    def coverage(self) -> list[dict]:
        """Per span: wall time, the share its child spans cover, the share
        Spark jobs cover, and the name of the uncovered gap."""
        out = []
        for sp in self.spans:
            kids = self.children(sp)
            d = {"id": sp.id, "name": sp.name, "parent": sp.parent,
                 "qid": sp.qid, "wall_ms": round(sp.wall_ms, 3),
                 **sp.attrs}
            wall = max(sp.end - sp.start, 1e-9)
            if kids:
                cover = union_ms([(k.start, k.end) for k in kids],
                                 sp.start, sp.end) / 1e3 / wall
                d["child_cover"] = round(cover, 4)
                d["gap"] = ("benchmark code and engine calls without a span "
                            "of their own")
            else:
                d["job_cover"] = round(sp.job_union_ms / 1e3 / wall, 4)
                d["gap"] = ("engine driver-side Python and Spark planning "
                            "outside any job")
            if sp.counters:
                d.update({k: round(v, 3) for k, v in sp.counters.items()})
            out.append(d)
        return out


def _add_task(c: dict, ev: dict) -> None:
    info = ev.get("Task Info") or {}
    tm = ev.get("Task Metrics") or {}
    c["tasks"] += 1
    reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
    if info.get("Failed") or reason != "Success":
        c["failed_tasks"] += 1
    c["gc_ms"] += tm.get("JVM GC Time", 0)
    c["executor_run_ms"] += tm.get("Executor Run Time", 0)
    c["cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
    c["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
        "Shuffle Bytes Written", 0)
    rd = tm.get("Shuffle Read Metrics") or {}
    c["shuffle_read_bytes"] += (rd.get("Remote Bytes Read", 0)
                                + rd.get("Local Bytes Read", 0))
    for acc in info.get("Accumulables") or []:
        key = _ACCUMS.get(acc.get("Name"))
        if key is not None:
            c[key] += float(acc.get("Update") or 0)


def union_ms(intervals, lo: float, hi: float) -> float:
    """Length in ms of the union of (start, end) intervals clipped to
    [lo, hi] (all in epoch seconds)."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total * 1e3


def tracker_ms(df) -> float:
    """Sum of the Catalyst phase durations (analysis, optimization,
    planning) recorded on the DataFrame's QueryExecution."""
    phases = df._jdf.queryExecution().tracker().phases()
    it = phases.valuesIterator()
    total = 0
    while it.hasNext():
        total += it.next().durationMs()
    return float(total)
