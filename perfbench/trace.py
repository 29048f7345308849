"""Benchmark-side spans and Spark work attribution.

A span is a timer the benchmark puts around one public engine call: name,
start, end, parent, and a request id shared by a request's spans. Spans are
kept in memory; the run prints them in its report when it ends.

In a traced run each span also sets the Spark job group of the calling
thread, so a job submitted from that thread is attributed to the span by
group. ``build_index`` commits some stages from its own plain threads,
which do not inherit the group; those jobs are attributed to the innermost
span whose interval holds the job's submission time. Task-level numbers
(CPU, GC, shuffle, bytes sent to Python workers) come from the Spark event
log.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Iterable, Iterator

GROUP_PREFIX = "perfbench-span-"
PY_SENT = "data sent to Python workers"


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    rid: int | None
    start: float = 0.0
    end: float = 0.0
    group: str | None = None
    jobs: list = field(default_factory=list)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; with a SparkContext it also tags jobs by span."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, rid: int | None = None) -> Iterator[Span]:
        parent = self._stack[-1] if self._stack else None
        if rid is None and parent is not None:
            rid = parent.rid
        s = Span(len(self.spans), name, parent.sid if parent else None, rid)
        self.spans.append(s)
        self._stack.append(s)
        if self.sc is not None:
            s.group = f"{GROUP_PREFIX}{s.sid}"
            self.sc.setJobGroup(s.group, name)
        s.start = time.time()
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self.sc is not None:
                s.jobs = sorted(
                    self.sc.statusTracker().getJobIdsForGroup(s.group))
                if parent is not None and parent.group is not None:
                    self.sc.setJobGroup(parent.group, parent.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def children(self, sid: int) -> list[Span]:
        return [s for s in self.spans if s.parent == sid]

    def subtree(self, sid: int) -> set[int]:
        out, stack = set(), [sid]
        while stack:
            cur = stack.pop()
            out.add(cur)
            stack.extend(s.sid for s in self.children(cur))
        return out

    def self_time(self, sid: int) -> float:
        """Span wall minus the part of it that child spans cover."""
        s = self.spans[sid]
        covered = union_length(
            [(c.start, c.end) for c in self.children(sid)], s.start, s.end)
        return s.wall - covered


def union_length(intervals: Iterable[tuple[float, float]],
                 lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
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
    return total


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def parse_event_log(lines: Iterable[str]) -> tuple[dict, list]:
    """Jobs ``{job_id: {submit, end, group, stages}}`` (times in epoch
    seconds) and one dict per finished task, tagged with its job."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            jobs[jid] = {
                "submit": ev["Submission Time"] / 1000.0,
                "end": None,
                "group": props.get("spark.jobGroup.id"),
                "stages": list(ev.get("Stage IDs") or []),
            }
            for st in jobs[jid]["stages"]:
                stage_job.setdefault(st, jid)
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            acc = {a.get("Name"): a.get("Update")
                   for a in info.get("Accumulables") or []}
            tasks.append({
                "stage": ev.get("Stage ID"),
                "launch": info.get("Launch Time", 0) / 1000.0,
                "finish": info.get("Finish Time", 0) / 1000.0,
                "run_s": m.get("Executor Run Time", 0) / 1000.0,
                "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                "shuffle_read": (sr.get("Remote Bytes Read", 0)
                                 + sr.get("Local Bytes Read", 0)),
                "python_in": _num(acc.get(PY_SENT)),
            })
    for t in tasks:
        t["job"] = stage_job.get(t["stage"])
    return jobs, tasks


def attribute_jobs(jobs: dict, spans: list[Span]) -> dict[int, int | None]:
    """Map each job to a span: by job group when the job carries a span's
    group, else to the innermost span whose interval holds the job's
    submission time (jobs from threads that did not inherit the group)."""
    by_group = {s.group: s.sid for s in spans if s.group}
    depth: dict[int, int] = {}
    for s in spans:  # parents precede children
        depth[s.sid] = 0 if s.parent is None else depth[s.parent] + 1
    out: dict[int, int | None] = {}
    for jid, job in jobs.items():
        sid = by_group.get(job["group"])
        if sid is None:
            holding = [s for s in spans
                       if s.start <= job["submit"] <= s.end]
            if holding:
                sid = max(holding, key=lambda s: depth[s.sid]).sid
        out[jid] = sid
    return out


def spark_metrics(span: Span, sids: set[int], owner: dict, jobs: dict,
                  tasks: list[dict]) -> dict:
    """Work of the jobs attributed to ``sids`` (a span subtree), and the
    part of ``span``'s wall not covered by any job (driver-side time)."""
    mine = {j for j, sid in owner.items() if sid in sids}
    ts = [t for t in tasks if t["job"] in mine]
    intervals = [(jobs[j]["submit"], jobs[j]["end"] or span.end)
                 for j in mine]
    mb = 1e6
    return {
        "jobs": len(mine),
        "tasks": len(ts),
        "executor_cpu_s": sum(t["cpu_s"] for t in ts),
        "gc_s": sum(t["gc_s"] for t in ts),
        "shuffle_write_mb": sum(t["shuffle_write"] for t in ts) / mb,
        "shuffle_read_mb": sum(t["shuffle_read"] for t in ts) / mb,
        "python_in_mb": sum(t["python_in"] for t in ts) / mb,
        "task_overhead_s": sum(
            max(0.0, (t["finish"] - t["launch"]) - t["run_s"]) for t in ts),
        "driver_gap_s": span.wall - union_length(
            intervals, span.start, span.end),
    }


def tasks_of_jobs(job_ids: Iterable[int], tasks: list[dict]) -> int:
    ids = set(job_ids)
    return sum(1 for t in tasks if t["job"] in ids)
