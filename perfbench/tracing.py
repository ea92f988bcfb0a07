"""Spans around the program's public calls, and Spark's own counters for them.

A ``Tracer`` records one span per call (name, start, end, parent span,
thread) and tags the Spark jobs each span starts with
``SparkContext.setJobGroup``. When the run ends, ``spark_metrics`` reads
every job and stage from Spark's monitoring REST API at
``sparkContext.uiWebUrl`` and ``group_metrics`` sums the stage counters
(shuffle, spill, input, output, GC, run time, failed tasks) per job group,
so each span carries the Spark work done inside it.

``NullTracer`` is the untraced stand-in: the same call sites, no spans,
no job groups, no materialisation.
"""

from __future__ import annotations

import itertools
import json
import re
import threading
import time
import urllib.parse
import urllib.request
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

#: Stage counters summed per job group (REST ``StageData`` field names).
STAGE_COUNTERS = (
    "numTasks", "numFailedTasks", "executorRunTime", "jvmGcTime", "inputBytes",
    "inputRecords", "outputBytes", "outputRecords", "shuffleReadBytes",
    "shuffleWriteBytes", "memoryBytesSpilled", "diskBytesSpilled",
)


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    thread: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"pb-{self.id}"

    @property
    def duration(self) -> float:
        return self.end - self.start


class NullTracer:
    """No spans, no job groups: the timed (untraced) runs."""

    materialize = False

    @contextmanager
    def span(self, name: str, **attrs):
        yield None

    def boundary(self, df):
        return df


class Tracer:
    """Spans kept in memory; Spark jobs tagged with the innermost span.

    With ``materialize`` set, ``boundary`` checkpoints a layer's output
    inside the layer's span, so the span holds that layer's work and the
    next layer reads the materialised rows instead of re-running the plan.
    """

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.materialize = False
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        with self._lock:
            sp = Span(next(self._ids), name, stack[-1].id if stack else None,
                      threading.current_thread().name, 0.0, attrs=dict(attrs))
            self.spans.append(sp)
        stack.append(sp)
        self.sc.setJobGroup(sp.group, name)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            if stack:
                self.sc.setJobGroup(stack[-1].group, stack[-1].name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def boundary(self, df):
        return df.localCheckpoint(eager=True) if self.materialize else df

    def write(self, path: str, groups: dict[str, dict] | None = None) -> None:
        """Write every span, with self time and its job group's counters."""
        self_times = self_time(self.spans)
        out = []
        for sp in self.spans:
            rec = asdict(sp)
            rec["self_s"] = self_times[sp.id]
            rec["spark"] = (groups or {}).get(sp.group, {})
            out.append(rec)
        with open(path, "w", encoding="utf-8") as f:
            json.dump(out, f)


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_time(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of it its direct children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append((sp.start, sp.end))
    out = {}
    for sp in spans:
        inside = [(max(lo, sp.start), min(hi, sp.end))
                  for lo, hi in children.get(sp.id, []) if hi > sp.start and lo < sp.end]
        out[sp.id] = sp.duration - _covered(inside)
    return out


# --- Spark monitoring REST API ----------------------------------------------


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as resp:
        return json.load(resp)


def rest_base(ui_url: str) -> str:
    """The REST root for a UI URL, addressed through the loopback interface
    (the UI listens on every interface; the host name may not resolve)."""
    port = urllib.parse.urlparse(ui_url).port
    return f"http://127.0.0.1:{port}/api/v1"


def spark_metrics(sc) -> tuple[list[dict], list[dict]]:
    """All jobs and stage attempts of this application, from the REST API.

    Waits until the status store has recorded the end of every job, since
    listener events arrive after the action that caused them returns."""
    base = rest_base(sc.uiWebUrl)
    app = sc.applicationId
    deadline = time.monotonic() + 30
    while True:
        jobs = _get(f"{base}/applications/{app}/jobs")
        if all(j.get("status") != "RUNNING" for j in jobs) or time.monotonic() > deadline:
            break
        time.sleep(0.2)
    stages = _get(f"{base}/applications/{app}/stages")
    return jobs, stages


def group_metrics(jobs: list[dict], stages: list[dict]) -> dict[str, dict]:
    """Per job group: ``jobs``, ``stages`` (run, not skipped), ``failed_jobs``
    and every ``STAGE_COUNTERS`` field summed over the group's stage
    attempts. Jobs without a group are filed under ``""``.

    A shuffle stage is listed by every job that reads its output but runs
    only in the first of them, so each stage counts for the lowest job id
    that lists it."""
    by_stage: dict[int, list[dict]] = {}
    for st in stages:
        by_stage.setdefault(st["stageId"], []).append(st)
    owner: dict[int, int] = {}
    for job in jobs:
        for sid in job.get("stageIds", []):
            owner[sid] = min(owner.get(sid, job["jobId"]), job["jobId"])
    out: dict[str, dict] = {}
    for job in jobs:
        g = out.setdefault(job.get("jobGroup") or "", {
            "jobs": 0, "stages": 0, "failed_jobs": 0, **{c: 0 for c in STAGE_COUNTERS}})
        g["jobs"] += 1
        g["failed_jobs"] += job.get("status") == "FAILED"
        for sid in job.get("stageIds", []):
            if owner[sid] != job["jobId"]:
                continue
            for st in by_stage.get(sid, []):
                if st.get("status") == "SKIPPED":
                    continue
                g["stages"] += 1
                for c in STAGE_COUNTERS:
                    g[c] += st.get(c, 0) or 0
    return out


def sum_groups(groups: dict[str, dict], names) -> dict:
    """Counters of several job groups added together."""
    total: dict = {}
    for n in names:
        for k, v in groups.get(n, {}).items():
            total[k] = total.get(k, 0) + v
    return total


_BROADCAST_JOIN = re.compile(r"\bBroadcast(?:HashJoin|NestedLoopJoin)\b")


def count_broadcast_joins(plan: str) -> int:
    """Broadcast join operators in a physical plan's text. With adaptive
    execution only the final plan counts (the text after
    ``isFinalPlan=true``, when present)."""
    final = plan.split("isFinalPlan=true", 1)
    body = final[1] if len(final) == 2 else plan
    body = body.split("+- == Initial Plan ==", 1)[0]
    return len(_BROADCAST_JOIN.findall(body))
