"""Spans, event-log parsing and the per-layer table for traced runs.

A span is one call into a layer, recorded by the benchmark around the
public function it calls: name, start, end, parent and run id, kept in
memory and written out at the end. Each span tags the Spark jobs its
thread launches (``spark.job.description = erbench:<span id>``); jobs
without a tag are joined to the deepest span whose time window holds their
submission. The layer of a span is its name up to the first dot
(``state.upsert`` belongs to ``state``).
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time
from collections import defaultdict
from dataclasses import dataclass

TAG = "erbench:"

LAYERS = (
    "session",
    "testdata",
    "assembly",
    "blocking",
    "scoring",
    "clustering",
    "dedup_docs",
    "ingest",
    "state",
)
STATE_METHODS = ("read_bucket_pruned", "upsert", "append_bucketed", "delete_keys", "upsert_replace")


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


class Tracer:
    """In-memory span recorder. ``enabled=False`` makes every span a no-op,
    so traced and untraced runs share one code path."""

    def __init__(self, sc=None, enabled: bool = True):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self.run_id = "setup"
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[int] = []
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if threading.current_thread() is self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        # a span opened on a pool thread hangs under the main thread's
        # innermost open span (the call that submitted the work)
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            sid = len(self.spans)
            span = Span(sid, name, time.time(), 0.0, parent, self.run_id)
            self.spans.append(span)
        prev = self.sc.getLocalProperty("spark.job.description") if self.sc else None
        if self.sc:
            self.sc.setJobDescription(f"{TAG}{sid}")
        stack.append(sid)
        try:
            yield
        finally:
            stack.pop()
            span.end = time.time()
            if self.sc:
                self.sc.setJobDescription(prev)


# -- event log ---------------------------------------------------------------
@dataclass
class Job:
    id: int
    start: float
    end: float
    span: int | None
    tasks: int = 0
    cpu_s: float = 0.0
    shuffle_bytes: int = 0


def read_event_log(lines) -> list[Job]:
    """Jobs with their task count, executor CPU seconds and shuffle bytes
    (read + written) from Spark event-log JSON lines. A stage counts for
    the first job that lists it; later jobs that list it skipped it."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
            span = int(desc[len(TAG):]) if desc.startswith(TAG) else None
            jid = ev["Job ID"]
            jobs[jid] = Job(jid, ev["Submission Time"] / 1000.0, ev["Submission Time"] / 1000.0, span)
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(ev["Stage ID"], -1))
            m = ev.get("Task Metrics")
            if job is None or not m:
                continue
            job.tasks += 1
            job.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            rd = m.get("Shuffle Read Metrics", {})
            job.shuffle_bytes += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            job.shuffle_bytes += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
    return sorted(jobs.values(), key=lambda j: j.id)


def read_event_log_dir(path: str) -> list[Job]:
    lines: list[str] = []
    for p in sorted(glob.glob(f"{path}/**/*", recursive=True)):
        if os.path.isdir(p):
            continue
        with open(p) as f:
            lines.extend(line for line in f if line.strip())
    return read_event_log(lines)


# -- interval arithmetic -------------------------------------------------------
def union(intervals) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [(s, e) for s, e in out]


def length(intervals) -> float:
    return sum(e - s for s, e in union(intervals))


def subtract(base: tuple[float, float], cut) -> list[tuple[float, float]]:
    """The parts of interval ``base`` that no interval in ``cut`` covers."""
    out, at = [], base[0]
    for s, e in union(cut):
        if e <= at or s >= base[1]:
            continue
        if s > at:
            out.append((at, s))
        at = max(at, e)
    if at < base[1]:
        out.append((at, base[1]))
    return out


# -- attribution -------------------------------------------------------------
def attribute(spans: list[Span], jobs: list[Job]) -> dict[int, list[Job]]:
    """span id -> the jobs it launched: by tag, else by the deepest span
    whose window holds the job's submission time."""
    depth: dict[int, int] = {}
    for s in spans:  # parents are recorded before their children
        depth[s.id] = 0 if s.parent is None else depth[s.parent] + 1
    out: dict[int, list[Job]] = defaultdict(list)
    ids = {s.id for s in spans}
    for j in jobs:
        sid = j.span if j.span in ids else None
        if sid is None:
            holding = [s for s in spans if s.start <= j.start <= s.end]
            if holding:
                sid = max(holding, key=lambda s: (depth[s.id], s.start)).id
        if sid is not None:
            out[sid].append(j)
    return out


def subtree_jobs(span: Span, spans: list[Span], by_span: dict[int, list[Job]]) -> list[Job]:
    """Jobs launched by ``span`` or any span under it."""
    out = list(by_span.get(span.id, []))
    for child in spans:
        if child.parent == span.id:
            out += subtree_jobs(child, spans, by_span)
    return out


def self_intervals(span: Span, spans: list[Span]) -> list[tuple[float, float]]:
    children = [(c.start, c.end) for c in spans if c.parent == span.id]
    return subtract((span.start, span.end), children)


def layer_table(spans: list[Span], jobs: list[Job], passes: int = 1) -> dict[str, float]:
    """Per-layer wall/self/job/task/cpu/shuffle/gap numbers, divided by
    ``passes``. Phase spans (names that are no layer) are roots only."""
    by_span = attribute(spans, jobs)
    job_iv = [(j.start, j.end) for j in jobs]
    acc: dict[str, dict[str, float]] = {
        layer: dict.fromkeys(("wall_s", "self_s", "jobs", "tasks", "cpu_s", "shuffle_mb", "gap_s"), 0.0)
        for layer in LAYERS
    }
    walls: dict[str, list] = defaultdict(list)
    for s in spans:
        if s.layer not in acc:
            continue
        row = acc[s.layer]
        own = self_intervals(s, spans)
        walls[s.layer].append((s.start, s.end))
        row["self_s"] += sum(e - b for b, e in own)
        row["gap_s"] += sum(sum(e - b for b, e in subtract(iv, job_iv)) for iv in own)
        for j in by_span.get(s.id, []):
            row["jobs"] += 1
            row["tasks"] += j.tasks
            row["cpu_s"] += j.cpu_s
            row["shuffle_mb"] += j.shuffle_bytes / 1e6
    out: dict[str, float] = {}
    for layer, row in acc.items():
        row["wall_s"] = length(walls[layer])
        for k, v in row.items():
            out[f"{layer}.{k}"] = v / passes
    return out


def cover_frac(spans: list[Span], roots: list[Span]) -> float:
    """Share of the roots' wall time that the self time of some layer span
    under them covers."""
    wall = sum(r.end - r.start for r in roots)
    inside = {r.id for r in roots}
    parent = {s.id: s.parent for s in spans}

    def under_root(sid):
        while sid is not None:
            if sid in inside:
                return True
            sid = parent[sid]
        return False

    covered = [iv for s in spans if s.layer in LAYERS and under_root(s.id) for iv in self_intervals(s, spans)]
    return length(covered) / wall if wall else 0.0
