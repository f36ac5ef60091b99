"""Spans around calls into the program's layers, with Spark work per span.

Every run counts jobs, stages and tasks per span from
``SparkContext.statusTracker()``. With one client, every job that starts
inside a span's time window belongs to that span, so attribution is by
window: a span owns the job ids above the highest id known at its start.
Each span also labels its jobs with a job group named after it, so an
event log attributes them too; threads the program starts itself (the
tarball pool, the stream) do not inherit the label but are still counted
by window.

A traced run enables Spark's event log and, after the session stops,
reads per-job intervals and per-task executor metrics from it
(:func:`read_event_log`) to add driver-only time, executor run/CPU time,
shuffle, spill, GC and bytes written per span (:func:`layer_metrics`).
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import threading
import time
from dataclasses import dataclass, field

GROUP_KEY = "spark.jobGroup.id"
MB = 1e6


@dataclass
class Span:
    name: str
    phase: str
    parent: str | None
    t0: float
    t1: float = 0.0
    jobs: list[int] = field(default_factory=list)
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    files_written: int = 0

    @property
    def wall_s(self) -> float:
        return self.t1 - self.t0


def _parquet_files(path: str | None) -> set[str]:
    if not path or not os.path.isdir(path):
        return set()
    return {
        os.path.join(d, f)
        for d, _sub, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    }


class Tracer:
    """Records spans; call :meth:`bind` once the session exists."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.phase = "setup"
        self.extra: dict[str, list[float]] = {}
        self._lock = threading.Lock()
        self._open: list[Span] = []
        self._groups: set[str | None] = {None}
        self._stage_owner: dict[int, int] = {}
        self._sc = None

    def bind(self, spark) -> None:
        self._sc = spark.sparkContext
        self._tracker = self._sc.statusTracker()
        self._bus = self._sc._jsc.sc().listenerBus()

    def watch_group(self, group: str) -> None:
        """Count jobs of a group the program sets itself (a stream's run id)."""
        self._groups.add(group)

    def add(self, name: str, value: float) -> None:
        """A per-layer value the program reports itself; medians are kept."""
        if self.phase != "warmup":
            self.extra.setdefault(name, []).append(value)

    # -- job accounting ---------------------------------------------------
    def _drain(self) -> None:
        # job events reach the status store asynchronously; the action
        # has returned, so its events are queued: wait until processed
        self._bus.waitUntilEmpty(30_000)

    def _job_ids(self) -> set[int]:
        ids: set[int] = set()
        for g in list(self._groups):
            ids.update(self._tracker.getJobIdsForGroup(g))
        return ids

    def _account(self, span: Span, since: int) -> None:
        jobs = sorted(j for j in self._job_ids() if j > since)
        span.jobs = jobs
        for jid in jobs:
            info = self._tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in list(info.stageIds):
                with self._lock:
                    owner = self._stage_owner.setdefault(sid, jid)
                if owner != jid:
                    continue  # a stage reused from an earlier job ran there
                st = self._tracker.getStageInfo(sid)
                if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                    continue  # skipped
                span.stages += 1
                span.tasks += st.numCompletedTasks
                span.failed_tasks += st.numFailedTasks

    # -- spans --------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, *, out: str | None = None):
        """Time the block; attribute the Spark jobs it starts; with ``out``,
        count the parquet files it leaves there that were not there before."""
        with self._lock:
            parent = self._open[-1].name if self._open else None
        sc = self._sc
        since, prev_group = -1, None
        if sc is not None:
            self._drain()
            since = max(self._job_ids(), default=-1)
            prev_group = sc.getLocalProperty(GROUP_KEY)
            self._groups.add(name)
            sc.setLocalProperty(GROUP_KEY, name)
        before = _parquet_files(out)
        span = Span(name, self.phase, parent, time.time())
        with self._lock:
            self._open.append(span)
        try:
            yield span
        finally:
            span.t1 = time.time()
            with self._lock:
                self._open.remove(span)
            if sc is not None:
                sc.setLocalProperty(GROUP_KEY, prev_group)
                self._drain()
                self._account(span, since)
            if out is not None:
                span.files_written = len(_parquet_files(out) - before)
            with self._lock:
                self.spans.append(span)

    def wrap(self, owner, attr: str, name: str, *, main_thread_only: bool = True) -> None:
        """Replace ``owner.attr`` with a spanned version, for a layer the
        program calls from inside another layer. With
        ``main_thread_only``, calls from other threads run unspanned:
        concurrent calls would share one time window."""
        fn = getattr(owner, attr)
        tracer = self

        def spanned(*args, **kwargs):
            if main_thread_only and threading.current_thread() is not threading.main_thread():
                return fn(*args, **kwargs)
            with tracer.span(name):
                return fn(*args, **kwargs)

        spanned.__wrapped__ = fn
        setattr(owner, attr, spanned)


# --------------------------------------------------------------------------
# event log (traced run)


def event_log_files(log_dir: str) -> list[str]:
    """The rolling event log's files in write order."""
    files = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))

    def index(path: str) -> int:
        return int(os.path.basename(path).split("_")[1])

    return sorted(files, key=index)


def _lines(path: str):
    import pyarrow as pa

    compression = "zstd" if path.endswith(".zstd") else None
    with pa.input_stream(path, compression=compression) as fh:
        buf = b""
        while chunk := fh.read(1 << 20):
            buf += chunk
            *whole, buf = buf.split(b"\n")
            yield from whole
        if buf.strip():
            yield buf


def read_event_log(files: list[str]) -> dict:
    """Jobs (submission, completion, stage ids) and per-stage task totals."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    for path in files:
        for line in _lines(path):
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = {
                    "submit": ev["Submission Time"] / 1000,
                    "stages": ev["Stage IDs"],
                    "group": (ev.get("Properties") or {}).get(GROUP_KEY),
                }
            elif kind == "SparkListenerJobEnd":
                jobs.setdefault(ev["Job ID"], {"submit": 0.0, "stages": []})
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
            elif kind == "SparkListenerTaskEnd":
                st = stages.setdefault(ev["Stage ID"], dict.fromkeys(
                    ("tasks", "failed", "run_s", "cpu_s", "gc_s", "shuffle_read",
                     "shuffle_write", "spill", "written"), 0))
                reason = (ev.get("Task End Reason") or {}).get("Reason")
                if reason == "Success":
                    st["tasks"] += 1
                elif reason not in ("TaskKilled", "TaskCommitDenied"):
                    st["failed"] += 1
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                st["run_s"] += m.get("Executor Run Time", 0) / 1e3
                st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                st["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                st["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                st["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                st["spill"] += m.get("Disk Bytes Spilled", 0)
                st["written"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    return {"jobs": jobs, "stages": stages}


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def span_log_metrics(span: Span, log: dict, owner: dict[int, int]) -> dict[str, float]:
    """A span's executor-side totals, stage/task counts from the log, and
    driver-only time (wall minus the union of its jobs' intervals)."""
    out = dict.fromkeys(("run_s", "cpu_s", "gc_s", "shuffle_read", "shuffle_write",
                         "spill", "written", "stages", "tasks", "failed"), 0.0)
    intervals = []
    for jid in span.jobs:
        job = log["jobs"].get(jid)
        if job is None:
            continue
        a, b = max(job["submit"], span.t0), min(job.get("end", span.t1), span.t1)
        if b > a:
            intervals.append((a, b))
        for sid in job["stages"]:
            st = log["stages"].get(sid)
            if owner.get(sid) != jid or st is None or st["tasks"] + st["failed"] == 0:
                continue
            out["stages"] += 1
            out["failed"] += st["failed"]
            for k in ("tasks", "run_s", "cpu_s", "gc_s", "shuffle_read", "shuffle_write",
                      "spill", "written"):
                out[k] += st[k]
    out["driver_only_s"] = max(0.0, span.wall_s - _covered(intervals))
    return out


def stage_owners(log: dict) -> dict[int, int]:
    """Each stage belongs to the first job that lists it; later jobs skip it."""
    owner: dict[int, int] = {}
    for jid in sorted(log["jobs"]):
        for sid in log["jobs"][jid]["stages"]:
            owner.setdefault(sid, jid)
    return owner


def layer_metrics(spans: list[Span], log: dict | None = None) -> tuple[dict[str, float], list[str]]:
    """Per-span-name counters: ``calls`` is the number of calls, every
    other counter is the median over calls. Warm-up spans are left out.
    With the event log, adds the traced counters and returns the spans
    whose stage/task counts disagree between the log and statusTracker."""
    by_name: dict[str, list[dict]] = {}
    mismatched = []
    owner = stage_owners(log) if log else {}
    for s in spans:
        if s.phase == "warmup":
            continue
        row = {"wall_s": s.wall_s, "jobs": len(s.jobs), "stages": s.stages,
               "tasks": s.tasks, "failed_tasks": s.failed_tasks}
        if log is not None:
            m = span_log_metrics(s, log, owner)
            if (m["stages"], m["tasks"], m["failed"]) != (s.stages, s.tasks, s.failed_tasks):
                mismatched.append(s.name)
            row.update(
                driver_only_s=m["driver_only_s"], exec_run_s=m["run_s"], exec_cpu_s=m["cpu_s"],
                exec_wait_s=max(0.0, m["run_s"] - m["cpu_s"]),
                shuffle_read_mb=m["shuffle_read"] / MB, shuffle_write_mb=m["shuffle_write"] / MB,
                spill_mb=m["spill"] / MB, gc_s=m["gc_s"], bytes_written_mb=m["written"] / MB,
                files_written=s.files_written,
            )
        by_name.setdefault(s.name, []).append(row)
    out: dict[str, float] = {}
    for name, rows in by_name.items():
        out[f"{name}.calls"] = len(rows)
        for key in rows[0]:
            out[f"{name}.{key}"] = statistics.median(r[key] for r in rows)
    return out, mismatched
