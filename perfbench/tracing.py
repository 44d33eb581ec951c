"""Measurement plumbing: spans, process-tree memory, Spark's event log.

Spans are recorded by the benchmark around its calls into each layer of the
engine and kept in memory until the run ends. A span has a name (the layer),
start and end (epoch seconds), a parent, and the trace id of the query,
micro-batch or file it belongs to.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from stats import covered


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    trace: str
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder. A disabled tracer records nothing and costs
    one branch per call, so untraced runs share the traced code path.

    Nesting is tracked per thread: a span opened on the thread that runs a
    streaming sink callback has no parent until :meth:`reparent` attaches it
    to its micro-batch."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def _new(self, name, start, end, parent, trace, attrs) -> Span:
        with self._lock:
            s = Span(len(self.spans), name, start, end, parent, trace, attrs)
            self.spans.append(s)
        return s

    @contextmanager
    def span(self, name: str, trace: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        s = self._new(name, time.time(), 0.0, stack[-1] if stack else None, trace, attrs)
        stack.append(s.id)
        try:
            yield s
        finally:
            stack.pop()
            s.end = time.time()

    def add(self, name: str, start: float, end: float, trace: str, parent: int | None = None, **attrs) -> int | None:
        """Record a span whose interval is known after the fact (e.g. from a
        streaming progress report)."""
        if not self.enabled:
            return None
        return self._new(name, start, end, parent, trace, attrs).id

    def reparent(self, child_ids, parent: int) -> None:
        for c in child_ids:
            self.spans[c].parent = parent

    def self_times(self) -> dict[str, tuple[float, int]]:
        """layer -> (total self seconds, span count). Self time is a span's
        duration minus the part of it covered by its children."""
        kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                kids[s.parent].append((s.start, s.end))
        out: dict[str, list] = defaultdict(lambda: [0.0, 0])
        for s in self.spans:
            d = max(0.0, s.end - s.start)
            own = d - covered(kids.get(s.id, []), s.start, s.end)
            out[s.name][0] += max(0.0, own)
            out[s.name][1] += 1
        return {k: (v[0], v[1]) for k, v in out.items()}

    def dump(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


# ---------------------------------------------------------------------------
# process-tree resident memory, read from /proc (no third-party dependency)
# ---------------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE") if hasattr(os, "sysconf") else 4096


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces; fields resume after ')'
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        kids[ppid].append(int(d))
    return kids


def _rss(pid: int) -> int:
    with open(f"/proc/{pid}/statm", "rb") as f:
        return int(f.read().split()[1]) * _PAGE


def _pss(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
        for line in f:
            if line.startswith(b"Pss:"):
                return int(line.split()[1]) * 1024
    raise ValueError("no Pss line")


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None  # ended, or a kernel thread


def _resident_bytes(pid: int, jvm: bool) -> int:
    """Resident memory of one process. Python processes count their
    proportional share (PSS), so the workers the PySpark daemon forks count
    the pages they share with it once. The JVM shares next to nothing, and
    walking its multi-gigabyte page tables for PSS would take tens of
    milliseconds under its memory-map lock, so it counts plain RSS."""
    try:
        if not jvm:
            try:
                return _pss(pid)
            except (OSError, ValueError):
                pass  # no smaps_rollup on this kernel
        return _rss(pid)
    except (OSError, IndexError, ValueError):
        return 0  # the process has ended


def tree_rss_bytes(root: int) -> int:
    """Resident memory of ``root`` and all its descendants.

    A process the JVM is starting runs in the JVM's own address space
    (``posix_spawn`` uses ``vfork``) until it executes its program; it then
    still shows the JVM's binary and full RSS, so it is skipped rather than
    counted as a second JVM."""
    kids = _children_map()
    todo: list[tuple[int, str | None]] = [(root, None)]
    total = 0
    while todo:
        pid, parent_exe = todo.pop()
        exe = _exe(pid)
        todo.extend((k, exe) for k in kids.get(pid, ()))
        jvm = exe is not None and os.path.basename(exe) == "java"
        if jvm and exe == parent_exe:
            continue
        total += _resident_bytes(pid, jvm)
    return total


class RssSampler:
    """Samples the resident memory of this process and all its descendants
    (JVM, Python workers) on a background thread."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.samples: list[int] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.samples.append(tree_rss_bytes(pid))
            self._stop.wait(self.interval_s)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        if self._stop.is_set():
            return
        self._stop.set()
        self._thread.join(timeout=5)
        self.samples.append(tree_rss_bytes(os.getpid()))

    @property
    def peak_mb(self) -> float:
        return max(self.samples) / 2**20 if self.samples else 0.0

    @property
    def median_mb(self) -> float:
        xs = sorted(self.samples)
        return xs[len(xs) // 2] / 2**20 if xs else 0.0


# ---------------------------------------------------------------------------
# Spark event log (spark.eventLog.enabled=true, uncompressed JSON lines)
# ---------------------------------------------------------------------------


@dataclass
class JobStats:
    job_id: int
    group: str | None
    submit: float  # epoch seconds
    end: float
    stages: int = 0
    tasks: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0


def _log_files(log_dir: str, app_id: str) -> list[str]:
    """The application's event files in write order: a single file, or the
    ``events_<n>_<app>`` parts of a rolling ``eventlog_v2_<app>`` directory."""

    def part(path: str) -> int:
        name = os.path.basename(path)
        return int(name.split("_")[1]) if name.startswith("events_") else 0

    found = glob.glob(os.path.join(log_dir, f"{app_id}*"))
    found += glob.glob(os.path.join(log_dir, f"eventlog_v2_{app_id}*", "events_*"))
    return sorted((p for p in found if os.path.isfile(p)), key=part)


def _events(paths: list[str]):
    for path in paths:
        with open(path, encoding="utf-8") as f:
            for line in f:
                try:
                    yield json.loads(line)
                except ValueError:
                    continue  # a torn last line of an unfinished log


def read_event_log(log_dir: str, app_id: str) -> list[JobStats]:
    """Per-job execution statistics from one application's log."""
    jobs: dict[int, JobStats] = {}
    stage_job: dict[int, int] = {}
    for ev in _events(_log_files(log_dir, app_id)):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            jobs[jid] = JobStats(
                jid,
                props.get("spark.jobGroup.id"),
                ev.get("Submission Time", 0) / 1000.0,
                ev.get("Submission Time", 0) / 1000.0,
            )
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = jid
        elif kind == "SparkListenerJobEnd":
            j = jobs.get(ev["Job ID"])
            if j is not None:
                j.end = ev.get("Completion Time", 0) / 1000.0
        elif kind == "SparkListenerStageCompleted":
            info = ev.get("Stage Info", {})
            j = jobs.get(stage_job.get(info.get("Stage ID")))
            if j is not None:
                j.stages += 1
        elif kind == "SparkListenerTaskEnd":
            j = jobs.get(stage_job.get(ev.get("Stage ID")))
            m = ev.get("Task Metrics") or {}
            if j is None or not m:
                continue
            j.tasks += 1
            j.run_s += m.get("Executor Run Time", 0) / 1000.0
            j.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            j.gc_s += m.get("JVM GC Time", 0) / 1000.0
            j.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            j.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    return sorted(jobs.values(), key=lambda j: j.job_id)


def jobs_within(jobs: list[JobStats], start: float, end: float) -> list[JobStats]:
    """Jobs submitted inside [start, end] (one client, so time attributes)."""
    return [j for j in jobs if start <= j.submit <= end]


def jobs_in_group(jobs: list[JobStats], group: str) -> list[JobStats]:
    """Jobs launched under the Spark job group ``group``."""
    return [j for j in jobs if j.group == group]


def job_totals(jobs: list[JobStats]) -> dict[str, float]:
    return {
        "jobs": len(jobs),
        "stages": sum(j.stages for j in jobs),
        "tasks": sum(j.tasks for j in jobs),
        "shuffle_bytes": sum(j.shuffle_bytes for j in jobs),
        "spill_bytes": sum(j.spill_bytes for j in jobs),
        "executor_run_s": sum(j.run_s for j in jobs),
        "executor_cpu_s": sum(j.cpu_s for j in jobs),
        "gc_s": sum(j.gc_s for j in jobs),
    }
