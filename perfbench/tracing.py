"""Measurement plumbing: statistics, host probes, spans, job groups and
Spark's own records (event log, streaming progress, checkpoint source
log).

Spans are kept in memory and written once at exit.  Each span records
its name, start, end, parent and the run id; while a span is open its
Spark jobs run under the job group ``perfbench:<run>:<span id>``, so the
event log attributes every job, stage and task to the layer call that
launched it.  Jobs outside any span keep whatever group the caller had
(a streaming query's micro-batch thread runs under the query's
``runId``); they are counted under that group, never dropped.
"""

from __future__ import annotations

import glob
import json
import math
import os
import re
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass
from datetime import datetime, timezone

# ------------------------------------------------------------ statistics


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def tail(values) -> tuple[float, float]:
    """The highest percentile that still has at least ten samples above
    it, and that percentile (0-100).  Below 21 samples that percentile
    would not lie above the median, so the maximum is returned with
    percentile 100."""
    v = sorted(values)
    if not v:
        return 0.0, 0.0
    if len(v) < 21:
        return float(v[-1]), 100.0
    i = len(v) - 11
    return float(v[i]), round(100.0 * (i + 1) / len(v), 1)


def geomean(values) -> float:
    v = [x for x in values if x > 0]
    return math.exp(sum(math.log(x) for x in v) / len(v)) if v else 0.0


def summary(values) -> dict:
    t, pct = tail(values)
    return {"p50": median(values), "tail": t, "tail_pct": pct, "n": len(values)}


# ------------------------------------------------------------ host probes


def loadavg_1min() -> float | None:
    try:
        with open("/proc/loadavg") as fh:
            return float(fh.read().split()[0])
    except (OSError, ValueError, IndexError):
        return None


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (``VmHWM``) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def reset_peak_rss() -> bool:
    """Reset this process's ``VmHWM`` to its current resident set
    (``clear_refs`` 5, Linux 4.0 and later); False where that is not
    allowed."""
    try:
        with open("/proc/self/clear_refs", "w") as fh:
            fh.write("5")
    except OSError:
        return False
    return True


def capacity_probe(spark) -> dict:
    """Fixed Python and JVM work (the shape of bench.py's calibrate):
    best of two, so a slow or loaded host shows next to the figures."""
    from pyspark.sql import functions as F

    py, jvm = [], []
    for _ in range(2):
        t0 = time.perf_counter()
        acc = 0
        for i in range(1_000_000):
            acc += i * i
        py.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        spark.range(5_000_000).select(F.sum(F.shiftrightunsigned(F.xxhash64("id"), 32))).collect()
        jvm.append(time.perf_counter() - t0)
    return {"py_s": round(min(py), 4), "jvm_s": round(min(jvm), 4), "loadavg_1min": loadavg_1min()}


# ----------------------------------------------------------------- spans


@dataclass
class Span:
    id: int
    name: str
    start: float
    parent: int | None
    end: float = 0.0


class Tracer:
    """Span recorder.  Disabled, ``span`` only times the call (the
    untraced run still needs per-operation latencies) and sets no job
    group."""

    _GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")

    def __init__(self, sc, run_id: str, enabled: bool) -> None:
        self.sc = sc
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self.bookkeeping_s = 0.0

    def group(self, span_id: int) -> str:
        return f"perfbench:{self.run_id}:{span_id}"

    @contextmanager
    def span(self, name: str, parent: int | None = None):
        """Time one layer call.  The parent is the innermost span open on
        this thread, or ``parent`` for a call made on another thread
        (a streaming query's batch callback)."""
        b0 = time.perf_counter()
        stack = self._local.__dict__.setdefault("stack", [])
        if parent is None and stack:
            parent = stack[-1]
        saved = None
        with self._lock:
            sp = Span(len(self.spans), name, 0.0, parent)
            if self.enabled:
                self.spans.append(sp)
        if self.enabled:
            stack.append(sp.id)
            saved = [self.sc.getLocalProperty(p) for p in self._GROUP_PROPS]
            self.sc.setJobGroup(self.group(sp.id), name)
        sp.start = time.perf_counter()
        overhead = sp.start - b0
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            if self.enabled:
                for prop, value in zip(self._GROUP_PROPS, saved):
                    self.sc.setLocalProperty(prop, value)
                stack.pop()
            with self._lock:
                self.bookkeeping_s += overhead + time.perf_counter() - sp.end

    def self_times(self, since: float = 0.0) -> dict[str, float]:
        """Per layer (the span name up to its first dot), over the spans
        that start at or after ``since``: span time minus the time its
        child spans cover."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] = child.get(s.parent, 0.0) + (s.end - s.start)
        out: dict[str, float] = {}
        for s in self.spans:
            if s.start < since:
                continue
            layer = s.name.split(".")[0]
            out[layer] = out.get(layer, 0.0) + (s.end - s.start) - child.get(s.id, 0.0)
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({"run": self.run_id, "id": s.id, "name": s.name, "parent": s.parent,
                                     "start": s.start, "end": s.end}) + "\n")


# ------------------------------------------------------------- event log


@dataclass
class GroupCounters:
    jobs: int = 0
    stages_run: int = 0
    stages_skipped: int = 0
    tasks: int = 0
    shuffle_write_bytes: int = 0
    executor_run_s: float = 0.0
    spill_bytes: int = 0


def read_event_log(log_dir: str, since_s: float = 0.0) -> dict[str, GroupCounters]:
    """Counters per job group from an uncompressed Spark event log
    (plain or rolled), over the jobs submitted at or after ``since_s``
    (epoch seconds) and their stages and tasks.  Every such job counts,
    whatever its group (jobs with no group count under ``""``).  A stage
    counts as run once per submission; a stage a job lists but never
    submits while it runs (its shuffle output was reused) counts as
    skipped.  Tasks are the tasks that ended, not the tasks planned."""
    files = sorted(
        (f for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True) if os.path.isfile(f)),
        key=lambda f: (os.path.dirname(f), [int(x) if x.isdigit() else x for x in re.split(r"(\d+)", os.path.basename(f))]),
    )
    active: dict[int, tuple[str, set[int]]] = {}  # job -> (group, stages not yet submitted)
    stage_group: dict[int, str] = {}
    early: set[int] = set()  # stages of jobs submitted before since_s
    out: dict[str, GroupCounters] = {}

    def g(name: str) -> GroupCounters:
        return out.setdefault(name, GroupCounters())

    for path in files:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue  # a torn last line of an in-progress log
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    if ev.get("Submission Time", 0) < since_s * 1000.0:
                        early.update(ev.get("Stage IDs", []))
                        continue
                    grp = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    active[ev["Job ID"]] = (grp, set(ev.get("Stage IDs", [])))
                    g(grp).jobs += 1
                elif kind == "SparkListenerStageSubmitted":
                    sid = ev["Stage Info"]["Stage ID"]
                    if sid in early:
                        continue
                    grp = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    stage_group[sid] = grp
                    g(grp).stages_run += 1
                    for _, pending in active.values():
                        pending.discard(sid)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in active:
                        grp, pending = active.pop(ev["Job ID"])
                        g(grp).stages_skipped += len(pending)
                elif kind == "SparkListenerTaskEnd":
                    if ev.get("Stage ID") in early:
                        continue
                    c = g(stage_group.get(ev.get("Stage ID"), ""))
                    c.tasks += 1
                    m = ev.get("Task Metrics") or {}
                    c.executor_run_s += m.get("Executor Run Time", 0) / 1000.0
                    c.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    c.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return out


def sum_counters(items) -> GroupCounters:
    total = GroupCounters()
    for c in items:
        for k in total.__dict__:
            setattr(total, k, getattr(total, k) + getattr(c, k))
    return total


# ------------------------------------------------------ streaming records


def progress_records(query) -> list[dict]:
    """The query's retained progress events, as dicts."""
    return [json.loads(p.json) for p in query.recentProgress]


def epoch_s(iso: str) -> float:
    """A progress ``timestamp`` (ISO-8601 UTC, ms) as epoch seconds."""
    return datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()


def source_file_batches(checkpoint_dir: str) -> dict[str, int]:
    """File name -> the micro-batch that read it, from the file source's
    log in the query checkpoint (``sources/0/<batch>[.compact]``)."""
    out: dict[str, int] = {}
    for path in glob.glob(os.path.join(checkpoint_dir, "sources", "0", "*")):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if not line.startswith("{"):
                    continue  # the "v1" version header
                entry = json.loads(line)
                out[os.path.basename(entry["path"])] = int(entry["batchId"])
    return out
