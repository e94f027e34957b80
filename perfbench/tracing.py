"""Measurement helpers that need no Spark: in-memory spans, the offline
Spark event-log parser, the ``/proc`` peak-RSS reader and the
order-independent digest of a ``(subj, pred, obj)`` set."""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import time
from contextlib import contextmanager


class Tracer:
    """Spans kept in memory: name, start, end, parent, attributes.
    Written out once, as one JSON document, when the run ends."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start_s": time.perf_counter() - self._t0,
            "end_s": None,
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec["attrs"]
        finally:
            self._stack.pop()
            rec["end_s"] = time.perf_counter() - self._t0

    def total(self, name: str) -> float:
        """Summed duration of every closed span called ``name``."""
        return sum(
            s["end_s"] - s["start_s"] for s in self.spans
            if s["name"] == name and s["end_s"] is not None
        )


# --------------------------------------------------------------------------
# Spark event log (spark.eventLog.enabled, uncompressed JSON lines).
# --------------------------------------------------------------------------


_PYTHON_SCOPES = ("InPandas", "InArrow", "EvalPython")


class StageStats:
    """Task totals of one stage attempt, with the plan operators (RDD
    scopes) it ran and its wall time."""

    def __init__(self) -> None:
        self.task_run_s: list[float] = []
        self.cpu_s = 0.0
        self.gc_s = 0.0
        self.shuffle_write_mb = 0.0
        self.spill_mb = 0.0
        self.scopes: set[str] = set()
        self.wall_s = 0.0

    @property
    def python(self) -> bool:
        """Does the stage run a Python (Arrow/pandas UDF) operator?"""
        return any(k in s for s in self.scopes for k in _PYTHON_SCOPES)

    def skew(self) -> float:
        """max ÷ median task run time (1.0 below two tasks)."""
        runs = self.task_run_s
        med = statistics.median(runs) if len(runs) > 1 else 0.0
        return max(runs) / med if med > 0 else 1.0


class GroupStats:
    """The jobs of one job group and the stages they ran."""

    def __init__(self, jobs=None, stages=None) -> None:
        self.jobs: set[int] = set(jobs or ())
        self.stages: dict[tuple[int, int], StageStats] = dict(stages or {})

    def _sum(self, field: str) -> float:
        return sum(getattr(st, field) for st in self.stages.values())

    tasks = property(lambda self: sum(len(st.task_run_s) for st in self.stages.values()))
    run_s = property(lambda self: sum(sum(st.task_run_s) for st in self.stages.values()))
    cpu_s = property(lambda self: self._sum("cpu_s"))
    gc_s = property(lambda self: self._sum("gc_s"))
    shuffle_write_mb = property(lambda self: self._sum("shuffle_write_mb"))
    spill_mb = property(lambda self: self._sum("spill_mb"))
    wall_s = property(lambda self: self._sum("wall_s"))

    def skew(self) -> float:
        """Largest per-stage skew; 1.0 when no stage has two tasks."""
        return max((st.skew() for st in self.stages.values()), default=1.0)

    def python_stages(self) -> GroupStats:
        return GroupStats(self.jobs, {k: st for k, st in self.stages.items() if st.python})

    def add(self, other: GroupStats) -> None:
        self.jobs |= other.jobs
        self.stages.update(other.stages)


def parse_event_log(lines) -> dict[str | None, GroupStats]:
    """Group stages by the ``spark.jobGroup.id`` of the job that ran them.
    ``lines`` iterates over the log's JSON lines. Jobs started with no
    group land under ``None``; a stage listed by two jobs is charged to the
    first. Stages that ran no task (skipped, reused shuffle) are dropped."""
    stage_group: dict[int, str | None] = {}
    groups: dict[str | None, GroupStats] = {}
    stages: dict[tuple[int, int], StageStats] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            groups.setdefault(group, GroupStats()).jobs.add(ev["Job ID"])
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics")
            if not m:
                continue
            st = stages.setdefault((ev["Stage ID"], ev.get("Stage Attempt ID", 0)), StageStats())
            st.task_run_s.append(m.get("Executor Run Time", 0) / 1e3)
            st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            st.gc_s += m.get("JVM GC Time", 0) / 1e3
            st.shuffle_write_mb += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / 1e6
            st.spill_mb += m.get("Disk Bytes Spilled", 0) / 1e6
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = stages.setdefault((info["Stage ID"], info.get("Stage Attempt ID", 0)), StageStats())
            for rdd in info.get("RDD Info", []):
                if rdd.get("Scope"):
                    st.scopes.add(json.loads(rdd["Scope"])["name"])
            if info.get("Completion Time") and info.get("Submission Time"):
                st.wall_s = (info["Completion Time"] - info["Submission Time"]) / 1e3
    for key, st in stages.items():
        if st.task_run_s:
            groups.setdefault(stage_group.get(key[0]), GroupStats()).stages[key] = st
    return groups


def read_event_logs(log_dir: str) -> dict[str | None, GroupStats]:
    """Parse every application log in ``log_dir`` (one per SparkContext;
    a plain file, or a rolling ``eventlog_v2_*`` dir of ``events_*``
    files) into one group table."""
    out: dict[str | None, GroupStats] = {}
    for d, _, files in sorted(os.walk(log_dir)):
        for name in sorted(files):
            if name.startswith((".", "appstatus")):
                continue
            with open(os.path.join(d, name), encoding="utf-8") as f:
                for group, stats in parse_event_log(f).items():
                    out.setdefault(group, GroupStats()).add(stats)
    return out


# --------------------------------------------------------------------------
# Peak resident memory of the pyspark Python workers.
# --------------------------------------------------------------------------


def read_vmhwm_mb(pid: int, proc: str = "/proc") -> float:
    """Peak resident set (VmHWM) of ``pid`` in MB; 0.0 if it is gone."""
    try:
        with open(os.path.join(proc, str(pid), "status"), encoding="utf-8") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        pass
    return 0.0


def descendants(root: int, proc: str = "/proc") -> list[int]:
    """Every live process below ``root`` in the parent tree."""
    children: dict[int, list[int]] = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        try:
            with open(os.path.join(proc, name, "stat"), encoding="utf-8") as f:
                stat = f.read()
        except (FileNotFoundError, ProcessLookupError, PermissionError):
            continue
        # the command name (field 2) may hold spaces: parse after its ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def python_worker_peak_mb(root: int, proc: str = "/proc") -> float:
    """Largest VmHWM over the pyspark daemon and worker processes below
    ``root`` (the driver), 0.0 if none is alive."""
    peak = 0.0
    for pid in descendants(root, proc):
        try:
            with open(os.path.join(proc, str(pid), "cmdline"), "rb") as f:
                cmd = f.read()
        except (FileNotFoundError, ProcessLookupError, PermissionError):
            continue
        if b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd:
            peak = max(peak, read_vmhwm_mb(pid, proc))
    return peak


# --------------------------------------------------------------------------
# Output digest: order-independent, score-free.
# --------------------------------------------------------------------------

_SEP = "\x1f"


def triple_hash(subj: str, pred: str, obj: str) -> int:
    """First 60 bits of sha256 over the separated triple. The Spark twin
    is ``digest_sum_expr``: both must give the same integer."""
    key = _SEP.join((subj, pred, obj)).encode("utf-8")
    return int(hashlib.sha256(key).hexdigest()[:15], 16)


def triple_set_digest(triples) -> tuple[int, str]:
    """(row count, digest) of a set of (subj, pred, obj) tuples. The
    digest is the sum of the per-triple hashes, so row order is
    irrelevant; duplicates are collapsed first."""
    uniq = set(triples)
    return len(uniq), str(sum(triple_hash(*t) for t in uniq))


def digest_sum_expr():
    """Spark aggregate equal to ``triple_set_digest``'s digest over rows
    whose (subj, pred, obj) are already unique."""
    from pyspark.sql import functions as F

    h = F.sha2(F.concat_ws(_SEP, "subj", "pred", "obj"), 256)
    return F.sum(F.conv(F.substring(h, 1, 15), 16, 10).cast("decimal(38,0)"))
