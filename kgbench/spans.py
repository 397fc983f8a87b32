"""Spans, job-group attribution, event-log parsing and RSS sampling.

A span wraps one public call: it gives the call its own Spark job group,
records its wall time, and afterwards the uncompressed local event log
attributes every job, stage and task of that group to it.  Nothing here
reaches into the program: the job group is a thread-local property of the
SparkContext, set before the call and read back from the event log.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans in memory; each span is a Spark job group.  Spans do
    not nest: every one wraps a single public call."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: dict[str, Span] = {}

    @contextmanager
    def span(self, name: str):
        if name in self.spans:
            raise ValueError(f"span {name!r} recorded twice")
        sp = Span(name, time.perf_counter())
        self.spans[name] = sp
        self.sc.setJobGroup(name, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def job_ids(self, name: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(name))


_SUMMED = ("tasks", "shuffle_write_bytes", "spill_bytes", "python_run_ms", "python_bytes_sent")


@dataclass
class GroupStats:
    jobs: set = field(default_factory=set)
    descriptions: dict = field(default_factory=dict)  # job id -> description
    tasks: int = 0
    task_run_ms: dict = field(default_factory=dict)  # reduce stage id -> [ms]
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    output_bytes_by_desc: dict = field(default_factory=dict)  # job description -> bytes
    python_run_ms: int = 0
    python_bytes_sent: int = 0

    @property
    def task_skew(self) -> float:
        """max/median task run time of the group's widest shuffle-reading
        stage (1.0 when it has no multi-task stage)."""
        skew = 1.0
        widest = max(
            (ms for ms in self.task_run_ms.values() if len(ms) > 1),
            key=len,
            default=None,
        )
        if widest:
            med = statistics.median(widest)
            skew = max(widest) / med if med > 0 else 1.0
        return skew


def parse_event_log(log_dir: str) -> dict[str, GroupStats]:
    """Per-job-group statistics from an uncompressed Spark event log.

    ``log_dir`` is ``spark.eventLog.dir``; both the single-file and the
    rolling (``eventlog_v2_*``) layouts are read.  Stages are attributed to
    the job group recorded in their submission properties, tasks to their
    stage's group; jobs outside any group land under ``""``.
    """
    files = sorted(
        p
        for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p) and not os.path.basename(p).startswith("appstatus")
    )
    groups: dict[str, GroupStats] = {}
    stage_group: dict[int, str] = {}
    stage_desc: dict[int, str] = {}
    shuffle_read_stages: set[int] = set()

    def group(name: str | None) -> GroupStats:
        return groups.setdefault(name or "", GroupStats())

    for path in files:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    g = group(props.get("spark.jobGroup.id"))
                    jid = ev["Job ID"]
                    g.jobs.add(jid)
                    g.descriptions[jid] = props.get("spark.job.description") or ""
                elif kind == "SparkListenerStageSubmitted":
                    props = ev.get("Properties") or {}
                    sid = ev["Stage Info"]["Stage ID"]
                    stage_group[sid] = props.get("spark.jobGroup.id") or ""
                    stage_desc[sid] = props.get("spark.job.description") or ""
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    g = group(stage_group.get(sid))
                    _add_task(g, sid, ev, shuffle_read_stages, stage_desc.get(sid, ""))
    for g in groups.values():
        # skew is a property of shuffle-reading (reduce) stages only
        g.task_run_ms = {
            s: ms for s, ms in g.task_run_ms.items() if s in shuffle_read_stages
        }
    return groups


def _add_task(
    g: GroupStats, sid: int, ev: dict, shuffle_read_stages: set, desc: str
) -> None:
    g.tasks += 1
    info = ev.get("Task Info") or {}
    metrics = ev.get("Task Metrics") or {}
    g.task_run_ms.setdefault(sid, []).append(int(metrics.get("Executor Run Time", 0)))
    sw = metrics.get("Shuffle Write Metrics") or {}
    g.shuffle_write_bytes += int(sw.get("Shuffle Bytes Written", 0))
    sr = metrics.get("Shuffle Read Metrics") or {}
    if sr.get("Local Blocks Fetched") or sr.get("Remote Blocks Fetched"):
        shuffle_read_stages.add(sid)
    g.spill_bytes += int(metrics.get("Memory Bytes Spilled", 0)) + int(
        metrics.get("Disk Bytes Spilled", 0)
    )
    written = int((metrics.get("Output Metrics") or {}).get("Bytes Written", 0))
    g.output_bytes_by_desc[desc] = g.output_bytes_by_desc.get(desc, 0) + written
    for acc in info.get("Accumulables") or []:
        name = acc.get("Name")
        if name == "time to run Python workers":
            g.python_run_ms += int(acc.get("Update") or 0)
        elif name == "data sent to Python workers":
            g.python_bytes_sent += int(acc.get("Update") or 0)


def merged(groups: dict[str, GroupStats], names) -> GroupStats:
    """Sum of several groups' statistics (missing groups count as empty)."""
    out = GroupStats()
    for n in names:
        g = groups.get(n)
        if g is None:
            continue
        out.jobs |= g.jobs
        out.descriptions.update(g.descriptions)
        out.task_run_ms.update(g.task_run_ms)
        for d, b in g.output_bytes_by_desc.items():
            out.output_bytes_by_desc[d] = out.output_bytes_by_desc.get(d, 0) + b
        for f in _SUMMED:
            setattr(out, f, getattr(out, f) + getattr(g, f))
    return out


# ------------------------------------------------------------------- RSS
RSS_INTERVAL_S = 0.2


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="utf-8") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _is_jvm(pid: int) -> bool:
    return os.path.basename(os.readlink(f"/proc/{pid}/exe")) == "java"


def descendants_rss_bytes(root_pid: int) -> tuple[int, int]:
    """Summed RSS of every descendant of ``root_pid`` (not the root
    itself) — for a PySpark program, the JVM and its Python workers — and
    the part of it held by JVMs.  A JVM's child that is itself a JVM is a
    fork about to exec a helper command: it shares all its pages with the
    JVM, so counting its RSS would count the JVM twice."""
    kids = _children_map()
    total, jvm = 0, 0
    todo = [(pid, False) for pid in kids.get(root_pid, [])]
    page = os.sysconf("SC_PAGE_SIZE")
    while todo:
        pid, parent_is_jvm = todo.pop()
        try:
            is_jvm = _is_jvm(pid)
            with open(f"/proc/{pid}/statm", encoding="utf-8") as fh:
                rss = int(fh.read().split()[1]) * page
        except OSError:
            continue
        todo.extend((kid, is_jvm) for kid in kids.get(pid, []))
        if is_jvm and parent_is_jvm:
            continue
        total += rss
        jvm += rss if is_jvm else 0
    return total, jvm


class RssSampler:
    """Samples the descendants' summed RSS in a background thread and
    keeps the peak (and the JVMs' share at that moment); use as a context
    manager around the measured work."""

    def __init__(self):
        self.peak_bytes = 0
        self.peak_jvm_bytes = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        total, jvm = descendants_rss_bytes(os.getpid())
        if total > self.peak_bytes:
            self.peak_bytes, self.peak_jvm_bytes = total, jvm

    def _loop(self) -> None:
        while True:
            self._sample()
            if self._stop.wait(RSS_INTERVAL_S):
                return

    def __enter__(self) -> "RssSampler":
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()
