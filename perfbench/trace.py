"""Measurement plumbing: summary statistics, process-tree peak RSS, spans
with Spark job groups, and the Spark event-log parser behind the traced run.

Spans are recorded by the benchmark around its calls into each layer; the
engine itself is not instrumented. Each span runs under its own Spark job
group, so the jobs, stages and tasks it caused can be attributed to it both
through `statusTracker()` (while the session lives) and through the event
log (after the session stops and the log is flushed).
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


def summarize(samples: list[float]) -> dict:
    """Median, quartiles and sample count of one metric's samples."""
    xs = sorted(samples)
    q1 = q3 = xs[0]
    if len(xs) > 1:
        q1, _, q3 = statistics.quantiles(xs, n=4)
    return {"median": statistics.median(xs), "q1": q1, "q3": q3, "n": len(xs),
            "samples": samples}


# --- the process tree: this process and every descendant (JVM, workers) ---


def _tree_stats(root: int) -> list[tuple[str, list[str]]]:
    """(executable name, /proc stat fields after the name) of root and of
    every descendant; root is named "driver"."""
    children: dict[int, list[int]] = {}
    stats: dict[int, tuple[str, list[str]]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # comm may hold spaces: the fields after it start past the last ')'
        fields = stat[stat.rfind(")") + 2:].split()
        pid = int(d)
        children.setdefault(int(fields[1]), []).append(pid)
        stats[pid] = (stat[stat.find("(") + 1:stat.rfind(")")], fields)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            name, fields = stats[pid]
            out.append(("driver" if pid == root else name, fields))
        todo.extend(children.get(pid, []))
    return out


def _tree_rss_bytes(root: int) -> dict[str, int]:
    """Summed RSS of root and of its java and python descendants, by
    executable name. Other descendants are short-lived helpers the JVM forks
    (chmod, jspawnhelper); between fork and exec they share, and would
    count twice, the JVM's whole resident set."""
    page = os.sysconf("SC_PAGE_SIZE")
    by_name: dict[str, int] = {}
    for name, fields in _tree_stats(root):
        if name in ("driver", "java") or name.startswith("python"):
            by_name[name] = by_name.get(name, 0) + int(fields[21]) * page
    return by_name


def tree_cpu_s() -> float:
    """CPU seconds, user plus system, used so far by this process and every
    descendant, reaped children included. Time the hypervisor steals from a
    virtual machine's CPUs is not in it, so on a shared host it varies far
    less from run to run than wall time does."""
    ticks = sum(sum(int(x) for x in fields[11:15]) for _, fields in _tree_stats(os.getpid()))
    return ticks / os.sysconf("SC_CLK_TCK")


class PeakRss:
    """Samples the process tree's summed RSS on a daemon thread."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self.at_peak: dict[str, int] = {}  # RSS by executable name at the peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            by_name = _tree_rss_bytes(me)
            total = sum(by_name.values())
            if total > self.peak:
                self.peak, self.at_peak = total, by_name
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


# --- spans ---


@dataclass
class Span:
    name: str  # "<layer>:<op>"
    group: str  # Spark job group the span's own jobs ran under
    start: float
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""
    jobs: list[int] = field(default_factory=list)
    tasks: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.split(":", 1)[0]


class Tracer:
    """Records spans in memory; each span sets its own Spark job group and
    restores the enclosing span's group when it ends. A disabled tracer
    records nothing and touches no job group."""

    def __init__(self, sc, run_id: str, enabled: bool = True):
        self.sc = sc
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, layer: str, op: str):
        if not self.enabled:
            yield None
            return
        idx = len(self.spans)
        sp = Span(name=f"{layer}:{op}", group=f"{self.run_id}/{idx}/{layer}:{op}",
                  start=time.time(), parent=self._stack[-1] if self._stack else None,
                  run_id=self.run_id)
        self.spans.append(sp)
        self._stack.append(idx)
        self.sc.setJobGroup(sp.group, sp.name)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if self._stack:
                outer = self.spans[self._stack[-1]]
                self.sc.setJobGroup(outer.group, outer.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            st = self.sc.statusTracker()
            sp.jobs = sorted(st.getJobIdsForGroup(sp.group))
            for j in sp.jobs:
                info = st.getJobInfo(j)
                for s in (info.stageIds if info else []):
                    stage = st.getStageInfo(s)
                    sp.tasks += stage.numTasks if stage else 0

    def children(self, idx: int) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s.parent == idx]

    def descendants(self, idx: int) -> list[int]:
        out, todo = [], self.children(idx)
        while todo:
            i = todo.pop()
            out.append(i)
            todo.extend(self.children(i))
        return out

    def self_time(self, idx: int) -> float:
        """Span duration minus the part of it its child spans cover."""
        sp = self.spans[idx]
        covered = union_length([(self.spans[c].start, self.spans[c].end)
                                 for c in self.children(idx)], sp.start, sp.end)
        return (sp.end - sp.start) - covered

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, "name": s.name, "start": s.start, "end": s.end,
                                    "parent": s.parent, "run_id": s.run_id, "jobs": s.jobs,
                                    "tasks": s.tasks, **s.attrs}) + "\n")


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    total, cur_s, cur_e = 0.0, None, None
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
    return total


# --- Spark event log ---


@dataclass
class GroupStats:
    """Executor-side totals of the jobs that ran under one job group."""

    jobs: int = 0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    python_s: float = 0.0
    arrow_bytes: int = 0
    job_intervals: list = field(default_factory=list)

    def add(self, o: "GroupStats") -> None:
        for k in ("jobs", "tasks", "run_s", "cpu_s", "gc_s", "shuffle_bytes",
                  "spill_bytes", "python_s", "arrow_bytes"):
            setattr(self, k, getattr(self, k) + getattr(o, k))
        self.job_intervals += o.job_intervals


_PY_TIME = "time to run Python workers"
_PY_BYTES = ("data sent to Python workers", "data returned from Python workers")


def parse_event_log(log_dir: str) -> dict[str, GroupStats]:
    """Job group -> GroupStats, from every application log in log_dir."""
    groups: dict[str, GroupStats] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        stage_group: dict[int, str] = {}
        job_group: dict[int, str] = {}
        job_start: dict[int, float] = {}
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g is None:
                        continue
                    job_group[ev["Job ID"]] = g
                    job_start[ev["Job ID"]] = ev["Submission Time"] / 1000.0
                    for s in ev["Stage IDs"]:
                        stage_group[s] = g
                    groups.setdefault(g, GroupStats()).jobs += 1
                elif kind == "SparkListenerJobEnd":
                    j = ev["Job ID"]
                    if j in job_group:
                        groups[job_group[j]].job_intervals.append(
                            (job_start[j], ev["Completion Time"] / 1000.0))
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev["Stage ID"])
                    if g is None:
                        continue
                    st = groups[g]
                    st.tasks += 1
                    tm = ev.get("Task Metrics") or {}
                    st.run_s += tm.get("Executor Run Time", 0) / 1e3
                    st.cpu_s += tm.get("Executor CPU Time", 0) / 1e9
                    st.gc_s += tm.get("JVM GC Time", 0) / 1e3
                    st.shuffle_bytes += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    st.spill_bytes += tm.get("Memory Bytes Spilled", 0) + tm.get(
                        "Disk Bytes Spilled", 0)
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        name, upd = acc.get("Name"), acc.get("Update")
                        if upd is None:
                            continue
                        if name == _PY_TIME:
                            st.python_s += float(upd) / 1e3
                        elif name in _PY_BYTES:
                            st.arrow_bytes += int(upd)
    return groups
