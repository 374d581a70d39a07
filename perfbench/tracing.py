"""Spans, Spark job accounting and contamination marks for the benchmark.

Spans are recorded from the benchmark's own files by wrapping the
public functions a layer exposes; no program module is edited. They are
kept in memory and written out once the run ends.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from dataclasses import dataclass, field

import bench  # the repo's query bench: /proc/stat helpers and thresholds


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str


@dataclass
class Tracer:
    """In-memory span recorder for one run (one thread)."""

    run_id: str
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    _patched: list[tuple] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.perf_counter(), 0.0, parent, self.run_id)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()

    def patch(self, module, attr: str, make) -> None:
        """Replace ``module.attr`` by ``make(original)`` until
        ``unwrap_all``."""
        orig = getattr(module, attr)
        setattr(module, attr, make(orig))
        self._patched.append((module, attr, orig))

    def wrap(self, module, attr: str, name: str | None = None) -> None:
        """Record a span around each call of ``module.attr``."""
        label = name or attr

        def make(orig):
            def traced(*a, **kw):
                with self.span(label):
                    return orig(*a, **kw)
            return traced

        self.patch(module, attr, make)

    def unwrap_all(self) -> None:
        while self._patched:
            module, attr, orig = self._patched.pop()
            setattr(module, attr, orig)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def total(self, name: str) -> float:
        return sum(s.end - s.start for s in self.named(name))

    def self_time(self, name: str) -> float:
        """Duration of the named spans minus the part their direct
        children cover."""
        out = 0.0
        for i, sp in enumerate(self.spans):
            if sp.name != name:
                continue
            kids = sorted((c.start, c.end) for c in self.spans if c.parent == i)
            covered, cur_s, cur_e = 0.0, None, None
            for s, e in kids:
                if cur_e is None or s > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = s, e
                else:
                    cur_e = max(cur_e, e)
            if cur_e is not None:
                covered += cur_e - cur_s
            out += (sp.end - sp.start) - covered
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t0 = min((s.start for s in self.spans), default=0.0)
        with open(path, "w") as fh:
            json.dump([
                {"name": s.name, "start": s.start - t0, "end": s.end - t0,
                 "parent": s.parent, "run_id": s.run_id}
                for s in self.spans
            ], fh, indent=0)


# ---------------------------------------------------------------------------
# Spark job accounting
# ---------------------------------------------------------------------------


class JobGroups:
    """Tags the Spark jobs of each phase with a job group, so jobs,
    stages and tasks can be counted per phase from ``statusTracker``
    and from the event log."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.n = 0

    @contextlib.contextmanager
    def group(self, label: str):
        self.n += 1
        gid = f"{self.run_id}:{self.n}:{label}"
        self.sc.setJobGroup(gid, label)
        try:
            yield gid
        finally:
            self.sc.setJobGroup(None, None)

    def jobs(self, gid: str) -> int:
        return len(self.sc.statusTracker().getJobIdsForGroup(gid))

    def tasks(self, gid: str) -> int:
        st = self.sc.statusTracker()
        n = 0
        for jid in st.getJobIdsForGroup(gid):
            info = st.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                si = st.getStageInfo(sid)
                n += si.numTasks if si else 0
        return n


def event_log_totals(evdir: str) -> dict[str, dict]:
    """Per job group: jobs, stages, tasks, shuffle bytes and GC time
    from the Spark event logs under ``evdir`` (read after the session
    stopped, so the logs are complete)."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}

    def acc(g: str) -> dict:
        return out.setdefault(g, {"jobs": 0, "stages": 0, "tasks": 0,
                                  "shuffle_write_b": 0, "shuffle_read_b": 0,
                                  "gc_ms": 0})

    for root, _dirs, files in os.walk(evdir):
        # rolling (v2) layout: eventlog_v2_<app>/events_<n>_<app>
        for f in sorted(f for f in files if f.startswith("events_")):
            with open(os.path.join(root, f)) as fh:
                for line in fh:
                    ev = json.loads(line)
                    t = ev.get("Event")
                    if t == "SparkListenerJobStart":
                        g = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                        acc(g)["jobs"] += 1
                        for sid in ev.get("Stage IDs", []):
                            stage_group[sid] = g
                    elif t == "SparkListenerStageCompleted":
                        si = ev["Stage Info"]
                        g = stage_group.get(si["Stage ID"], "")
                        acc(g)["stages"] += 1
                    elif t == "SparkListenerTaskEnd":
                        g = stage_group.get(ev.get("Stage ID"), "")
                        a = acc(g)
                        a["tasks"] += 1
                        m = ev.get("Task Metrics") or {}
                        a["gc_ms"] += m.get("JVM GC Time", 0)
                        w = m.get("Shuffle Write Metrics") or {}
                        a["shuffle_write_b"] += w.get("Shuffle Bytes Written", 0)
                        r = m.get("Shuffle Read Metrics") or {}
                        a["shuffle_read_b"] += (r.get("Remote Bytes Read", 0)
                                                + r.get("Local Bytes Read", 0))
    return out


def exec_metrics(ev: dict) -> dict[str, tuple[float, str]]:
    """Execution counts of one or more job groups' event-log totals."""
    return {
        "spark.exec.jobs": (ev.get("jobs", 0), "count"),
        "spark.exec.stages": (ev.get("stages", 0), "count"),
        "spark.exec.tasks": (ev.get("tasks", 0), "count"),
        "spark.exec.shuffle_write_mb": (ev.get("shuffle_write_b", 0) / 1e6, "MB"),
        "spark.exec.shuffle_read_mb": (ev.get("shuffle_read_b", 0) / 1e6, "MB"),
        "spark.exec.gc_s": (ev.get("gc_ms", 0) / 1000.0, "s"),
    }


def catalyst_ms(df) -> dict[str, float]:
    """Catalyst phase times of a frame whose plan has been built, from
    ``queryExecution().tracker()``; each phase is a Scala ``Option``."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for ph in ("analysis", "optimization", "planning"):
        opt = phases.get(ph)
        if opt.isDefined():
            s = opt.get()
            out[ph] = float(s.endTimeMs() - s.startTimeMs())
        else:
            out[ph] = 0.0
    return out


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the Spark driver JVM."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


# ---------------------------------------------------------------------------
# contamination marks
# ---------------------------------------------------------------------------


@dataclass
class CpuWindows:
    """sys and steal shares of each timed window, from /proc/stat. A
    window over bench.py's thresholds is marked; its numbers are left
    as measured."""

    windows: dict[str, dict] = field(default_factory=dict)

    @contextlib.contextmanager
    def window(self, name: str):
        before = bench.read_cpu_stat()
        try:
            yield
        finally:
            w = bench.cpu_window(before, bench.read_cpu_stat())
            if w is not None:
                self.windows[name] = w

    def suspect(self) -> list[str]:
        return sorted(
            n for n, w in self.windows.items()
            if w["sys_pct"] >= bench.SYS_PCT_SUSPECT
            or w["steal_pct"] >= bench.STEAL_PCT_SUSPECT
        )
