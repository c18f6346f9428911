"""Measurement plumbing: spans, Spark job accounting, executed-plan scan
metrics, Spark event-log totals, process-tree RSS and host probes.

Everything here observes the program from outside: spans wrap calls into
its public functions, job/stage/task counts come from SparkContext job
groups plus ``statusTracker()``, scan counts from the executed plan, and
stage metrics from Spark's own event log.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: str | None = None
    jobs: int = 0
    stages: int = 0
    tasks: int = 0

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """Spans kept in memory and written when the run ends.

    With ``enabled`` false a span only times its body (the end-to-end
    metrics come from these); with it true each top-level span also runs
    its Spark jobs under its own job group and counts their jobs, stages
    and tasks afterwards. ``overhead_s`` accumulates the time the tracer
    spends on its own bookkeeping."""

    spark: object
    enabled: bool
    spans: list[Span] = field(default_factory=list)
    overhead_s: float = 0.0
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, op: str | None = None):
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent].op
        sp = Span(name, 0.0, parent=parent, op=op)
        idx = len(self.spans)
        self.spans.append(sp)
        self._stack.append(idx)
        group = None
        sc = self.spark.sparkContext
        if self.enabled and parent is None:
            group = f"perfbench-{idx}"
            sc.setJobGroup(group, name)
        sp.start = time.perf_counter()
        self.overhead_s += sp.start - t0
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if group is not None:
                sp.jobs, sp.stages, sp.tasks = job_counts(sc, group)
                sc.setJobGroup("perfbench-idle", "between operations")
            self.overhead_s += time.perf_counter() - sp.end

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, **s.__dict__}) + "\n")


def job_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) that ran under job group ``group``. Stages a
    job skipped (their shuffle output was reused) ran no task and are not
    counted."""
    st = sc.statusTracker()
    stages: set[int] = set()
    jobs = st.getJobIdsForGroup(group)
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    tasks, ran = 0, 0
    for s in stages:
        si = st.getStageInfo(s)
        if si is not None and si.numCompletedTasks + si.numFailedTasks > 0:
            ran += 1
            tasks += si.numTasks
    return len(jobs), ran, tasks


# ------------------------------------------------------ executed-plan metrics


def _jiter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def scan_metrics(df) -> tuple[int, int]:
    from py4j.protocol import Py4JError

    """(files read, rows output by scans) of ``df``'s last execution, from
    the SQL metrics of the scan nodes of its executed plan (adaptive stages
    included)."""
    files = rows = 0
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        if cls == "ReusedExchangeExec":
            todo.append(node.child())
            continue
        if "Scan" in cls:
            m = node.metrics()
            for key, into in (("numFiles", "files"), ("numOutputRows", "rows")):
                opt = m.get(key)
                if opt.isDefined():
                    if into == "files":
                        files += int(opt.get().value())
                    else:
                        rows += int(opt.get().value())
        todo.extend(_jiter(node.children()))
        try:
            todo.extend(_jiter(node.subqueries()))
        except Py4JError:  # not every node exposes subqueries
            pass
    return files, rows


# ------------------------------------------------------------- event log


PY_BYTES_METRICS = ("data sent to Python workers", "data returned from Python workers")


def event_log_totals(log_dir: str, groups: set[str]) -> dict:
    """Stage metrics summed per job group from Spark's JSON event log.

    Returns ``{"all": totals, group: totals, ...}`` where ``all`` covers
    every group in ``groups``. Totals hold executor run/cpu/GC time, shuffle
    write bytes and fetch wait, spilled bytes, failed tasks and bytes moved
    to and from Python workers."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}

    def bucket(g: str) -> dict:
        return out.setdefault(
            g,
            dict(run_ms=0, cpu_ns=0, gc_ms=0, shuffle_write=0, fetch_wait_ms=0,
                 spill=0, failed_tasks=0, python_bytes=0),
        )

    paths = sorted(
        os.path.join(d, f)
        for d, _, names in os.walk(log_dir)
        for f in names
        if not f.startswith((".", "appstatus"))
    )
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for s in ev.get("Stage IDs", []):
                        stage_group[s] = g
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev.get("Stage ID"))
                    if g not in groups:
                        continue
                    for b in (bucket(g), bucket("all")):
                        if ev.get("Task End Reason", {}).get("Reason") != "Success":
                            b["failed_tasks"] += 1
                        m = ev.get("Task Metrics") or {}
                        b["run_ms"] += m.get("Executor Run Time", 0)
                        b["cpu_ns"] += m.get("Executor CPU Time", 0)
                        b["gc_ms"] += m.get("JVM GC Time", 0)
                        b["spill"] += m.get("Memory Bytes Spilled", 0) + m.get(
                            "Disk Bytes Spilled", 0
                        )
                        b["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0
                        )
                        b["fetch_wait_ms"] += (m.get("Shuffle Read Metrics") or {}).get(
                            "Fetch Wait Time", 0
                        )
                        for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                            if acc.get("Name") in PY_BYTES_METRICS:
                                b["python_bytes"] += int(acc.get("Update") or 0)
    return out


def cached_mb(spark) -> float:
    """Megabytes held by persisted RDDs/DataFrames, memory plus disk."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


# ---------------------------------------------------------- process tree


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it, from /proc."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def tree_rss_bytes(root: int) -> int:
    total = 0
    page = os.sysconf("SC_PAGE_SIZE")
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total


class RssSampler:
    """Samples the RSS of this process and all its descendants (driver,
    JVM, Python workers) from /proc on a background thread."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# ------------------------------------------------------------ host probes


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole machine since boot, from
    /proc/stat: the share of time the hypervisor gave this VM's CPUs to
    someone else is the steal delta over the total delta."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7] if len(ticks) > 7 else 0, sum(ticks)


def host_probes(work_dir: str) -> dict[str, float]:
    """Median of a few runs of a fixed matmul and of a 32 MB
    write+fsync+read, so a slow host shows next to the figures it slowed.
    Diagnostics only: nothing is rescaled by them."""
    import numpy as np

    rng = np.random.default_rng(0)
    a = rng.standard_normal((384, 384))
    mm = []
    for _ in range(5):
        t = time.perf_counter()
        a @ a
        mm.append(time.perf_counter() - t)
    blob = rng.bytes(32 << 20)
    path = os.path.join(work_dir, "host_probe.bin")
    io = []
    for _ in range(3):
        t = time.perf_counter()
        with open(path, "wb") as f:
            f.write(blob)
            f.flush()
            os.fsync(f.fileno())
        with open(path, "rb") as f:
            f.read()
        io.append(time.perf_counter() - t)
    os.remove(path)
    return {
        "host.matmul_ms": sorted(mm)[len(mm) // 2] * 1e3,
        "host.io_32mb_ms": sorted(io)[len(io) // 2] * 1e3,
    }
