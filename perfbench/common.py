"""Shared plumbing: host sizing, the Spark session, memory sampling,
process clean-up, call tracing and the event-log summary."""

from __future__ import annotations

import glob
import json
import os
import signal
import statistics
import subprocess
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
INPUTS = os.path.join(WORK, "inputs")

CPUS = min(4, len(os.sched_getaffinity(0)))
DRIVER_MEM = "2g"


def pin_host(run_dir: str) -> None:
    """Size the session for this benchmark and keep every scratch file
    inside ``run_dir``.  Must run before pyspark launches the JVM."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(CPUS),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_GRAFT_LOCAL_DIR=os.path.join(run_dir, "spark-local"),
        TMPDIR=os.path.join(run_dir, "tmp"),
    )
    os.environ.pop("SPARK_LOCAL_DIRS", None)  # it would override spark.local.dir


def start_spark(run_dir: str, trace: bool):
    from osm2orc_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    conf = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
        })
    return get_spark("perfbench", extra_conf=conf)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        kids[int(fields[1])].append(int(stat.split("/")[2]))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    kids, out, todo = _children(), [], [pid or os.getpid()]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def _mem_kb(pid: int) -> int:
    """Proportional set size of ``pid``, so pages the forked Python
    workers share count once.  For the JVM, resident set size: it shares
    almost nothing with the rest of the tree, and reading its PSS walks
    every page of a multi-gigabyte heap (about 20 ms a sample)."""
    with open(f"/proc/{pid}/comm") as f:
        java = f.read().strip() == "java"
    field, name = ("VmRSS:", "status") if java else ("Pss:", "smaps_rollup")
    with open(f"/proc/{pid}/{name}") as f:
        return next(int(line.split()[1]) for line in f if line.startswith(field))


def tree_rss_mb(pids: list[int] | None = None) -> float:
    """Memory of ``pids``, by default this process tree, in MB."""
    total_kb = 0
    for pid in pids or [os.getpid(), *descendants()]:
        try:
            total_kb += _mem_kb(pid)
        except (OSError, StopIteration):
            pass
    return total_kb / 1024


class RssPeak:
    """Samples the resident memory of this process and all its
    descendants (JVM, Python workers) while active.  The set of
    descendants is re-read once a second, not at every sample.
    ``cpu_s`` is the CPU time the sampler itself used."""

    def __init__(self, every_s: float = 0.5, pids_every_s: float = 1.0):
        self.every_s, self.pids_every_s = every_s, pids_every_s
        self.peak = self.cpu_s = 0.0
        self._on = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        pids, pids_at = [], -float("inf")
        while not self._stop.is_set():
            if self._on.wait(0.2):
                cpu0 = time.thread_time()
                if time.perf_counter() - pids_at > self.pids_every_s:
                    pids, pids_at = [os.getpid(), *descendants()], time.perf_counter()
                self.peak = max(self.peak, tree_rss_mb(pids))
                self.cpu_s += time.thread_time() - cpu0
                time.sleep(self.every_s)

    @contextmanager
    def active(self):
        self._on.set()
        try:
            yield
        finally:
            self._on.clear()
            self.peak = max(self.peak, tree_rss_mb())

    def close(self) -> None:
        self._stop.set()
        self._thread.join()


def stop_everything(spark) -> None:
    """Stop Spark, end the JVM and wait until every process this run
    started has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if proc is not None:
            proc.stdin.close()  # the gateway exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    while descendants() and time.time() < deadline:
        time.sleep(0.1)
    for pid in descendants():
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    while descendants():
        time.sleep(0.05)


def report(op: str, why: str) -> None:
    print(f"perfbench: wrong result from {op}: {why}", file=sys.stderr)


class Tracer:
    """Wall-clock spans around calls into the program's layers.  Each
    span also tags the Spark jobs it launches with a job group named
    ``<layer>|<name>|<phase>``, so the event log can be joined back."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[tuple[str, float]] = []

    @contextmanager
    def span(self, group: str):
        self.sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append((group, time.perf_counter() - t0))
            self.sc.setJobGroup("", "")

    def best(self, group: str) -> float:
        """Shortest wall recorded for ``group``."""
        return min(s for g, s in self.spans if g == group)


class StageStats:
    __slots__ = ("tasks", "task_ms", "failed", "spill", "shuffle_write",
                 "input_rows", "input_bytes", "run_times")

    def __init__(self):
        self.tasks = self.task_ms = self.failed = self.spill = 0
        self.shuffle_write = self.input_rows = self.input_bytes = 0
        self.run_times: list[int] = []


def summarise_event_log(run_dir: str) -> dict[str, dict]:
    """Per job group: job count and per-stage task statistics, read from
    the uncompressed event log(s) under ``run_dir/eventlog``."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = defaultdict(lambda: {"jobs": 0, "stages": defaultdict(StageStats)})
    files = [p for p in glob.glob(os.path.join(run_dir, "eventlog", "**"), recursive=True)
             if os.path.isfile(p)]
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    groups[group]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"], "")
                    st = groups[group]["stages"][ev["Stage ID"]]
                    st.tasks += 1
                    if ev.get("Task End Reason", {}).get("Reason") != "Success":
                        st.failed += 1
                    m = ev.get("Task Metrics") or {}
                    run_ms = m.get("Executor Run Time", 0)
                    st.task_ms += run_ms
                    st.run_times.append(run_ms)
                    st.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    st.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    inp = m.get("Input Metrics") or {}
                    st.input_rows += inp.get("Records Read", 0)
                    st.input_bytes += inp.get("Bytes Read", 0)
    return groups


def rollup(groups: dict[str, dict], keep) -> dict[str, float]:
    """Sum the event-log statistics of every job group whose name
    ``keep(name)`` accepts."""
    out = dict(jobs=0, tasks=0, task_s=0.0, failed_tasks=0, spill_bytes=0,
               shuffle_bytes=0, input_rows=0, input_bytes=0, max_task_over_median=1.0)
    for name, g in groups.items():
        if not keep(name):
            continue
        out["jobs"] += g["jobs"]
        for st in g["stages"].values():
            out["tasks"] += st.tasks
            out["task_s"] += st.task_ms / 1000
            out["failed_tasks"] += st.failed
            out["spill_bytes"] += st.spill
            out["shuffle_bytes"] += st.shuffle_write
            out["input_rows"] += st.input_rows
            out["input_bytes"] += st.input_bytes
            if len(st.run_times) >= 2:
                mid = max(statistics.median(st.run_times), 1)
                out["max_task_over_median"] = max(
                    out["max_task_over_median"], max(st.run_times) / mid)
    return out
