"""Shared plumbing: run hygiene, process-tree memory, spans, and the
Spark session the workloads drive."""

from __future__ import annotations

import json
import os
import platform
import signal
import statistics
import subprocess
import sys
import time
from contextlib import contextmanager


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def steal_jiffies() -> int:
    """Cumulative hypervisor steal over all cores (/proc/stat field 8)."""
    with open("/proc/stat") as fh:
        parts = fh.readline().split()
    return int(parts[8]) if len(parts) > 8 else 0


def hygiene_start() -> dict:
    return {
        "nproc": nproc(),
        "loadavg_1m": os.getloadavg()[0],
        "steal_jiffies_start": steal_jiffies(),
        "python": platform.python_version(),
    }


def _children(pid: int) -> list[int]:
    kids: list[int] = []
    task_dir = f"/proc/{pid}/task"
    try:
        tids = os.listdir(task_dir)
    except OSError:
        return kids
    for tid in tids:
        try:
            with open(f"{task_dir}/{tid}/children") as fh:
                kids.extend(int(p) for p in fh.read().split())
        except OSError:
            pass
    return kids


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _tree(root: int | None = None) -> list[int]:
    stack, seen = [root or os.getpid()], []
    while stack:
        pid = stack.pop()
        if pid not in seen:
            seen.append(pid)
            stack.extend(_children(pid))
    return seen


def process_tree_peak_mb(root: int | None = None) -> float:
    """Sum of the peak resident set (VmHWM) of this process and every
    descendant: the Python driver, the JVM it launched, and the Python
    workers the JVM forked."""
    return sum(_hwm_kb(pid) for pid in _tree(root)) / 1024.0


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def stop_processes(timeout: float = 60.0) -> None:
    """Stop Spark and wait until every process this run started has
    ended: the JVM, the Python workers it forked, and any other child.
    ``SparkSession.stop`` leaves the JVM running until its stdin closes,
    which would otherwise happen only when this process exits. Whatever
    still runs at the deadline is killed."""
    pids = _tree()[1:]
    if "pyspark" in sys.modules:
        from pyspark import SparkContext

        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        gateway, SparkContext._gateway, SparkContext._jvm = SparkContext._gateway, None, None
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + timeout
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.05)
    for pid in pids:
        if _alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
    deadline = time.monotonic() + 10.0
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.05)


def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


class Tracer:
    """Spans around the benchmark's own calls into the program.

    Every span is timed, traced or not, because the end-to-end metrics
    are span walls. When tracing is on, the Spark job group is set to
    the span id for the span's duration, so the event log's jobs link
    back to the span that submitted them."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[str] = []
        self.sc = None  # SparkContext, once a session exists

    @contextmanager
    def span(self, name: str, **attrs):
        sid = f"s{len(self.spans)}"
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None}
        rec.update(attrs)
        self.spans.append(rec)
        self._stack.append(sid)
        if self.enabled and self.sc is not None:
            self.sc.setJobGroup(sid, name)
        rec["start"] = time.monotonic()
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()
            if self.enabled and self.sc is not None:
                if self._stack:
                    parent = self._stack[-1]
                    self.sc.setJobGroup(parent, self.by_id(parent)["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def by_id(self, sid: str) -> dict:
        return self.spans[int(sid[1:])]

    @staticmethod
    def wall(rec: dict) -> float:
        return rec["end"] - rec["start"]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh, indent=1)


def start_spark(tracer: Tracer, eventlog_dir: str | None, ckpt_dir: str):
    """SparkSession through the package's own factory, pinned to
    ``local[nproc]``; the event log is on only for traced runs."""
    from pubcrawler_spark.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false"}
    if eventlog_dir:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": eventlog_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark("perfbench", master=f"local[{nproc()}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(ckpt_dir)
    tracer.sc = spark.sparkContext
    return spark
