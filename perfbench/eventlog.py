"""Fold an uncompressed Spark event log into per-key execution totals.

Jobs are keyed two ways:

- by job group, which the benchmark sets to the id of the span that
  submitted the job (``Tracer.span``);
- by the output directory their SQL execution writes, read from the
  ``InsertIntoHadoopFsRelationCommand`` in the physical plan. Inside a
  crawl iteration this names the engine job (``candidates``, ``sched``,
  ``parsed_links``, ``frontier``, ``seen``, ``seen_shards``).

``fold`` returns one row per job; ``totals`` sums the rows by key.
"""

from __future__ import annotations

import json
import os
import re

FIELDS = ("executor_run_ms", "executor_cpu_ms", "python_ms", "shuffle_write_bytes", "spill_bytes", "tasks")

_ACCUMS = {
    "internal.metrics.executorRunTime": ("executor_run_ms", 1.0),
    "internal.metrics.executorCpuTime": ("executor_cpu_ms", 1e-6),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_bytes", 1.0),
    "internal.metrics.memoryBytesSpilled": ("spill_bytes", 1.0),
    "internal.metrics.diskBytesSpilled": ("spill_bytes", 1.0),
    "time to run Python workers": ("python_ms", 1.0),
}
_WRITE_PATH = re.compile(r"\) Execute InsertIntoHadoopFsRelationCommand\n(?:Input: [^\n]*\n)?Arguments: ([^,\s]+)")


def _empty() -> dict:
    return {f: 0.0 for f in FIELDS}


def output_dir_name(plan_description: str) -> str | None:
    """Last path component of the directory a SQL execution writes."""
    m = _WRITE_PATH.search(plan_description or "")
    if not m:
        return None
    return os.path.basename(m.group(1).rstrip("/"))


def read_events(path: str):
    with open(path) as fh:
        for line in fh:
            line = line.strip()
            if line:
                yield json.loads(line)


def fold(events) -> list[dict]:
    """One row per job: its group, the output directory it writes (or
    None) and FIELDS summed over its completed stages."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    exec_out: dict[int, str] = {}
    for ev in events:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            exec_id = props.get("spark.sql.execution.id")
            jobs[ev["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "exec_id": int(exec_id) if exec_id is not None else None,
                "stages": list(ev.get("Stage IDs", [])),
            }
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            tot = _empty()
            tot["tasks"] = float(info.get("Number of Tasks", 0))
            for acc in info.get("Accumulables", []):
                hit = _ACCUMS.get(acc.get("Name"))
                if hit:
                    field, scale = hit
                    tot[field] += float(acc.get("Value") or 0) * scale
            stages[info["Stage ID"]] = tot
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            name = output_dir_name(ev.get("physicalPlanDescription", ""))
            if name:
                exec_out[int(ev["executionId"])] = name
    rows, counted = [], set()
    for job_id, job in sorted(jobs.items()):
        tot = _empty()
        # a later job lists a reused shuffle stage as skipped; the stage
        # ran once, for the first job that listed it
        for sid in job["stages"]:
            if sid in counted:
                continue
            counted.add(sid)
            for f, v in stages.get(sid, {}).items():
                tot[f] += v
        out = exec_out.get(job["exec_id"]) if job["exec_id"] is not None else None
        rows.append({"job": job_id, "group": job["group"], "output": out, **tot})
    return rows


def totals(rows: list[dict], key) -> dict:
    """Sum job rows into ``{key(row): FIELDS + jobs}``, skipping rows
    whose key is None."""
    out: dict = {}
    for row in rows:
        k = key(row)
        if k is None:
            continue
        acc = out.setdefault(k, {**_empty(), "jobs": 0})
        for f in FIELDS:
            acc[f] += row[f]
        acc["jobs"] += 1
    return out


def fold_dir(eventlog_dir: str) -> list[dict]:
    """Fold every application log in ``eventlog_dir`` (one per run)."""
    events = []
    for name in sorted(os.listdir(eventlog_dir)):
        path = os.path.join(eventlog_dir, name)
        if os.path.isfile(path) and not name.endswith(".inprogress"):
            events.extend(read_events(path))
    return fold(events)


def merge_keys(by_key: dict, keys) -> dict:
    """Sum the totals of several keys (absent keys count as zero)."""
    out = {**_empty(), "jobs": 0}
    for k in keys:
        for f, v in by_key.get(k, {}).items():
            out[f] += v
    return out
