"""Tests for the benchmark's own code: the event-log fold, the metric
schema against BENCHMARK.json, and tiny smoke runs of each workload.

    python3 -m pytest perfbench/tests -q

The smoke runs start Spark (about a minute each)."""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import eventlog  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_fold_canned_log():
    rows = eventlog.fold(eventlog.read_events(os.path.join(HERE, "data", "eventlog_small")))
    by_job = {r["job"]: r for r in rows}
    assert by_job[0] == {
        "job": 0, "group": "s3", "output": "candidates",
        "executor_run_ms": 500.0, "executor_cpu_ms": 200.0, "python_ms": 150.0,
        "shuffle_write_bytes": 1000.0, "spill_bytes": 15.0, "tasks": 6.0,
    }
    # stage 1 ran for job 0; job 1 lists it again as skipped
    assert by_job[1]["executor_run_ms"] == 50.0 and by_job[1]["tasks"] == 1.0
    assert by_job[1]["output"] is None
    assert by_job[2]["group"] is None
    by_group = eventlog.totals(rows, lambda r: r["group"])
    assert set(by_group) == {"s3"}
    assert by_group["s3"]["executor_run_ms"] == 550.0 and by_group["s3"]["jobs"] == 2
    merged = eventlog.merge_keys(by_group, ["s3", "absent"])
    assert merged["tasks"] == 7.0


def test_output_dir_name():
    plan = "(4) Execute InsertIntoHadoopFsRelationCommand\nInput: []\nArguments: file:/a/iter=2.tmp/sched, false"
    assert eventlog.output_dir_name(plan) == "sched"
    assert eventlog.output_dir_name("(1) Scan parquet\nArguments: file:/x, y") is None


def test_benchmark_json_matches_schema():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        doc = json.load(fh)
    assert doc == metrics.benchmark_json()
    names = [m["name"] for m in doc["end_to_end"] + doc["per_layer"]] + [w["name"] for w in doc["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    assert all(UNIT.match(m["unit"]) for m in doc["end_to_end"] + doc["per_layer"])
    assert 2 <= len(doc["workloads"]) <= 8 and len(doc["per_layer"]) <= 128
    assert all(0 < m["bound"] <= 0.25 for m in doc["end_to_end"])
    setup = next(m for m in doc["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["bound"] == max(m["bound"] for m in doc["end_to_end"])
    assert all(len(w["why"]) <= 200 for w in doc["workloads"])


def test_result_line_carries_every_metric():
    for trace, schema in ((False, metrics.END_TO_END), (True, metrics.PER_LAYER)):
        out = metrics.result(True, 3, 0, {"setup_s": 1.5}, trace)
        assert set(out) == {"correct", "attempted", "failed", "metrics"}
        assert list(out["metrics"]) == [m[0] for m in schema]
        assert all(set(v) == {"value", "unit"} for v in out["metrics"].values())


def test_overhead_baseline_is_same_tree_untraced(tmp_path, monkeypatch):
    ledger = tmp_path / "results.jsonl"
    rows = [
        {"workload": "crawl", "seed": 1, "trace": False, "tree": "t1", "pass_s": 10.0},
        {"workload": "crawl", "seed": 2, "trace": False, "tree": "t1", "pass_s": 20.0},
        {"workload": "crawl", "seed": 1, "trace": True, "tree": "t1", "pass_s": 99.0},
        {"workload": "crawl", "seed": 1, "trace": False, "tree": "old", "pass_s": 1.0},
        {"workload": "queries", "seed": 1, "trace": False, "tree": "t1", "pass_s": 1.0},
    ]
    ledger.write_text("".join(json.dumps(r) + "\n" for r in rows))
    monkeypatch.setattr(run, "LEDGER", str(ledger))
    pct, basis = run._overhead_pct("crawl", 1, "t1", 11.0)
    assert pct == pytest.approx(10.0) and basis == "same seed, 1 runs"
    pct, basis = run._overhead_pct("crawl", 3, "t1", 18.0)
    assert pct == pytest.approx(20.0) and basis == "any seed, 2 runs"
    assert run._overhead_pct("crawl", 1, "new", 11.0) == (0.0, "none")
    assert len(run.tree_key()) == 16


def test_fails_without_the_program(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "crawl", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0 and '"correct"' not in p.stdout


def _survivors() -> list[int]:
    """Processes still running with a run's private temp state from this
    checkout: the JVM, its Python workers, or any other child a run
    started and left behind."""
    marker = f"SPARK_LOCAL_DIRS={ROOT}/.perfbench_work/".encode()
    found = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/environ", "rb") as fh:
                env = fh.read()
            with open(f"/proc/{pid}/stat") as fh:
                state = fh.read().rsplit(")", 1)[1].split()[0]
        except (OSError, IndexError):
            continue
        if marker in env and state != "Z":
            found.append(int(pid))
    return found


@pytest.mark.parametrize("workload", [w for w in metrics.WORKLOADS])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run(workload, trace, tmp_path):
    # output goes to files, not pipes: reading pipes to their end would
    # also wait for any child that inherited them, hiding a survivor
    with open(tmp_path / "out", "w") as out, open(tmp_path / "err", "w") as err:
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3", "--seconds", "1",
             "--trace", str(trace), "--smoke"],
            cwd=ROOT, stdout=out, stderr=err, timeout=600,
        )
    assert _survivors() == []  # every process the run started has ended
    stdout = (tmp_path / "out").read_text()
    assert p.returncode == 0, (tmp_path / "err").read_text()[-3000:]
    if trace:
        hygiene = json.loads(stdout.strip().splitlines()[-2])["hygiene"]
        assert hygiene["overhead_baseline"] == "smoke run"  # no full-size baseline applies
    out = json.loads(stdout.strip().splitlines()[-1])
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    schema = metrics.PER_LAYER if trace else metrics.END_TO_END
    assert list(out["metrics"]) == [m[0] for m in schema]
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values())
    elif workload == "crawl":
        assert out["metrics"]["frontier.spark_jobs_per_iter"]["value"] > 0
        assert out["metrics"]["spark.candidates.executor_run_ms"]["value"] > 0
        assert out["metrics"]["parse.pages_per_core_s"]["value"] > 0
    else:
        assert out["metrics"]["spark.dedup.executor_run_ms"]["value"] > 0
        assert out["metrics"]["index.postings_docs.build_s"]["value"] > 0
