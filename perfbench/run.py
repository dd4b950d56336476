"""Benchmark entry point.

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 5 --trace 0

Run from the repository root. Prints a run-hygiene line, then, as the
last line, one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics, or with ``--trace 1`` the per-layer
metrics). Every run gets private temp state under ``.perfbench_work/``
(``TMPDIR``, ``SPARK_LOCAL_DIRS``, checkpoint dir, event log), removed
on exit; generated crawl corpora are cached by seed under
``.perfbench_cache/``. Runs other than ``--smoke`` append their
end-to-end values to ``.perfbench_out/results.jsonl``, keyed by a hash of
the source tree, for the traced run's overhead figure.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
from types import SimpleNamespace

import layers
import wl_crawl
import wl_queries
from common import Tracer, hygiene_start, median, steal_jiffies, stop_processes
from metrics import END_TO_END, result

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LEDGER = os.path.join(ROOT, ".perfbench_out", "results.jsonl")


def _prepare_inputs(cache_dir: str, seed: int, smoke: bool) -> None:
    """Generate the crawl corpus in a child process, so its memory is
    not counted in the driver's peak. A plain child, not a
    multiprocessing one: that would also start a resource tracker
    process that outlives the run."""
    code = (
        "import sys; sys.path[:0] = sys.argv[1:3]; import wl_crawl; "
        "wl_crawl.prepare(sys.argv[3], int(sys.argv[4]), wl_crawl.shape_for(sys.argv[5] == '1'))"
    )
    subprocess.run([sys.executable, "-c", code, HERE, ROOT, cache_dir, str(seed), str(int(smoke))], check=True)


def tree_key() -> str:
    """Hash of the sources a run executes: the package, the query entry
    point and the benchmark itself."""
    h = hashlib.sha256()
    files = ["__spark_entry__.py"] + glob.glob("pubcrawler_spark/**/*.py", root_dir=ROOT, recursive=True)
    files += glob.glob("perfbench/*.py", root_dir=ROOT)
    for rel in sorted(files):
        h.update(rel.encode() + b"\0")
        with open(os.path.join(ROOT, rel), "rb") as fh:
            h.update(fh.read() + b"\0")
    return h.hexdigest()[:16]


def _overhead_pct(workload: str, seed: int, tree: str, traced_pass_s: float) -> tuple[float, str]:
    """Traced ``pass_s`` against the median untraced ``pass_s`` recorded
    for the same source tree and workload: runs with the same seed if
    there are any, else runs with any seed. Returns the percentage (0
    when there is no baseline) and which baseline it used."""
    rows = []
    if os.path.exists(LEDGER):
        with open(LEDGER) as fh:
            rows = [json.loads(line) for line in fh if line.strip()]
    rows = [r for r in rows if r.get("tree") == tree and r["workload"] == workload and not r["trace"]]
    same_seed = [r["pass_s"] for r in rows if r["seed"] == seed]
    base, basis = (same_seed, "same seed") if same_seed else ([r["pass_s"] for r in rows], "any seed")
    if not base:
        return 0.0, "none"
    return (traced_pass_s / median(base) - 1.0) * 100, f"{basis}, {len(base)} runs"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["crawl", "queries"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny crawl corpus, one queries pass (the benchmark's own tests)")
    args = ap.parse_args()
    # a terminated run still stops Spark and removes its temp state
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, "pubcrawler_spark")):
        print(f"pubcrawler_spark package not found beside {HERE}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}-{time.time_ns()}")
    dirs = {k: os.path.join(work, k) for k in ("tmp", "local", "ckpt", "eventlog")}
    for d in dirs.values():
        os.makedirs(d)
    # private temp state, set before pyspark (and so the JVM and its
    # Python workers) starts
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)

    ctx = SimpleNamespace(
        workload=args.workload, seed=args.seed, seconds=args.seconds, trace=bool(args.trace), smoke=args.smoke,
        tracer=Tracer(bool(args.trace)), cache_dir=os.path.join(ROOT, ".perfbench_cache"),
        work_dir=work, tmp_dir=dirs["tmp"], ckpt_dir=dirs["ckpt"],
        eventlog_dir=dirs["eventlog"] if args.trace else None, spark=None,
    )
    os.makedirs(ctx.cache_dir, exist_ok=True)
    hygiene = hygiene_start()
    try:
        if args.workload == "crawl":
            _prepare_inputs(ctx.cache_dir, ctx.seed, ctx.smoke)
        out = (wl_queries if args.workload == "queries" else wl_crawl).run(ctx)
        values = out["values"]
        replays = layers.crawl_replays(ctx) if ctx.trace and args.workload == "crawl" else None
        import pyspark

        hygiene.update(
            {
                "master": ctx.spark.sparkContext.master,
                "spark": pyspark.__version__,
                "steal_jiffies_delta": steal_jiffies() - hygiene.pop("steal_jiffies_start"),
                "timed_walls_s": ctx.op_walls,
            }
        )
        ctx.spark.stop()
        ctx.spark = None
        tree = tree_key()
        if ctx.trace:
            layers.fold(ctx, values, replays)
            for name, *_ in END_TO_END:
                values[f"trace.{name}"] = values[name]
            values["trace.overhead_pct"], hygiene["overhead_baseline"] = (
                (0.0, "smoke run") if args.smoke else _overhead_pct(args.workload, args.seed, tree, values["pass_s"])
            )
        if not args.smoke:
            os.makedirs(os.path.dirname(LEDGER), exist_ok=True)
            if ctx.trace:
                ctx.tracer.dump(os.path.join(os.path.dirname(LEDGER), f"spans-{args.workload}-{args.seed}.json"))
            row = {"workload": args.workload, "seed": args.seed, "trace": ctx.trace, "tree": tree}
            row.update({name: values[name] for name, *_ in END_TO_END})
            with open(LEDGER, "a") as fh:
                fh.write(json.dumps(row) + "\n")
    finally:
        stop_processes()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"hygiene": hygiene}), flush=True)
    print(json.dumps(result(out["correct"], out["attempted"], out["failed"], values, ctx.trace)), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
