"""``crawl`` workload: ``CrawlEngine`` over a seeded ``generate_pages``
corpus in bloom seen mode with driver-held blobs, at the bench frontier
shape (4 KB filler, up to 6 out-links, host budget 400).

Set-up runs the seed iteration and one untimed replay of iteration 1 (the
first replay pays first-use costs, such as the bloom probe and
detail-page parsing, that no later one does). A timed operation is the
first steady iteration, replayed from the committed seed checkpoint: the
benchmark deletes ``iter=1`` and resumes, which is the engine's own
resume path, so every operation does the same work on the same state.
Each includes the engine's resume set-up: reading the seed iteration's
frontier and bloom shards (the engine's in-memory blobs are ahead of the
rolled-back checkpoint). Outputs of the last operation are checked
against ``refmirror.mirror_crawl``."""

from __future__ import annotations

import json
import os
import shutil
import time

from common import Tracer, median, process_tree_peak_mb, start_spark
from metrics import FRONTIER_MS

SHAPE = {"n_pages": 4000, "filler_kb": 4, "max_outlinks": 6, "host_budget": 400}
SMOKE_SHAPE = {**SHAPE, "n_pages": 300, "host_budget": 10}
COUNTER_JOBS = ("cand_counters", "sched_counter", "pl_counters", "miss_counter")
# the iteration's phases as the manifest's job timings name them; every
# other job (frontier write, seen update, commit) is the frontier update
SCHEDULE_JOBS = ("candidates", "cand_counters", "sched", "sched_counter")
FETCH_PARSE_JOBS = ("parsed_links", "pl_counters")
# replays speed up as the JVM warms; a fixed count keeps every run's
# median at the same point of that curve
MIN_OPS = 4


def shape_for(smoke: bool) -> dict:
    return SMOKE_SHAPE if smoke else SHAPE


def prepare(cache_dir: str, seed: int, shape: dict) -> tuple[str, dict]:
    """Pages parquet (16 files, 2048-row groups, as the bench corpus) and
    the seeds/robots of ``generate_pages(n, seed)``, cached by seed."""
    out = os.path.join(cache_dir, f"pages-n{shape['n_pages']}-f{shape['filler_kb']}-seed{seed}")
    if not os.path.exists(os.path.join(out, "meta.json")):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from pubcrawler_spark.fixtures import generate_pages

        fx = generate_pages(shape["n_pages"], seed=seed, filler_kb=shape["filler_kb"], max_outlinks=shape["max_outlinks"])
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(os.path.join(tmp, "pages"))
        tbl = pa.table({k: [r[k] for r in fx.rows] for k in ("url", "warc_ts", "html", "text", "lang")})
        step = -(-tbl.num_rows // 16)
        for i in range(16):
            pq.write_table(
                tbl.slice(i * step, step), os.path.join(tmp, "pages", f"part-{i:04d}.parquet"), row_group_size=2048
            )
        with open(os.path.join(tmp, "meta.json"), "w") as fh:
            json.dump({"seeds": fx.seeds, "robots": fx.robots}, fh)
        os.replace(tmp, out)
    with open(os.path.join(out, "meta.json")) as fh:
        return os.path.join(out, "pages"), json.load(fh)


def _rollback(ckpt: str) -> None:
    """Drop every committed iteration after the seed iteration."""
    for name in os.listdir(ckpt):
        if name.startswith("iter=") and name != "iter=0":
            shutil.rmtree(os.path.join(ckpt, name))


def check_against_mirror(engine, seed: int, shape: dict, iterations: int) -> list[str]:
    """Schedule order, seen membership and extracted text against the
    pure-Python reference crawl of the same corpus. The mirror parses
    the corpus generated without filler: ``generate_pages`` draws the
    same pages for the same seed whatever ``filler_kb`` is, and filler
    never changes an extracted record or link, so the reference result
    is the same at a fraction of the parse cost."""
    from pubcrawler_spark import refmirror
    from pubcrawler_spark.fixtures import YEAR, generate_pages, is_index_url

    fx = generate_pages(shape["n_pages"], seed=seed, filler_kb=0, max_outlinks=shape["max_outlinks"])
    want = refmirror.mirror_crawl(
        {r["url"]: r["html"] for r in fx.rows}, fx.seeds, fx.robots,
        host_budget=shape["host_budget"], max_iterations=iterations, year=YEAR,
        index_url_pred=is_index_url,
    )
    bad = []
    got_sched = [
        (r.iteration, r.seq, r.url_canon)
        for r in engine.full_schedule().orderBy("iteration", "seq").collect()
    ]
    if got_sched != [(s["iteration"], s["seq"], s["url_canon"]) for s in want["schedule"]]:
        bad.append(f"schedule order differs ({len(got_sched)} rows vs {len(want['schedule'])})")
    if {r.url_canon for r in engine.final_seen().collect()} != want["seen"]:
        bad.append("seen membership differs")
    got_text = {r.url_canon: r.text for r in engine.full_parsed().collect()}
    if got_text != {p["url_canon"]: p["text"] for p in want["parsed"]}:
        bad.append("extracted text differs")
    return bad


def run(ctx) -> dict:
    from pubcrawler_spark.fixtures import YEAR
    from pubcrawler_spark.plans.frontier import CrawlEngine

    tracer: Tracer = ctx.tracer
    shape = shape_for(ctx.smoke)
    pages_dir, meta = prepare(ctx.cache_dir, ctx.seed, shape)
    ckpt = os.path.join(ctx.work_dir, "crawl_ckpt")
    values: dict[str, float] = {}

    t_setup = time.monotonic()
    with tracer.span("session") as sp:
        spark = ctx.spark = start_spark(tracer, ctx.eventlog_dir, ctx.ckpt_dir)
    values["session.start_s"] = tracer.wall(sp)
    with tracer.span("setup.engine"):
        engine = CrawlEngine(
            spark,
            spark.read.parquet(pages_dir),
            spark.createDataFrame(sorted(meta["robots"].items()), "host string, robots_txt string"),
            meta["seeds"],
            checkpoint_dir=ckpt,
            year=YEAR,
            host_budget=shape["host_budget"],
            seen_mode="bloom",
            bloom_impl="driver",
            detailed_metrics=False,
        )
    with tracer.span("setup.seed_iteration"):
        engine.run(max_iterations=1)
    with tracer.span("setup.warm_iteration"):
        engine.run(max_iterations=2, resume=True)
    values["setup_s"] = time.monotonic() - t_setup

    ops: list[dict] = []
    measured = 0.0
    while measured < ctx.seconds or len(ops) < MIN_OPS:
        _rollback(ckpt)
        with tracer.span("op.iteration") as sp:
            totals = engine.run(max_iterations=2, resume=True)
        with open(os.path.join(ckpt, "iter=1", "_manifest.json")) as fh:
            counts = json.load(fh)["counts"]
        measured += tracer.wall(sp)
        ops.append({"span": sp, "wall": tracer.wall(sp), "counts": counts, "ran": totals["iterations"]})
    values["peak_rss_mb"] = process_tree_peak_mb()

    # every replay of iteration 1 must move the same URLs
    def moved(op):
        return op["counts"]["scheduled"], op["counts"]["parsed"]

    failed = sum(1 for op in ops if op["ran"] != 1 or moved(op) != moved(ops[0]))
    bad = check_against_mirror(engine, ctx.seed, shape, iterations=2)
    for why in bad:
        print(f"check: {why}", flush=True)
    if bad:
        failed = len(ops)

    def job_s(op, jobs):
        return sum(op["counts"]["job_ms"].get(j, 0) for j in jobs) / 1000

    values["pass_s"] = median([op["wall"] for op in ops])
    values["part1_s"] = median([job_s(op, SCHEDULE_JOBS) for op in ops])
    values["part2_s"] = median([job_s(op, FETCH_PARSE_JOBS) for op in ops])
    values["part3_s"] = median(
        [job_s(op, op["counts"]["job_ms"]) - job_s(op, SCHEDULE_JOBS + FETCH_PARSE_JOBS) for op in ops]
    )
    values["urls_per_s"] = median([sum(moved(op)) / op["wall"] for op in ops])
    values["ops"] = len(ops)
    values["ops_failed"] = failed
    _frontier_values(ops, values)

    ctx.engine, ctx.ckpt = engine, ckpt
    ctx.last_counts = ops[-1]["counts"]
    ctx.op_spans = [op["span"] for op in ops]
    ctx.op_walls = [round(op["wall"], 3) for op in ops]
    return {"correct": not bad and failed == 0, "attempted": len(ops), "failed": failed, "values": values}


def _frontier_values(iterations: list[dict], values: dict) -> None:
    """Per-iteration means, over every timed iteration, of the manifest's
    ``job_ms`` next to the iteration wall; the frontier write runs on a
    thread beside the seen update, so the job sum may exceed the wall
    (negative remainder)."""
    def mean(fn):
        return sum(fn(it["counts"], it) for it in iterations) / len(iterations)

    for job in FRONTIER_MS:
        if job != "counters":
            values[f"frontier.{job}_ms"] = mean(lambda c, it: c["job_ms"].get(job, 0))
    values["frontier.counters_ms"] = mean(lambda c, it: sum(c["job_ms"].get(k, 0) for k in COUNTER_JOBS))
    values["frontier.jobs_sum_ms"] = mean(lambda c, it: sum(c["job_ms"].values()))
    values["frontier.iteration_ms"] = mean(lambda c, it: it["wall"] * 1000)
    values["frontier.unattributed_ms"] = values["frontier.iteration_ms"] - values["frontier.jobs_sum_ms"]
    values["frontier.sched_yield"] = mean(lambda c, it: c["scheduled"]) / max(1, mean(lambda c, it: c["input_rows"]))
    values["frontier.fetch_hit"] = mean(lambda c, it: c["parsed"]) / max(1, mean(lambda c, it: c["scheduled"]))
