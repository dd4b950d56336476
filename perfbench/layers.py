"""Traced-run extras: layer replays on the engine's committed tables, and
the event-log fold that turns job groups into per-layer Spark metrics."""

from __future__ import annotations

import os

import eventlog
from common import Tracer, nproc
from metrics import ENGINE_JOBS, FAMILIES

FPP_PROBES = 200_000


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def crawl_replays(ctx) -> dict:
    """Call each layer in isolation on the tables iteration 1 committed.
    Returns the span of each replay plus the row and byte counts the
    rates are taken over."""
    from pyspark.sql import functions as F

    from pubcrawler_spark.fixtures import YEAR
    from pubcrawler_spark.functions.urltools import with_canonical_url
    from pubcrawler_spark.operators import schedule as sched
    from pubcrawler_spark.operators import seen as seen_mod
    from pubcrawler_spark.operators.parse import parse_pages

    spark, tracer, engine = ctx.spark, ctx.tracer, ctx.engine
    it1 = os.path.join(ctx.ckpt, "iter=1")
    read = lambda name: spark.read.parquet(os.path.join(it1, name))  # noqa: E731
    out: dict = {}

    frontier = read("frontier")
    out["canon_rows"] = frontier.count()
    with tracer.span("replay.urltools") as sp:
        _noop(with_canonical_url(frontier.select("url")))
    out["urltools"] = sp

    fetched = engine.pages.join(read("sched").select("url_canon"), "url_canon", "left_semi")
    agg = fetched.select(F.count("*").alias("n"), F.sum(F.length("html")).alias("b")).first()
    out["parse_pages"], out["parse_bytes"] = agg["n"], agg["b"] or 0
    with tracer.span("replay.parse") as sp:
        _noop(parse_pages(fetched, YEAR, url_col="url_canon"))
    out["parse"] = sp

    # the driver-held blobs (the engine's probe) and the same blobs as a
    # state table (the distributed shard-join probe of bloom_impl="table")
    shards_dir = os.path.join(it1, "seen_shards")
    probe = seen_mod.BloomShards.read(shards_dir).filter_unseen
    table = spark.read.parquet(shards_dir)
    with tracer.span("replay.seen_probe") as sp:
        _noop(probe(frontier))
    out["seen_probe"] = sp
    with tracer.span("replay.seen_shard_join") as sp:
        _noop(seen_mod.filter_unseen_bloom(frontier, table, engine.n_bloom_shards, mode="shard_join"))
    out["seen_shard_join"] = sp
    never_inserted = spark.range(FPP_PROBES).select(
        F.xxhash64(F.lit(f"never-inserted-{ctx.seed}"), "id").alias("url_hash")
    )
    out["fpp"] = 1.0 - probe(never_inserted).count() / FPP_PROBES
    import pyarrow.parquet as pq

    blobs = pq.read_table(shards_dir, columns=["bloom_bytes"]).column("bloom_bytes").to_pylist()
    out["bits"] = 8 * sum(len(b) for b in blobs)

    cand = read("candidates")
    with tracer.span("replay.tag_robots") as sp:
        _noop(sched.tag_robots(cand.drop("robots_ok"), engine.robots_rules))
    out["tag_robots"] = sp
    allowed = cand.filter(F.col("robots_ok")).drop("robots_ok")
    with tracer.span("replay.schedule_ranks") as sp:
        _noop(
            sched.schedule_ranks(
                allowed, engine.host_budget, salt_rows=engine.salt_rows, host_budgets=engine.host_budgets,
                size_hint=ctx.last_counts["input_rows"], serial_limit=engine.seq_serial_limit,
            )
        )
    out["schedule_ranks"] = sp
    return out


def _spark_fields(prefix: str, tot: dict, span_ms: float, per: int, values: dict) -> None:
    for f in eventlog.FIELDS:
        values[f"spark.{prefix}.{f}"] = tot.get(f, 0.0) / per
    # time the work waited: span wall minus its run time spread over the slots
    values[f"spark.{prefix}.wait_ms"] = span_ms / per - tot.get("executor_run_ms", 0.0) / per / nproc()


def fold(ctx, values: dict, replays: dict | None) -> None:
    """Fill the per-layer Spark metrics from the run's event log."""
    rows = eventlog.fold_dir(ctx.eventlog_dir)
    by_group = eventlog.totals(rows, lambda r: r["group"])
    op_ids = {sp["id"] for sp in ctx.op_spans}
    if replays is not None:
        n_ops = len(ctx.op_spans)
        by_job = eventlog.totals(
            rows,
            lambda r: (r["output"] if r["output"] in ENGINE_JOBS else "other") if r["group"] in op_ids else None,
        )
        values["frontier.spark_jobs_per_iter"] = sum(
            by_group.get(sid, {}).get("jobs", 0) for sid in op_ids
        ) / n_ops
        job_ms = {job: values[f"frontier.{job}_ms"] * n_ops for job in ENGINE_JOBS}
        job_ms["other"] = values["frontier.iteration_ms"] * n_ops - sum(job_ms.values())
        for job, span_ms in job_ms.items():
            _spark_fields(job, by_job.get(job, {}), span_ms, n_ops, values)

        def run_s(name: str) -> float:
            return max(1e-9, by_group.get(replays[name]["id"], {}).get("executor_run_ms", 0.0) / 1000)

        values["urltools.canon_rows_per_core_s"] = replays["canon_rows"] / run_s("urltools")
        values["parse.pages_per_core_s"] = replays["parse_pages"] / run_s("parse")
        values["parse.mb_per_core_s"] = replays["parse_bytes"] / 1e6 / run_s("parse")
        values["seen.probe_rows_per_s"] = replays["canon_rows"] / Tracer.wall(replays["seen_probe"])
        values["seen.shard_join_rows_per_s"] = replays["canon_rows"] / Tracer.wall(replays["seen_shard_join"])
        values["seen.bits_per_key"] = replays["bits"] / max(1, ctx.last_counts["seen_total"])
        values["seen.fpp"] = replays["fpp"]
        values["schedule.robots_ms"] = Tracer.wall(replays["tag_robots"]) * 1000
        values["schedule.ranks_ms"] = Tracer.wall(replays["schedule_ranks"]) * 1000
    else:
        n_pass = max(1, len(ctx.op_spans) // ctx.n_ops_per_pass)
        for fam in FAMILIES:
            spans = [sp for sp in ctx.op_spans if sp.get("family") == fam]
            tot = eventlog.merge_keys(by_group, [sp["id"] for sp in spans])
            _spark_fields(fam, tot, sum(Tracer.wall(sp) for sp in spans) * 1000, n_pass, values)
