"""``queries`` workload: registered analytics, dedup and search queries
over the repository's sf0.01 fixture tables (``documents``, ``events``
and ``embeddings``, copied under ``perfbench/data/sf0.01``), each run
cold (Spark cache cleared) into a noop sink, in a seeded order.

Set-up is session start, the materialized index builds, and one untimed
pass whose collected results are the outputs checked against the DuckDB
oracles after the timed section."""

from __future__ import annotations

import math
import os
import random
import re
import time

from common import Tracer, median, process_tree_peak_mb, start_spark
from metrics import CACHED_RDD_QUERIES, FAMILIES

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
FAMILY_OF = {q: fam for fam, qs in FAMILIES.items() for q in qs}
# passes speed up as the JVM warms; a fixed minimum keeps every run's
# median over the same passes
MIN_PASSES = 2
_IDX_DIR = re.compile(r"^pubcrawler_idx_(.+)_[0-9a-f]{16}$")


def _index_builds(tmp_dir: str, since: float) -> dict[str, float]:
    """Build seconds of each index completed after ``since`` (wall
    clock), from the ``_SUCCESS`` times of the index directories."""
    done = []
    for name in os.listdir(tmp_dir):
        m = _IDX_DIR.match(name)
        marker = os.path.join(tmp_dir, name, "_SUCCESS")
        if m and os.path.exists(marker):
            t = os.stat(marker).st_mtime
            if t >= since:
                done.append((t, m.group(1)))
    out, prev = {}, since
    for t, name in sorted(done):
        out[name] = t - prev
        prev = t
    return out


def _persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _canon(v):
    if v is None:
        return "\x00NULL"
    if isinstance(v, float):
        return "\x00NaN" if math.isnan(v) else repr(round(v, 9))
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def _rowset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_canon(r[i]) for i in order) for r in rows)


def check_results(data_dir: str, results: dict, oracles: dict) -> dict[str, str]:
    """Compare each query's collected result with its DuckDB oracle by
    columns, row count and order-insensitive value set; a query with no
    oracle must return rows. Returns ``{query: reason}`` for mismatches."""
    import duckdb

    con = duckdb.connect()
    for t in ("documents", "events", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    bad = {}
    for name, (cols, rows) in results.items():
        cols = [c.lower() for c in cols]
        if name not in oracles:
            if not rows:
                bad[name] = "no rows"
            continue
        res = con.execute(oracles[name])
        want_cols = [d[0].lower() for d in res.description]
        want = res.fetchall()
        if sorted(cols) != sorted(want_cols):
            bad[name] = f"columns {cols} vs oracle {want_cols}"
        elif len(rows) != len(want):
            bad[name] = f"{len(rows)} rows vs oracle {len(want)}"
        elif _rowset(cols, rows) != _rowset(want_cols, want):
            bad[name] = "values differ from oracle"
    con.close()
    return bad


def run(ctx) -> dict:
    tracer: Tracer = ctx.tracer
    order = [q for qs in FAMILIES.values() for q in qs]
    random.Random(ctx.seed).shuffle(order)
    values: dict[str, float] = {}

    t_setup = time.monotonic()
    with tracer.span("session") as sp:
        spark = ctx.spark = start_spark(tracer, ctx.eventlog_dir, ctx.ckpt_dir)
    values["session.start_s"] = tracer.wall(sp)
    import __spark_entry__ as entry

    queries, oracles = entry.queries(), entry.oracle_sql()

    # a call that raises here leaves no rows, which the check reports
    results = {}
    with tracer.span("setup.pass"):
        for name in order:
            spark.catalog.clearCache()
            since = time.time()
            with tracer.span(f"setup.{name}"):
                try:
                    df = queries[name](spark, DATA_DIR)
                    results[name] = (df.columns, [tuple(r) for r in df.collect()])
                except Exception as exc:
                    results[name] = ([], [])
                    print(f"setup call {name} failed: {exc!r}"[:400], flush=True)
            for idx, secs in _index_builds(ctx.tmp_dir, since).items():
                values[f"index.{idx}.build_s"] = secs
    values["setup_s"] = time.monotonic() - t_setup

    passes: list[dict[str, float]] = []
    leftovers: dict[str, list[int]] = {q: [] for q in order}
    op_spans: list[dict] = []
    raised: set[tuple[int, str]] = set()
    measured = 0.0
    min_passes = 1 if ctx.smoke else MIN_PASSES
    while measured < ctx.seconds or len(passes) < min_passes:
        walls = {}
        for name in order:
            spark.catalog.clearCache()
            before = _persisted(spark)
            with tracer.span(f"query.{name}", family=FAMILY_OF[name]) as sp:
                try:
                    queries[name](spark, DATA_DIR).write.format("noop").mode("overwrite").save()
                except Exception as exc:
                    raised.add((len(passes), name))
                    print(f"timed call {name} failed: {exc!r}"[:400], flush=True)
            op_spans.append(sp)
            walls[name] = tracer.wall(sp)
            leftovers[name].append(_persisted(spark) - before)
        passes.append(walls)
        measured += sum(walls.values())
    values["peak_rss_mb"] = process_tree_peak_mb()

    bad = check_results(DATA_DIR, results, oracles)
    for name, why in bad.items():
        print(f"check {name}: {why}", flush=True)
    # one failed operation per (pass, query) call that raised or whose
    # query's output does not match
    attempted = len(passes) * len(order)
    failed = len(raised | {(p, q) for p in range(len(passes)) for q in bad})

    for k, (fam, qs) in enumerate(FAMILIES.items()):
        values[f"queries.{fam}_s"] = values[f"part{k + 1}_s"] = median([sum(p[q] for q in qs) for p in passes])
    for q in order:
        values[f"query.{q}.s"] = median([p[q] for p in passes])
    for q in CACHED_RDD_QUERIES:
        values[f"query.{q}.cached_rdds"] = max(leftovers[q])
    values["pass_s"] = median([sum(p.values()) for p in passes])
    values["ops"] = attempted
    values["ops_failed"] = failed
    ctx.op_spans = op_spans
    ctx.op_walls = [round(sum(p.values()), 3) for p in passes]
    ctx.n_ops_per_pass = len(order)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "values": values}
