"""Metric names, units and bounds: the one list ``BENCHMARK.json`` and
the printed results are checked against (tests/test_perfbench.py)."""

from __future__ import annotations

# (name, unit, better, bound). Every workload prints every end-to-end
# metric, so part1_s..part3_s are slots each workload fills with its own
# three parts: crawl with the phases of its steady iteration (schedule,
# fetch and parse, frontier update: the engine's job timings from the
# iteration manifest), queries with the analytics, dedup and search
# walls. A regression in one part is gated on its own wall rather than
# diluted in the whole pass.
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("pass_s", "s", "lower", 0.25),
    ("part1_s", "s", "lower", 0.25),
    ("part2_s", "s", "lower", 0.25),
    ("part3_s", "s", "lower", 0.25),
]

WORKLOADS = {
    "crawl": "CrawlEngine steady iteration at the bench frontier shape (part1-3_s: schedule, fetch+parse, "
    "frontier update); per-job fixed cost, seen probe and salted scheduling",
    "queries": "analytics, dedup and search queries (part1-3_s) on the sf0.01 fixtures, cold into a noop sink; "
    "layers the crawl never touches",
}

# the Spark writes of one iteration, named by their output directory;
# the engine's other jobs in the iteration (footer-free reads, broadcasts)
# fold into "other"
ENGINE_JOBS = ["candidates", "sched", "parsed_links", "frontier"]
FAMILIES = {
    "analytics": ["q12_word_frequency", "q26_politeness_schedule"],
    "dedup": ["q16_minhash_lsh_pairs", "q53_span_dedup_13gram"],
    "search": ["q21_ann_cosine_topk", "q24_semantic_search_joinback", "q25_keyword_search"],
}
# queries whose persisted leftovers are counted (the dedup family and q26)
CACHED_RDD_QUERIES = FAMILIES["dedup"] + ["q26_politeness_schedule"]
INDEXES = ["postings_docs"]
SPARK_FIELDS = [
    ("executor_run_ms", "ms"),
    ("executor_cpu_ms", "ms"),
    ("python_ms", "ms"),
    ("shuffle_write_bytes", "bytes"),
    ("spill_bytes", "bytes"),
    ("tasks", "count"),
    ("wait_ms", "ms"),
]
FRONTIER_MS = ["candidates", "sched", "parsed_links", "frontier", "seen", "seen_shards", "counters", "commit_tail"]


def _per_layer() -> list[tuple[str, str, str]]:
    m = [
        ("session.start_s", "s", "lower"),
        ("peak_rss_mb", "MB", "lower"),
        ("ops", "count", "higher"),
        ("ops_failed", "count", "lower"),
        ("urls_per_s", "1/s", "higher"),
    ]
    m += [(f"trace.{n}", u, b) for n, u, b, _ in END_TO_END]
    m += [("trace.overhead_pct", "%", "lower")]
    m += [(f"frontier.{j}_ms", "ms", "lower") for j in FRONTIER_MS]
    m += [
        ("frontier.jobs_sum_ms", "ms", "lower"),
        ("frontier.iteration_ms", "ms", "lower"),
        ("frontier.unattributed_ms", "ms", "lower"),
        ("frontier.spark_jobs_per_iter", "count", "lower"),
        ("frontier.sched_yield", "ratio", "higher"),
        ("frontier.fetch_hit", "ratio", "higher"),
    ]
    for unit in ENGINE_JOBS + ["other"] + list(FAMILIES):
        m += [(f"spark.{unit}.{f}", u, "lower") for f, u in SPARK_FIELDS]
    m += [
        ("urltools.canon_rows_per_core_s", "1/s", "higher"),
        ("parse.pages_per_core_s", "1/s", "higher"),
        ("parse.mb_per_core_s", "MB/s", "higher"),
        ("seen.probe_rows_per_s", "1/s", "higher"),
        ("seen.shard_join_rows_per_s", "1/s", "higher"),
        ("seen.bits_per_key", "bits", "lower"),
        ("seen.fpp", "ratio", "lower"),
        ("schedule.robots_ms", "ms", "lower"),
        ("schedule.ranks_ms", "ms", "lower"),
    ]
    m += [(f"queries.{fam}_s", "s", "lower") for fam in FAMILIES]
    m += [(f"query.{q}.s", "s", "lower") for qs in FAMILIES.values() for q in qs]
    m += [(f"query.{q}.cached_rdds", "count", "lower") for q in CACHED_RDD_QUERIES]
    m += [(f"index.{i}.build_s", "s", "lower") for i in INDEXES]
    return m


PER_LAYER = _per_layer()
UNITS = {name: unit for name, unit, *_ in END_TO_END + PER_LAYER}


def benchmark_json() -> dict:
    """The ``BENCHMARK.json`` document this schema describes."""
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": 5,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS.items()],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound} for n, u, b, bound in END_TO_END
        ],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, u, b in PER_LAYER],
    }


def result(correct: bool, attempted: int, failed: int, values: dict, trace: bool) -> dict:
    """The final result line: every metric of the run's kind, 0 for a
    per-layer metric the workload does not exercise."""
    names = [n for n, *_ in (PER_LAYER if trace else END_TO_END)]
    return {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {n: {"value": float(values.get(n, 0.0)), "unit": UNITS[n]} for n in names},
    }
