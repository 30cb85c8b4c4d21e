"""Every metric the benchmark prints, and the end-to-end metric and
workload each per-layer metric should move.

``BENCHMARK.json`` declares the same names; ``tests/test_metrics.py`` keeps
the two in step.
"""

from __future__ import annotations

# name -> unit.  Every workload prints every one of these with --trace 0.
# op_geomean_ms is the geometric mean of the /search request latencies on
# both workloads (whole rounds of the mix, so every class weighs the same:
# unlike a median it does not jump between the cheap and costly classes
# from seed to seed); work_per_s is
# batch queries per second on query, and on refresh the geometric mean of
# pages appended per second and urls deleted per second.
END_TO_END = {
    "setup_s": "s",
    "op_geomean_ms": "ms",
    "work_per_s": "1/s",
    "index_bytes_per_text_byte": "ratio",
    "peak_rss_mb": "MB",
}

# Build phases: the catalog table each phase writes -> layer name.
BUILD_PHASES = {
    "docs_raw": "extract.p1",
    "docs_sorted": "docids.p2a",
    "docs": "docids.p2b",
    "docmeta": "build.p3",
    "postings": "build.p4",
    "index_stats": "build.p5",
    "postings_partial": "merge.p6a",
    "doclens": "merge.p6b",
    "postings_packed": "merge.p6",
}
CATALOG_TABLES = ("docs_raw", "docs", "docmeta", "postings",
                  "postings_partial", "postings_packed", "doclens")
QUERY_CLASSES = ("frozen", "head", "tail", "and", "or", "phrase", "not",
                 "prefix", "stopword")

_BUILD = "build.docs_per_s in traced runs (each builds the base)"
_OP = "op_geomean_ms on query and refresh"
_QPS = "work_per_s on query"
_REFRESH = "work_per_s on refresh"

# name -> (unit, what it should move).  Every workload prints every one
# of these with --trace 1; a layer the workload does not exercise reads 0.
PER_LAYER: dict[str, tuple[str, str]] = {
    "build.docs_per_s": ("1/s", "base pages / from-scratch build wall"),
}
for _phase in BUILD_PHASES.values():
    PER_LAYER[f"{_phase}_s"] = ("s", _BUILD + (
        "; " + _REFRESH if _phase in ("extract.p1", "docids.p2a") else ""))
    PER_LAYER[f"{_phase}.task_run_s"] = ("s", _BUILD)
    PER_LAYER[f"{_phase}.shuffle_mb"] = ("MB", _BUILD)
    PER_LAYER[f"{_phase}.spill_mb"] = ("MB", _BUILD)
PER_LAYER["build.driver_s"] = ("s", _BUILD)
for _t in CATALOG_TABLES:
    PER_LAYER[f"catalog.{_t}_mb"] = (
        "MB", "index_bytes_per_text_byte; postings also build.p4_s and "
        + _REFRESH)
PER_LAYER.update({
    "functions.parse_us_per_doc": ("us", _BUILD),
    "extract.udf_overhead_frac": ("ratio", _BUILD),
    "query_ast.compile_ms": ("ms", _OP),
    "wand.plan_ms": ("ms", _OP),
    "spark.exec_ms": ("ms", _OP),
    "serve.handler_ms": ("ms", _OP),
    "spark.jobs_per_query": ("count", _OP + "; not " + _QPS),
    "spark.stages_per_query": ("count", _OP + "; not " + _QPS),
    "spark.tasks_per_query": ("count", _OP + "; not " + _QPS),
    "spark.task_run_ms_per_query": ("ms", _OP),
    "spark.sched_wait_ms": ("ms", _OP + "; not " + _QPS),
    "spark.records_read_per_query": ("count", _OP),
    "spark.shuffle_kb_per_query": ("KB", _OP),
})
for _c in QUERY_CLASSES:
    PER_LAYER[f"class.{_c}.p50_ms"] = ("ms", _OP)
    PER_LAYER[f"class.{_c}.jobs"] = ("count", _OP)
PER_LAYER.update({
    "batch.plan_ms": ("ms", _QPS),
    "batch.exec_s": ("s", _QPS),
    "batch.jobs": ("count", _QPS),
    "batch.task_run_s": ("s", _QPS),
    "batch.busy_frac": ("ratio", _QPS),
    "batch.shuffle_mb": ("MB", _QPS),
    "codec.decode_ns_per_posting": ("ns", _QPS),
    "pipeline.a1_s": ("s", _REFRESH),
    "pipeline.a2a_s": ("s", _REFRESH),
    "pipeline.a2b_s": ("s", _REFRESH),
    "pipeline.apply_s": ("s", _REFRESH),
    "pipeline.append_s": ("s", _REFRESH),
    "pipeline.delete_s": ("s", _REFRESH),
    "catalog.generations": ("count", _REFRESH + " and " + _OP),
    "catalog.swaps": ("count", _REFRESH),
    "host.nproc": ("count", "context for every metric"),
    "host.mem_gb": ("GB", "context for every metric"),
    "host.calib_s": ("s", "context for every metric"),
    "host.steal_frac": ("ratio", "context for every metric"),
    "trace.overhead_frac": ("ratio", "context for every metric"),
    "trace.unattributed_frac": ("ratio", "context for every metric"),
    "check.fail_frac": ("ratio", "correctness of every workload"),
    "run.ops": ("count", "sample count behind op_geomean_ms"),
})
