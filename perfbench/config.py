"""Run settings shared by the runner and the workloads. Input sizes and
shares live next to their generators in ``datagen.py``."""

WORKLOAD_NAMES = ("sql_analytics", "corpus_dedup", "geo_publish")
DEFAULT_SEED = 1
RUN_SECONDS = 8
DRIVER_MEM = "2g"

LAYER_UNITS = {
    "calls": "count", "call_s": "s", "eager_jobs": "count", "action_s": "s",
    "jobs": "count", "idle_s": "s", "exec_run_s": "s", "exec_cpu_s": "s",
    "gc_s": "s", "input_mb": "MB", "shuffle_mb": "MB", "spill_mb": "MB",
    "output_mb": "MB", "python_s": "s", "failed_tasks": "count",
}

# ratio metric -> (numerator counter, denominator counter)
RATIOS = {
    "operators.pair_yield": ("verified_pairs", "candidate_pairs"),
    "sync.rewrite_ratio": ("rows_rewritten", "rows_changed"),
    "governance.erase_rewrite_ratio": ("files_rewritten", "files_scanned"),
}
