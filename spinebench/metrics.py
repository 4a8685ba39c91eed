"""Names, units and directions of every metric the benchmark emits.

BENCHMARK.json declares the same set; test_benchmark.py holds them equal.
"""

LAYERS = (
    "session",
    "extract",
    "blocking",
    "scoring",
    "clustering",
    "checkpoint",
    "streaming",
)
# counter: (unit, better), reported for every layer
COUNTERS = {
    "wall_s": ("s", "lower"),
    "exec_run_s": ("s", "lower"),
    "exec_cpu_s": ("s", "lower"),
    "slot_util": ("ratio", "higher"),
    "jobs": ("count", "lower"),
    "stages": ("count", "lower"),
    "tasks_failed": ("count", "lower"),
    "shuffle_read_bytes": ("B", "lower"),
    "shuffle_write_bytes": ("B", "lower"),
    "spill_bytes": ("B", "lower"),
    "rows_out": ("count", "lower"),
}

# name: (unit, better)
END_TO_END = {
    "pages_per_s": ("pages/s", "higher"),
    "batch_p50_s": ("s", "lower"),
    "pairwise_f1": ("ratio", "higher"),
    "peak_rss_mb": ("MB", "lower"),
    "stored_bytes_per_page": ("B/page", "lower"),
    "setup_s": ("s", "lower"),
}
LAYER_EXTRAS = {
    "extract.props_keys_s": ("s", "lower"),
    "blocking.pairs_per_surface": ("ratio", "lower"),
    "blocking.recall": ("ratio", "higher"),
    "scoring.match_rate": ("ratio", "higher"),
    "checkpoint.write_s": ("s", "lower"),
    "checkpoint.recount_s": ("s", "lower"),
    "streaming.add_batch_s": ("s", "lower"),
    "streaming.planning_s": ("s", "lower"),
    "streaming.commit_s": ("s", "lower"),
    "trace.uncovered_s": ("s", "lower"),
    "trace.overhead_s": ("s", "lower"),
}


def per_layer_spec() -> dict:
    """Every per-layer metric: <layer>.<counter>, then the extras."""
    spec = {f"{layer}.{c}": COUNTERS[c] for layer in LAYERS for c in COUNTERS}
    spec.update(LAYER_EXTRAS)
    return spec
