"""Workload definitions and run protocol constants of the benchmark.

Metric names, units and bounds live in BENCHMARK.json at the repository
root and are read from there, so the two never drift apart."""
import json
import os

# generated input sets: (base scale factor, grow replicas); see gen.py
DATASETS = {
    # 600k lineitem rows, 5k documents, 2k embeddings; replica 1 is grown
    "rung": (0.05, 2),
    # the shape and size of the engine's sf0.1 test fixture
    "fixture": (0.1, 1),
}

# query -> engine module whose operator it calls (graft.<module>);
# warmup: untimed warm passes before the timed ones, after the three
# set-ups and one warm pass. The JIT keeps speeding up iterative's
# re-planning loops for about ten passes, core's executor-bound passes
# for about five.
WORKLOADS = {
    "core": {"data": "rung", "warmup": 2, "queries": {
        "contingency": "functions",
        "dedup_edit_distance": "text",
        "filter_values_tree": "operators",
        "impute_model": "preprocess",
    }},
    "iterative": {"data": "fixture", "warmup": 5, "queries": {
        "ml_kmeans_lloyd": "ml",
        "stream_stateful_user_stats": "streaming",
    }},
}

SETUPS = 3       # set-up repetitions per run; setup_s is their median
MIN_PASSES = 3   # timed warm passes per run at least, however short --seconds
MAX_CORES = 4

with open(os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "BENCHMARK.json")) as _f:
    _SPEC = json.load(_f)
END_TO_END = _SPEC["end_to_end"]
PER_LAYER = _SPEC["per_layer"]


def cores():
    return min(MAX_CORES, os.cpu_count() or 1)
