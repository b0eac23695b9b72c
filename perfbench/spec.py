"""What the benchmark runs: workloads, inputs, layout and the layer map.

``BENCHMARK.json`` holds the workload names and reasons and every metric
with its unit; this module reads the metrics from it. ``BENCHMARK.json``
carries only the keys its contract allows, so the rest lives here: each
workload's query list, the input tables and their rows, the file layout,
the core count, and which end-to-end metric each per-layer metric is
expected to move.
"""

from __future__ import annotations

import json
import os

PKG = "big_data_project_jan_2026_tick_data__spark"

# Input rows per generated table. ``full`` matches the sf0.1 test data;
# ``smoke`` matches sf0.001. lineitem (600k) and orders (150k) exist at
# sf0.1 too, but no workload query reads them, so they are not written.
ROWS = {
    "full": {"events": 100_000, "embeddings": 2_000},
    "smoke": {"events": 1_000, "embeddings": 500},
}

# Every run starts a fresh JVM and pays a cold pass, two to three times a
# warm one, before it times anything; the whole check (4 + 22 runs per
# workload) must end within 57 minutes. On a 4-core host that leaves room
# for two workloads of two queries each, chosen so that one is
# executor-bound and one driver-bound, and every traced layer shows on one.
# Tables are one parquet file each ("stock", as in the test data: one row
# group, one scan task) unless a workload asks for a split copy.
# The JVM is still warming after the cold pass: on a 4-core host each
# query's first warm run took 1.3-2x its later ones. So each run first
# makes ``warmup_passes`` untimed passes, counted in set-up, then timed
# passes for the given seconds (``run_seconds`` in ``BENCHMARK.json``), at
# least ``min_passes``; ``pass_s`` sums each query's median over the timed
# passes. A traced run runs every query untraced and traced in each timed
# pass. Run-to-run spread comes from the host, not from the sample count:
# within a run all queries slowed or sped up together (their medians
# correlated 0.96 over ten runs) as the host's load drifted over minutes,
# and a 24 s timed window spread as much as a 12 s one. So the window is
# short, and a set of runs spans less of that drift.
WORKLOADS = {
    "tick_scan": {
        "queries": [
            "ticks_downsample_1min",
            "ml_window_tensors",
        ],
        "tables": ["events"],
        "files_per_core": 2,
        # Each task slot runs a task thread and a Python worker for the
        # pandas UDF, so half the cores keeps the busy processes within
        # the cores. On a 4-core host a pass took as long on 2 slots as on
        # 4 (these 100k-row queries are bound by per-task overhead), and
        # on 4 slots it swung more with the host's load.
        "slots_per_core": 0.5,
        "warmup_passes": 2,
        "min_passes": 3,
    },
    "driver_loops": {
        "queries": [
            "emb_kmeans",
            "streaming_upsert_replay",
        ],
        "tables": ["events", "embeddings"],
        # one events file: the streaming replay reads it as a single
        # micro-batch, so the snapshot table gets one write and no merge
        "files_per_core": 0,
        "slots_per_core": 1,
        "warmup_passes": 1,
        "min_passes": 3,
    },
}


def cores() -> int:
    """Cores of the host: 4 on the host the bounds in ``BENCHMARK.json``
    were set on."""
    return len(os.sched_getaffinity(0))


def slots(workload: str) -> int:
    """Task slots the engine runs ``workload`` on, ``local[slots]``."""
    return max(1, int(cores() * WORKLOADS[workload]["slots_per_core"]))


def files_for(workload: str) -> int:
    """Parquet files per table for ``workload`` (1 = stock layout)."""
    per_core = WORKLOADS[workload]["files_per_core"]
    return per_core * cores() if per_core else 1


# operator modules whose public functions the traced run wraps
OPERATORS = ("similarity", "mlfeat", "ticks")

# Metric names and units are those of ``BENCHMARK.json``. Per-layer values
# are per traced pass, except engine.* and registry.import_s, read once per
# run; a *_frac is a share of the build time (operators, plans, streaming)
# or of the executor run time (exec, python). The end-to-end metric each
# layer should move, and where:
#   engine.session_s, registry.import_s        -> setup_s, both workloads
#   engine.jvm_peak_rss_mb, engine.retained_*  -> none (memory), driver_loops
#   registry.build_*                           -> pass_s, driver_loops; no
#                                                 change expected on tick_scan
#   operators.similarity.*, plans.*,
#   streaming.*                                -> pass_s, driver_loops
#   operators.{mlfeat,ticks}.*, catalyst.*,
#   exec.*, python.*                           -> pass_s, tick_scan
#   operators.self_s, sources.read_s           -> pass_s, both workloads
#   trace.*                                    -> none (cost of tracing)
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(_ROOT, "BENCHMARK.json")) as _f:
    _BENCH = json.load(_f)
END_TO_END = {m["name"]: m["unit"] for m in _BENCH["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _BENCH["per_layer"]}
