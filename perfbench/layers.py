"""What each per-layer metric is expected to move.

BENCHMARK.json holds every metric's name, unit and direction; it has no
key for this prediction, so it lives here: per-layer metric -> (the
end-to-end metric it should move, the workloads it should move it on).
A change that claims a gain on one layer is held to this entry, and, by
omission, to no change on the other workloads.
"""

from __future__ import annotations

import json
import os

SPEC = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")

PAGES = ("pages",)
KNN = ("knn_broadcast",)
ALL = PAGES + KNN

MOVES: dict[str, tuple[str, tuple[str, ...]]] = {
    "session.start_s": ("setup_s", ALL),
    "sources.regex_ns_per_row": ("rows_per_s", PAGES),
    "kernel.encode_ns_per_row": ("rows_per_s", PAGES),
    "kernel.pip_ns_per_point": ("rows_per_s", PAGES),
    "kernel.covering_ms_per_region": ("setup_s", PAGES),
    "kernel.neighbors_ns_per_cell": ("rows_per_s", KNN),
    "operators.build_layer_s": ("setup_s", PAGES),  # prepare() time
    "operators.plan_s": ("rows_per_s", ALL),
    "operators.exec_s": ("rows_per_s", ALL),
    # one operator's share of the pages pass: an extract gain moves both
    # pages operators, a join gain spatial_join alone
    "operators.tile_counts_s": ("rows_per_s", PAGES),
    "operators.spatial_join_s": ("rows_per_s", PAGES),
    "operators.knn_join_s": ("rows_per_s", KNN),
    # the distributed kNN tier and the engine's iterative operators
    # checkpoint per round; none of the workloads runs them
    "plans.checkpoint_s": ("rows_per_s", ()),
    "spark.jobs_per_pass": ("rows_per_s", ALL),
    "spark.stages_per_pass": ("rows_per_s", PAGES),
    "spark.tasks_per_pass": ("rows_per_s", ALL),
    "spark.scan_ms": ("rows_per_s", PAGES),
    "spark.scan_bytes": ("rows_per_s", PAGES),
    "spark.codegen_ms": ("rows_per_s", PAGES),
    "spark.python.nodes": ("rows_per_s", ALL),
    "spark.python.boot_ms": ("rows_per_s", ALL),
    "spark.python.init_ms": ("rows_per_s", ALL),
    "spark.python.run_ms": ("rows_per_s", ALL),
    "spark.python.bytes_in": ("rows_per_s", ALL),
    "spark.python.bytes_out": ("rows_per_s", ALL),
    "spark.shuffle.bytes_written": ("rows_per_s", PAGES),
    "spark.shuffle.write_ms": ("rows_per_s", PAGES),
    "spark.shuffle.fetch_wait_ms": ("rows_per_s", PAGES),
    "spark.shuffle.spill_bytes": ("rows_per_s", PAGES),
    "spark.agg.build_ms": ("rows_per_s", PAGES),
    "spark.agg.peak_mem_bytes": ("rows_per_s", PAGES),
    "spark.join.build_ms": ("rows_per_s", PAGES),
    "spark.join.broadcast_bytes": ("retained_mb", PAGES),
    "spark.refine_rows_in": ("rows_per_s", PAGES),
    "spark.refine_keep_ratio": ("rows_per_s", PAGES),
    "spark.task.cpu_frac": ("rows_per_s", ALL),
    "spark.task.gc_ms": ("rows_per_s", ALL),
    "spark.task.skew": ("rows_per_s", ALL),
    "span.run.self_s": ("setup_s", ALL),
    "span.setup.self_s": ("setup_s", ALL),
    "span.session.self_s": ("setup_s", ALL),
    "span.load.self_s": ("setup_s", ALL),
    "span.prep.self_s": ("setup_s", PAGES),
    "span.pass.self_s": ("rows_per_s", ALL),
    "span.operator.self_s": ("rows_per_s", ALL),
    "span.sink.self_s": ("rows_per_s", ALL),
    "span.job.self_s": ("rows_per_s", ALL),
    "span.stage.self_s": ("rows_per_s", ALL),
    "trace.overhead_frac": ("rows_per_s", ALL),
}


def units() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json."""
    with open(SPEC) as f:
        spec = json.load(f)
    return tuple({m["name"]: m["unit"] for m in spec[k]} for k in ("end_to_end", "per_layer"))
