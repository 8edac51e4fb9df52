"""Spark-free timings of the ``kernel`` and ``sources`` layers.

Each timing calls the engine's own numpy/pyarrow code directly on the
workload's generated inputs, best of a few repeats (the minimum is the
least disturbed by other processes on the box).
"""

from __future__ import annotations

import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

REPEATS = 3
# Row caps keep the whole set of timings near a second per run.
MAX_ROWS = 100_000
MAX_PIP_POINTS = 4_000
MAX_CELLS = 5_000


def _best(fn, repeats: int = REPEATS) -> float:
    best = float("inf")
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return best


def kernel_metrics(
    html: pa.Array, lat: np.ndarray, lng: np.ndarray, loops: list[np.ndarray], level: int
) -> dict[str, float]:
    """``html``: page html sample; ``lat``/``lng``: the workload's points;
    ``loops``: the city layer's loop vertices; ``level``: the cell level
    whose neighbours the workload's operator walks."""
    from geo_spark.kernel import cellid as ck
    from geo_spark.kernel.coverer import RegionCoverer
    from geo_spark.kernel.regions import LoopRegion
    from geo_spark.sources.extract import GEO_POSITION_RE, ICBM_RE

    html = pc.cast(html.slice(0, MAX_ROWS), pa.string())
    lat, lng = lat[:MAX_ROWS], lng[:MAX_ROWS]

    def regex():
        pc.extract_regex(html, GEO_POSITION_RE)
        pc.extract_regex(html, ICBM_RE)

    regions = [LoopRegion.from_vertices(v) for v in loops]
    x, y, z = ck.latlng_to_xyz(lat[:MAX_PIP_POINTS], lng[:MAX_PIP_POINTS])
    pts = np.stack([x, y, z], axis=1)

    def pip():
        for r in regions:
            r.contains_points(pts)

    coverer = RegionCoverer(max_cells=8)

    def cover():
        for r in regions:
            # a fresh region per call: LoopRegion memoizes cell relations
            coverer.covering(LoopRegion(r.verts, r.origin_inside, r.bound))

    cells = np.unique(ck.parent(ck.cellid_from_latlng(lat, lng), level))[:MAX_CELLS]

    return {
        "sources.regex_ns_per_row": _best(regex) / len(html) * 1e9,
        "kernel.encode_ns_per_row": _best(lambda: ck.cellid_from_latlng(lat, lng))
        / len(lat)
        * 1e9,
        "kernel.pip_ns_per_point": _best(pip) / (len(pts) * len(regions)) * 1e9,
        "kernel.covering_ms_per_region": _best(cover, 1) / len(regions) * 1e3,
        "kernel.neighbors_ns_per_cell": _best(lambda: ck.all_neighbors_same_level(cells))
        / len(cells)
        * 1e9,
    }
