"""Within-distance join: points within radius r of layer geometries.

The distance analog of the PIP join (the "IsDistanceLess" query family,
s2/edge_query.go + s2/min_distance_targets.go): the layer side's
coverings are buffered by the radius with ExpandByRadius semantics
(s2/cellunion.go:482-501 — expand at the level whose MinWidth >= r, so
the buffered covering provably contains every point within r); the
candidate join is the same (level, ancestor) equi-join; the refine
computes the exact point->region distance (kernel/regions.distance_chord2)
and keeps chord <= chord(r).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from geo_spark.kernel import cellid as ck
from geo_spark.kernel import cellunion as cu
from geo_spark.kernel.coverer import RegionCoverer
from geo_spark.kernel.regions import Region, chord2_from_angle, distance_chord2
from geo_spark.operators.spatial_join import (
    Layer,
    _build,
    _candidates,
    _refine_by_region,
)


def build_distance_layer(
    spark: SparkSession,
    regions: list[tuple[int, Region]],
    radius_rad: float,
    max_cells: int = 8,
) -> Layer:
    """Layer whose coverings are buffered by the radius; all cells are
    non-interior (distance refine always runs — a cell fully inside the
    *buffered* region does not certify distance <= r pointwise, so no
    skip flag is claimed)."""
    coverer = RegionCoverer(max_cells=max_cells)
    # Polyline fast path: the buffered covering is closed-form — the
    # cells the chain passes through at the radius level (supercover
    # uv walk, kernel/clipping.edge_cells_at_level) plus one neighbor
    # ring (expand_at_level).  Identical ExpandByRadius guarantee
    # (MinWidth(radius_level) >= r, s2/cellunion.go:482-501) without
    # the RegionCoverer priority search — ~10x cheaper per region,
    # which is what makes >20k-segment road-network layers buildable.
    from geo_spark.kernel import metric
    from geo_spark.kernel.clipping import edge_cells_at_level
    from geo_spark.kernel.regions import PolylineRegion

    radius_level = metric.MIN_WIDTH.max_level(radius_rad)

    def cells_of(region: Region):
        if isinstance(region, PolylineRegion) and len(region.verts) >= 2:
            core: set[int] = set()
            v = region.verts
            for i in range(len(v) - 1):
                core.update(
                    int(c) for c in edge_cells_at_level(v[i], v[i + 1], radius_level)
                )
            buffered = cu.expand_at_level(sorted(core), radius_level)
        else:
            buffered = cu.expand_by_radius(coverer.covering(region), radius_rad)
        return [(c, False) for c in buffered]

    return _build(spark, regions, cells_of, radius_rad=radius_rad)


def distance_join(
    points: DataFrame,
    layer: Layer,
    radius_rad: float,
    point_key: str,
    cell_col: str = "cell_id",
    latlng: tuple[str, str] = ("lat", "lng"),
) -> DataFrame:
    """(point_key, geom_id, chord2) for points within the radius.

    The candidate rows take the covering join's one refine path
    (spatial_join._refine_by_region): closure-size layers ship the
    region map in the task closure; bigger layers (a real road network
    is millions of segments, the EdgeQuery contract has no index-size
    ceiling — s2/edge_query.go:177-763) attach the geometry blobs to
    the candidate rows by a broadcast/AQE blob join."""
    pts = points.select(point_key, cell_col, *latlng)
    limit2 = chord2_from_angle(radius_rad)
    key_type = pts.schema[point_key].dataType.simpleString()
    schema = f"{point_key} {key_type}, geom_id long, chord2 double"

    def within(pdf, inv, regs):
        x, y, z = ck.latlng_to_xyz(
            pdf[latlng[0]].to_numpy(np.float64),
            pdf[latlng[1]].to_numpy(np.float64),
        )
        p3 = np.stack([x, y, z], axis=1)
        d = np.full(len(pdf), np.inf)
        for i, region in enumerate(regs):
            m = inv == i
            d[m] = distance_chord2(region, p3[m])
        keep = d <= limit2
        return pd.DataFrame(
            {
                point_key: pdf[point_key].to_numpy()[keep],
                "geom_id": pdf["geom_id"].to_numpy(np.int64)[keep],
                "chord2": d[keep],
            }
        )

    return _refine_by_region(_candidates(pts, layer, cell_col), layer, within, schema)
