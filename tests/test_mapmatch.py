"""Map matching (nearest-edge assignment) tests: brute-force
differential over random trails, plus pinned tie cases (shared vertex,
point equidistant to two trails)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from geo_spark.kernel import cellid as ck
from geo_spark.kernel.edges import (
    point_to_edges_chord2_argmin,
    point_segment_chord2,
)
from geo_spark.kernel.regions import PolylineRegion, chord2_from_angle
from geo_spark.operators.distance_join import build_distance_layer
from geo_spark.operators.mapmatch import map_match

RADIUS = 500_000.0 / 6_371_010.0


def _trails_from_rng(rng, n_trails, n_verts=4):
    trails = []
    for gid in range(n_trails):
        lat = rng.uniform(-70, 70, n_verts)
        lng = rng.uniform(-180, 180, n_verts)
        x, y, z = ck.latlng_to_xyz(lat, lng)
        trails.append((gid, PolylineRegion.from_vertices(np.stack([x, y, z], 1))))
    return trails


def _brute(points_xyz, trails, limit2):
    """(point -> (gid, seg, chord2)) via exhaustive segment sweep with
    the (chord2, gid, seg) lexicographic tie-break."""
    out = {}
    for pid, p in enumerate(points_xyz):
        best = None
        for gid, tr in trails:
            d, s = point_to_edges_chord2_argmin(p[None, :], tr.verts)
            key = (float(d[0]), gid, int(s[0]))
            if best is None or key < best:
                best = key
        if best is not None and best[0] <= limit2:
            out[pid] = (best[1], best[2], best[0])
    return out


def test_map_match_brute_differential(spark):
    rng = np.random.default_rng(20260818)
    trails = _trails_from_rng(rng, 12)
    lat = rng.uniform(-80, 80, 400)
    lng = rng.uniform(-180, 180, 400)
    x, y, z = ck.latlng_to_xyz(lat, lng)
    pts_xyz = np.stack([x, y, z], 1)

    rows = [
        (
            int(i),
            float(lat[i]),
            float(lng[i]),
            int(ck.to_signed(ck.cellid_from_latlng(lat[i], lng[i]))),
        )
        for i in range(len(lat))
    ]
    pts = spark.createDataFrame(rows, "pid long, lat double, lng double, cell_id long")
    layer = build_distance_layer(spark, trails, RADIUS)
    got = {
        r["pid"]: (r["geom_id"], r["seg_idx"], r["chord2"])
        for r in map_match(pts, layer, RADIUS, point_key="pid").collect()
    }
    want = _brute(pts_xyz, trails, chord2_from_angle(RADIUS))
    assert set(got) == set(want)
    for pid in want:
        assert got[pid][0] == want[pid][0], pid
        assert got[pid][1] == want[pid][1], pid
        assert got[pid][2] == pytest.approx(want[pid][2], abs=0.0)


def test_map_match_distributed_tier_matches_closure(spark, as_distributed):
    """Blob-join refine == closure refine, row for row (the
    EdgeQuery-has-no-index-ceiling contract)."""
    rng = np.random.default_rng(20260819)
    trails = _trails_from_rng(rng, 15)
    lat = rng.uniform(-80, 80, 300)
    lng = rng.uniform(-180, 180, 300)
    rows = [
        (
            int(i),
            float(lat[i]),
            float(lng[i]),
            int(ck.to_signed(ck.cellid_from_latlng(lat[i], lng[i]))),
        )
        for i in range(len(lat))
    ]
    pts = spark.createDataFrame(rows, "pid long, lat double, lng double, cell_id long")
    layer = build_distance_layer(spark, trails, RADIUS)
    closure = {
        r["pid"]: (r["geom_id"], r["seg_idx"], r["chord2"])
        for r in map_match(pts, layer, RADIUS, point_key="pid").collect()
    }
    dist_layer = as_distributed(layer)
    distributed = {
        r["pid"]: (r["geom_id"], r["seg_idx"], r["chord2"])
        for r in map_match(pts, dist_layer, RADIUS, point_key="pid").collect()
    }
    assert closure == distributed
    assert len(closure) > 0


def test_map_match_distributed_plan_has_no_geom_group_exchange(
    spark, as_distributed
):
    """The distributed tier must never key a shuffle or a grouped
    Python stage by geom_id — one dense geometry would pin one task."""
    from pyspark.sql import functions as F

    rng = np.random.default_rng(7)
    trails = _trails_from_rng(rng, 8)
    lat = rng.uniform(-80, 80, 50)
    lng = rng.uniform(-180, 180, 50)
    rows = [
        (
            int(i),
            float(lat[i]),
            float(lng[i]),
            int(ck.to_signed(ck.cellid_from_latlng(lat[i], lng[i]))),
        )
        for i in range(len(lat))
    ]
    pts = spark.createDataFrame(rows, "pid long, lat double, lng double, cell_id long")
    layer = as_distributed(build_distance_layer(spark, trails, RADIUS))
    plan = (
        map_match(pts, layer, RADIUS, point_key="pid")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "FlatMapGroupsInPandas" not in plan  # no per-geometry group
    assert "hashpartitioning(geom_id" not in plan
    assert "MapInPandas" in plan  # the batch-local grouped refine
    assert "BroadcastHashJoin" in plan  # blob attach is a broadcast


def test_shared_vertex_tie_takes_lowest_segment():
    """A point whose nearest feature is an interior VERTEX of the chain
    is equidistant to both adjacent segments — the argmin must report
    the lower segment index (matching ORDER BY (chord2, seg_idx))."""
    lat = np.array([0.0, 10.0, 0.0])
    lng = np.array([0.0, 10.0, 20.0])
    x, y, z = ck.latlng_to_xyz(lat, lng)
    chain = np.stack([x, y, z], 1)
    # probe well "above" the apex vertex: nearest point is the vertex
    px, py, pz = ck.latlng_to_xyz(np.array([30.0]), np.array([10.0]))
    p = np.stack([px, py, pz], 1)
    d, s = point_to_edges_chord2_argmin(p, chain)
    d0 = point_segment_chord2(p, chain[0][None, :], chain[1][None, :])
    d1 = point_segment_chord2(p, chain[1][None, :], chain[2][None, :])
    assert d0[0] == d1[0]  # exact tie at the shared vertex
    assert s[0] == 0 and d[0] == d0[0]


def test_degenerate_segment_endpoint_path():
    """Coincident chain vertices (zero edge normal) must fall back to
    the endpoint distance, never the interior great-circle formula."""
    x, y, z = ck.latlng_to_xyz(np.array([5.0, 5.0]), np.array([5.0, 5.0]))
    chain = np.stack([x, y, z], 1)
    px, py, pz = ck.latlng_to_xyz(np.array([6.0]), np.array([5.0]))
    p = np.stack([px, py, pz], 1)
    d, s = point_to_edges_chord2_argmin(p, chain)
    exp = ((p[0] - chain[0]) ** 2).sum()
    assert d[0] == pytest.approx(exp, rel=1e-15)
    assert s[0] == 0
