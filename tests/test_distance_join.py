"""Distance join vs brute-force all-pairs distances."""

from __future__ import annotations

import numpy as np
import pytest

from geo_spark.kernel import cellid as ck
from geo_spark.kernel.pip import latlng_text_to_xyz
from geo_spark.kernel.regions import (
    Cap,
    LoopRegion,
    chord2_from_angle,
    distance_chord2,
)
from geo_spark.operators.distance_join import build_distance_layer, distance_join

RADIUS = 0.02  # rad ~ 127 km


def _regions():
    return [
        (1, Cap.from_center_angle(40.7, -74.0, 0.01)),
        (
            2,
            LoopRegion.from_vertices(
                latlng_text_to_xyz("48:1, 48:3, 50:3, 50:1")
            ),
        ),
        (3, Cap.from_center_angle(-33.9, 151.2, 0.015)),
    ]


@pytest.fixture(scope="module")
def pts(spark):
    rng = np.random.default_rng(12)
    centers = np.array([[40.7, -74.0], [49.0, 2.0], [-33.9, 151.2]])
    pick = rng.integers(0, 3, 1500)
    lat = np.clip(centers[pick, 0] + rng.normal(0, 2.0, 1500), -89, 89)
    lng = (centers[pick, 1] + rng.normal(0, 2.0, 1500) + 180) % 360 - 180
    cell = ck.to_signed(ck.cellid_from_latlng(lat, lng))
    df = spark.createDataFrame(
        [(int(i), float(lat[i]), float(lng[i]), int(cell[i])) for i in range(1500)],
        "pid long, lat double, lng double, cell_id long",
    )
    df.cache().count()
    return df, lat, lng


def test_distance_join_matches_brute(spark, pts):
    df, lat, lng = pts
    layer = build_distance_layer(spark, _regions(), RADIUS)
    got = {
        (r["pid"], r["geom_id"])
        for r in distance_join(df, layer, RADIUS, point_key="pid").collect()
    }
    x, y, z = ck.latlng_to_xyz(lat, lng)
    p3 = np.stack([x, y, z], axis=1)
    limit2 = chord2_from_angle(RADIUS)
    expected = set()
    for gid, region in _regions():
        d = distance_chord2(region, p3)
        for pid in np.nonzero(d <= limit2)[0]:
            expected.add((int(pid), gid))
    assert got == expected
    assert len(expected) > 50


def test_distance_zero_equals_containment(spark, pts):
    df, lat, lng = pts
    layer = build_distance_layer(spark, _regions(), 1e-9)
    got = {
        (r["pid"], r["geom_id"])
        for r in distance_join(df, layer, 1e-9, point_key="pid").collect()
    }
    x, y, z = ck.latlng_to_xyz(lat, lng)
    p3 = np.stack([x, y, z], axis=1)
    expected = set()
    for gid, region in _regions():
        inside = region.contains_points(p3)
        near = distance_chord2(region, p3) <= chord2_from_angle(1e-9)
        for pid in np.nonzero(inside | near)[0]:
            expected.add((int(pid), gid))
    assert got == expected


def test_distance_join_distributed_tier_matches_closure(spark, pts, as_distributed):
    df, lat, lng = pts
    layer = build_distance_layer(spark, _regions(), RADIUS)
    closure = {
        (r["pid"], r["geom_id"], r["chord2"])
        for r in distance_join(df, layer, RADIUS, point_key="pid").collect()
    }
    distributed = {
        (r["pid"], r["geom_id"], r["chord2"])
        for r in distance_join(
            df, as_distributed(layer), RADIUS, point_key="pid"
        ).collect()
    }
    assert closure == distributed
    assert len(closure) > 0


def test_knn_regions_distributed_tier_radius_bounded(spark, pts, as_distributed):
    """Distributed knn_regions == brute top-k restricted to the layer's
    buffer radius; a non-distance layer (no radius) raises."""
    from geo_spark.operators.knn import knn_regions
    from geo_spark.operators.spatial_join import build_layer

    df, lat, lng = pts
    big_r = 0.5  # wide enough that most points see 2+ regions
    dlayer = as_distributed(build_distance_layer(spark, _regions(), big_r))
    got = {
        (r["pid"], r["geom_id"], r["rank"])
        for r in knn_regions(df, dlayer, k=2, point_key="pid").collect()
    }
    x, y, z = ck.latlng_to_xyz(lat, lng)
    p3 = np.stack([x, y, z], axis=1)
    regs = sorted(_regions())
    dmat = np.stack([distance_chord2(r, p3) for _, r in regs], axis=1)
    gids = np.array([g for g, _ in regs])
    limit2 = chord2_from_angle(big_r)
    expected = set()
    for pid in range(len(lat)):
        cands = [
            (dmat[pid, j], int(gids[j]))
            for j in range(len(regs))
            if dmat[pid, j] <= limit2
        ]
        cands.sort()
        for rank, (_, gid) in enumerate(cands[:2], 1):
            expected.add((pid, gid, rank))
    assert got == expected
    assert len(got) > 0

    no_radius = build_layer(spark, _regions(), max_cells=8)
    no_radius.regions = None
    with pytest.raises(ValueError, match="distance layer"):
        knn_regions(df, no_radius, k=2, point_key="pid")


def test_knn_regions_matches_brute(spark, pts):
    from geo_spark.operators.knn import knn_regions
    from geo_spark.operators.spatial_join import build_layer

    df, lat, lng = pts
    layer = build_layer(spark, _regions(), max_cells=8)
    got = {
        (r["pid"], r["geom_id"], r["rank"])
        for r in knn_regions(df, layer, k=2, point_key="pid").collect()
    }
    x, y, z = ck.latlng_to_xyz(lat, lng)
    p3 = np.stack([x, y, z], axis=1)
    regs = sorted(_regions())
    dmat = np.stack([distance_chord2(r, p3) for _, r in regs], axis=1)
    gids = np.array([g for g, _ in regs])
    order = np.lexsort((np.broadcast_to(gids, dmat.shape), dmat), axis=1)
    expected = set()
    for pid in range(len(lat)):
        for rank, ix in enumerate(order[pid, :2], 1):
            expected.add((pid, int(gids[ix]), rank))
    assert got == expected
