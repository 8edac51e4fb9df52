"""Spatial-join differential tests: covering-join + refine must equal the
brute-force all-pairs containment, including semi/anti variants and the
hot-cell salted covering (result invariance under the split)."""

from __future__ import annotations

import numpy as np
import pytest

from geo_spark.kernel import cellid as ck
from geo_spark.kernel.pip import latlng_text_to_xyz
from geo_spark.kernel.regions import Cap, LoopRegion, RectRegion
from geo_spark.operators.spatial_join import (
    build_layer,
    hot_cell_histogram,
    spatial_join,
    split_hot_cells,
)

N_POINTS = 4000


@pytest.fixture(scope="module")
def points_df(spark):
    rng = np.random.default_rng(7)
    # Cluster half the points near the region centers so joins have hits.
    centers = np.array([[40.7, -74.0], [48.85, 2.35], [-33.9, 151.2], [35.7, 139.7]])
    pick = rng.integers(0, len(centers), N_POINTS // 2)
    lat = np.concatenate(
        [
            centers[pick, 0] + rng.normal(0, 1.5, N_POINTS // 2),
            rng.uniform(-85, 85, N_POINTS - N_POINTS // 2),
        ]
    )
    lng = np.concatenate(
        [
            centers[pick, 1] + rng.normal(0, 1.5, N_POINTS // 2),
            rng.uniform(-180, 180, N_POINTS - N_POINTS // 2),
        ]
    )
    lat = np.clip(lat, -89.9, 89.9)
    lng = (lng + 180) % 360 - 180
    cell = ck.to_signed(ck.cellid_from_latlng(lat, lng))
    rows = [
        (int(i), float(lat[i]), float(lng[i]), int(cell[i])) for i in range(N_POINTS)
    ]
    df = spark.createDataFrame(rows, "pid long, lat double, lng double, cell_id long")
    df.cache().count()
    return df, lat, lng


def _regions():
    return [
        (1, Cap.from_center_angle(40.7, -74.0, 0.03)),
        (2, Cap.from_center_angle(48.85, 2.35, 0.01)),
        (3, RectRegion.from_degrees(-35.5, 149.0, -32.0, 153.0)),
        (
            4,
            LoopRegion.from_vertices(
                latlng_text_to_xyz("34:138, 34:141, 37:141, 37:138")
            ),
        ),
        (5, Cap.from_center_angle(-89.0, 0.0, 0.05)),  # south-pole cap, faces 4-5 bias
    ]


def _brute(lat, lng):
    x, y, z = ck.latlng_to_xyz(lat, lng)
    pts = np.stack([x, y, z], axis=1)
    expected = set()
    for gid, region in _regions():
        hits = region.contains_points(pts)
        for pid in np.nonzero(hits)[0]:
            expected.add((int(pid), gid))
    return expected


@pytest.fixture(scope="module")
def layer(spark, points_df):
    return build_layer(spark, _regions(), max_cells=8)


def test_join_matches_brute_force(spark, points_df, layer):
    df, lat, lng = points_df
    got = {
        (r["pid"], r["geom_id"])
        for r in spatial_join(
            df, layer, point_key="pid", latlng=("lat", "lng")
        ).collect()
    }
    expected = _brute(lat, lng)
    assert got == expected
    assert len(expected) > 100  # the fixture actually exercises the join


def test_semi_and_anti_join(spark, points_df, layer):
    df, lat, lng = points_df
    expected_pids = {p for p, _ in _brute(lat, lng)}
    semi = {
        r["pid"]
        for r in spatial_join(
            df, layer, point_key="pid", how="left_semi", latlng=("lat", "lng")
        ).collect()
    }
    anti = {
        r["pid"]
        for r in spatial_join(
            df, layer, point_key="pid", how="left_anti", latlng=("lat", "lng")
        ).collect()
    }
    assert semi == expected_pids
    assert anti == set(range(N_POINTS)) - expected_pids
    assert len(semi) + len(anti) == N_POINTS


def test_salted_join_invariant(spark, points_df, layer):
    df, lat, lng = points_df
    hist = hot_cell_histogram(df, layer, top=5)
    assert hist, "histogram should find populated covering cells"
    hot = [c for c, _ in hist[:3]]
    salted = split_hot_cells(layer, hot, split_levels=2)
    # More, finer covering cells...
    assert salted.covering.count() > layer.covering.count()
    # ...same join result (the salt is Parent-consistent).
    got = {
        (r["pid"], r["geom_id"])
        for r in spatial_join(
            df, salted, point_key="pid", latlng=("lat", "lng")
        ).collect()
    }
    assert got == _brute(lat, lng)


def test_interior_cells_skip_refine(spark, layer):
    # At least one geometry should produce interior covering cells for a
    # cap this size; the is_interior flag must mark only contained cells.
    rows = layer.covering.collect()
    interiors = [r for r in rows if r["is_interior"]]
    from geo_spark.kernel.cell import Cell

    for r in interiors:
        u = int(ck.from_signed(np.array([r["cell"]], dtype=np.int64))[0])
        region = dict(_regions())[r["geom_id"]]
        assert region.contains_cell(Cell.from_id(u))


def _jobs_of(sc, tag: str, call, settle: float = 10.0):
    """``call()``'s result and the ids of the Spark jobs it fired,
    counted through a job group.  Job-start events reach the tracker
    asynchronously: wait up to ``settle`` seconds for a non-empty id
    list to hold still."""
    import time

    sc.setJobGroup(tag, tag)
    try:
        out = call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    seen, deadline = None, time.time() + settle
    while True:
        ids = sorted(sc.statusTracker().getJobIdsForGroup(tag))
        if (ids and ids == seen) or time.time() >= deadline:
            return out, ids
        seen = ids
        time.sleep(0.5)


def test_auto_salt_layer(spark, points_df, layer):
    """Adaptive salting: the clustered point pile triggers splits of
    overloaded covering cells and the join result is unchanged.  The
    measurement is ONE driver action: auto_salt_layer fires no more
    Spark jobs than the histogram alone (the total comes from the same
    aggregate; the salted levels and prefilter keys are derived)."""
    from geo_spark.operators.spatial_join import auto_salt_layer

    df, lat, lng = points_df
    sc = spark.sparkContext
    before = {
        (r["pid"], r["geom_id"])
        for r in spatial_join(
            df, layer, point_key="pid", latlng=("lat", "lng")
        ).collect()
    }
    _, hist_jobs = _jobs_of(
        sc, "salt-hist", lambda: hot_cell_histogram(df, layer, top=20)
    )
    (salted, hot), salt_jobs = _jobs_of(
        sc, "salt-auto", lambda: auto_salt_layer(df, layer, skew_ratio=4.0)
    )
    assert hot, "clustered pile must trigger splits"
    assert hist_jobs and len(salt_jobs) == len(hist_jobs)
    assert salted.levels[0] == layer.levels[0]
    assert salted.prefilter_cells == layer.prefilter_cells
    after = {
        (r["pid"], r["geom_id"])
        for r in spatial_join(
            df, salted, point_key="pid", latlng=("lat", "lng")
        ).collect()
    }
    assert after == before
    assert salted.covering_rows > layer.covering_rows
    # Derived levels: a superset of the levels the salted covering has.
    assert set(salted.levels) >= {
        r["level"] for r in salted.covering.select("level").distinct().collect()
    }


def test_refine_fallback_matches_closure_and_is_deskewed(
    spark, points_df, as_distributed
):
    """The huge-layer refine fallback on a SKEWED fixture (one
    near-global cap holds ~every candidate): results equal the closure
    path, and the plan has no per-geometry keyed group — previously a
    groupBy(geom_id).applyInPandas pinned the dense geometry to one
    task."""
    from geo_spark.operators.spatial_join import build_layer, spatial_join

    df, lat, lng = points_df
    # interior=False forces EVERY candidate through the refine; the
    # 2-rad cap contains nearly all fixture points -> maximal skew.
    regions = [
        (1, Cap.from_center_angle(30.0, -30.0, 2.0)),
        (2, Cap.from_center_angle(48.85, 2.35, 0.01)),
    ]
    layer = build_layer(spark, regions, max_cells=8, interior=False)
    forced = as_distributed(layer)

    closure = {
        (r["pid"], r["geom_id"])
        for r in spatial_join(
            df, layer, point_key="pid", latlng=("lat", "lng")
        ).collect()
    }
    joined = spatial_join(df, forced, point_key="pid", latlng=("lat", "lng"))
    got = {(r["pid"], r["geom_id"]) for r in joined.collect()}
    assert got == closure
    assert len(got) > 100

    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" not in plan
    assert "hashpartitioning(geom_id" not in plan
    assert "CartesianProduct" not in plan
    assert "MapInPandas" in plan


def test_plan_build_fires_no_job_once_layer_is_known(spark, points_df, as_distributed):
    """The coarse prefilter's key set is a fact of the layer, not of a
    join: a driver-built layer plans spatial_join without any Spark job,
    and a layer that does not know the key set yet computes it on its
    first join only — the second join's plan fires no job."""
    df, _, _ = points_df
    sc = spark.sparkContext

    def plan_jobs(tag, layer, settle=0.0):
        return _jobs_of(
            sc,
            tag,
            lambda: spatial_join(df, layer, point_key="pid", latlng=("lat", "lng")),
            settle,
        )[1]

    built = build_layer(spark, _regions(), max_cells=8)
    assert plan_jobs("sj-driver-layer", built) == []
    fresh = as_distributed(built)
    assert plan_jobs("sj-first-join", fresh, settle=10.0)
    assert plan_jobs("sj-second-join", fresh) == []


def test_blob_tier_interior_rows_carry_no_blob(spark, points_df, as_distributed):
    """Blob tier on an ``interior=True`` layer: the one-pass refine
    equals the closure tier, and interior candidate rows cross the
    Arrow hop without a geometry blob (only boundary rows get one, and
    only their ids get a region)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from geo_spark.operators.spatial_join import _candidates, _refine_by_region

    df, lat, lng = points_df
    layer = build_layer(spark, _regions(), max_cells=8)
    forced = as_distributed(layer)

    def pairs(lay):
        return {
            (r["pid"], r["geom_id"])
            for r in spatial_join(
                df, lay, point_key="pid", latlng=("lat", "lng")
            ).collect()
        }

    assert pairs(forced) == pairs(layer) == _brute(lat, lng)

    # What the refine node receives on this layer, row by row.
    def spy(pdf, inv, regs):
        return pd.DataFrame(
            {
                "interior": pdf["is_interior"].to_numpy(bool),
                "has_blob": pdf["blob"].notna().to_numpy(),
                "has_region": np.array([regs[i] is not None for i in inv]),
            }
        )

    cand = _candidates(df.select("pid", "cell_id"), forced, "cell_id")
    seen = _refine_by_region(
        cand,
        forced,
        spy,
        "interior boolean, has_blob boolean, has_region boolean",
        needs_region=~F.col("is_interior"),
    ).collect()
    interior = [r for r in seen if r["interior"]]
    boundary = [r for r in seen if not r["interior"]]
    assert interior and boundary, "fixture must yield both kinds of rows"
    assert not any(r["has_blob"] for r in interior)
    assert all(r["has_blob"] and r["has_region"] for r in boundary)

    # spatial_join itself asks the refine path for exactly that: the
    # blob join keeps every candidate and attaches blobs to boundary
    # rows only.
    plan = (
        spatial_join(df, forced, point_key="pid", latlng=("lat", "lng"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "LeftOuter" in plan and "NOT is_interior" in plan, plan
