"""Round-2 kernel additions: vertex models, turning angle, RegionUnion,
cell-id string form, exact-center snap detection, edge-pair distances."""

from __future__ import annotations

import math

import numpy as np
import pytest

from geo_spark.kernel import cellid as ck
from geo_spark.kernel import edges as E
from geo_spark.kernel import measures as M
from geo_spark.kernel.coverer import RegionCoverer
from geo_spark.kernel.pip import (
    latlng_text_to_xyz,
    loop_contains_points_with_model,
    loop_origin_inside,
    point_on_chain,
)
from geo_spark.kernel.regions import Cap, RegionUnion


def test_vertex_models_boundary_semantics():
    loop = latlng_text_to_xyz("0:0, 0:10, 10:10, 10:0")
    oi = loop_origin_inside(loop)
    vertex = loop[0]
    mid_edge = latlng_text_to_xyz("0:5")[0]  # on the equator edge exactly
    inner = latlng_text_to_xyz("5:5")[0]
    outer = latlng_text_to_xyz("20:20")[0]
    pts = np.stack([vertex, mid_edge, inner, outer])
    assert list(point_on_chain(loop, pts)) == [True, True, False, False]
    assert list(
        loop_contains_points_with_model(loop, oi, pts, "open")
    ) == [False, False, True, False]
    assert list(
        loop_contains_points_with_model(loop, oi, pts, "semi_open")
    ) == [False, False, True, False]
    assert list(
        loop_contains_points_with_model(loop, oi, pts, "closed")
    ) == [True, True, True, False]


def test_turning_angle_orientation_and_normalized():
    ccw = latlng_text_to_xyz("0:0, 0:10, 10:10, 10:0")
    cw = ccw[::-1].copy()
    assert abs(M.loop_turning_angle(ccw) - 2 * math.pi) < 0.2
    assert abs(M.loop_turning_angle(cw) + 2 * math.pi) < 0.2
    assert M.loop_is_normalized(ccw)
    assert not M.loop_is_normalized(cw)


def test_region_union_covering_and_predicates():
    u = RegionUnion(
        (Cap.from_center_angle(0, 0, 0.05), Cap.from_center_angle(45, 90, 0.05))
    )
    cov = RegionCoverer(max_cells=12).covering(u)
    assert cov
    for (la, ln), want in (((0, 0), True), ((45, 90), True), ((20, 20), False)):
        x, y, z = ck.latlng_to_xyz(np.float64(la), np.float64(ln))
        p = np.array([float(x), float(y), float(z)])
        p /= np.linalg.norm(p)
        assert u.contains_point(p) == want
        if want:  # member points must be covered
            leaf = int(ck.cellid_from_latlng(np.array([la]), np.array([ln]))[0])
            assert any(
                int(ck.range_min(np.array([c], dtype=np.uint64))[0])
                <= leaf
                <= int(ck.range_max(np.array([c], dtype=np.uint64))[0])
                for c in cov
            )


def test_cellid_string_roundtrip():
    ids = ck.cellid_from_latlng(
        np.array([48.8, -33.9, 0.0]), np.array([2.3, 151.2, -179.9])
    )
    for lvl in (0, 4, 13, 30):
        p = ck.parent(ids, lvl)
        for s, c in zip(ck.to_string(p), p):
            assert s[1] == "/" and len(s) == 2 + lvl
            assert ck.cellid_from_string(s) == int(c)
    with pytest.raises(ValueError):
        ck.cellid_from_string("7/012")
    with pytest.raises(ValueError):
        ck.cellid_from_string("2/014")


def test_xyz_to_face_siti_snap():
    leaf = ck.cellid_from_latlng(np.array([10.0]), np.array([20.0]))
    for lvl in (4, 12, 30):
        c = int(ck.parent(leaf, lvl)[0])
        x, y, z = ck.cellid_to_xyz(np.array([c], dtype=np.uint64))
        p = np.array([float(x[0]), float(y[0]), float(z[0])])
        p /= np.linalg.norm(p)
        f, si, ti, got_lvl = ck.xyz_to_face_siti(p)
        assert got_lvl == lvl
    f, si, ti, lvl = ck.xyz_to_face_siti(
        np.array([0.5, 0.5, 0.70710678])
    )
    assert lvl == -1


def test_edge_pair_distance_cases():
    # crossing -> 0
    a = latlng_text_to_xyz("-5:0, 5:0")
    b = latlng_text_to_xyz("0:-5, 0:5")
    assert E.edge_pair_chord2(a[0], a[1], b[0], b[1]) == 0.0
    # non-crossing: meridian segment ending at the equator vs a lat-1 arc
    # (whose geodesic bulges to ~1.0004 deg at lng 0) -> ~1 degree apart
    s = latlng_text_to_xyz("-5:0, 0:0")
    c = latlng_text_to_xyz("1:-5, 1:5")
    d2 = E.edge_pair_chord2(s[0], s[1], c[0], c[1])
    got_deg = math.degrees(2 * math.asin(0.5 * math.sqrt(d2)))
    assert 0.99 < got_deg < 1.01
    # chain form agrees with the pairwise form for 2-vertex chains
    assert E.chain_pair_chord2(s, c) == pytest.approx(d2, abs=1e-15)
    assert E.polylines_intersect(a, b)
    assert not E.polylines_intersect(s, c)


def test_contains_nested_and_compare_boundary():
    from geo_spark.kernel.relations import (
        compare_boundary,
        loop_contains_nested,
    )
    from geo_spark.kernel.pip import loop_origin_inside
    from geo_spark.sources.layers import regular_loop_vertices

    outer = regular_loop_vertices(10, 10, 0.3, 16)
    inner = regular_loop_vertices(10, 10, 0.1, 16)
    far = regular_loop_vertices(-40, -100, 0.1, 16)
    oo = loop_origin_inside(outer)
    io = loop_origin_inside(inner)
    assert loop_contains_nested(outer, oo, inner)
    assert not loop_contains_nested(inner, io, outer)
    assert compare_boundary(outer, oo, inner) == 1
    assert compare_boundary(inner, io, outer) == -1
    assert compare_boundary(outer, oo, far) == -1
    # crossing rings -> 0
    cross = regular_loop_vertices(10.0, 10.3, 0.3, 16)
    assert compare_boundary(outer, oo, cross) == 0


def test_shape_nesting_operator(spark):
    from geo_spark.operators.nesting import shape_nesting
    from geo_spark.sources.layers import regular_loop_vertices

    rows = []
    for layer in (1, 2):
        for lid, r in ((10, 0.3), (11, 0.15), (12, 0.05)):
            v = regular_loop_vertices(20 * layer, 10, r, 12)
            rows.append((layer, lid, [list(map(float, p)) for p in v]))
        rows.append(
            (layer, 99, [list(map(float, p))
                         for p in regular_loop_vertices(-50, -60 * layer, 0.1, 12)])
        )
    df = spark.createDataFrame(
        rows, "layer_id long, loop_id long, verts array<array<double>>"
    )
    got = {
        (r["layer_id"], r["loop_id"]): (r["parent_id"], r["depth"], r["is_hole"])
        for r in shape_nesting(df).collect()
    }
    for layer in (1, 2):
        assert got[(layer, 10)] == (None, 0, False)
        assert got[(layer, 11)] == (10, 1, True)
        assert got[(layer, 12)] == (11, 2, False)
        assert got[(layer, 99)] == (None, 0, False)


def test_rect_centroid_and_distance():
    import math

    from geo_spark.kernel.interval import (
        R1Interval,
        Rect,
        S1Interval,
        rect_centroid,
        rect_distance_to_latlng,
    )

    r = Rect(
        R1Interval(math.radians(10), math.radians(30)),
        S1Interval(math.radians(20), math.radians(60)),
    )
    x, y, z = rect_centroid(r)
    # analytic values cross-checked against a 2M-point Monte Carlo run
    assert x == pytest.approx(0.16010, abs=1e-4)
    assert y == pytest.approx(0.13434, abs=1e-4)
    assert z == pytest.approx(0.07674, abs=1e-4)
    assert rect_distance_to_latlng(r, math.radians(15), math.radians(40)) == 0.0
    # due north of the rect: pure latitude gap
    assert rect_distance_to_latlng(
        r, math.radians(50), math.radians(40)
    ) == pytest.approx(math.radians(20), abs=1e-12)
    # east of the rect: nearest is the lng=60 meridian edge
    d = rect_distance_to_latlng(r, math.radians(20), math.radians(100))
    assert d == pytest.approx(0.648539, abs=1e-5)


def test_haversine_matches_chord():
    from geo_spark.kernel.measures import haversine_distance

    rng = np.random.default_rng(12)
    lat1 = rng.uniform(-89, 89, 500)
    lng1 = rng.uniform(-180, 180, 500)
    lat2 = rng.uniform(-89, 89, 500)
    lng2 = rng.uniform(-180, 180, 500)
    x1, y1, z1 = ck.latlng_to_xyz(lat1, lng1)
    x2, y2, z2 = ck.latlng_to_xyz(lat2, lng2)
    c2 = (x1 - x2) ** 2 + (y1 - y2) ** 2 + (z1 - z2) ** 2
    expect = 2 * np.arcsin(0.5 * np.sqrt(np.minimum(4.0, c2)))
    got = haversine_distance(lat1, lng1, lat2, lng2)
    assert np.allclose(got, expect, atol=1e-12)


def test_rotate_rodrigues():
    from geo_spark.kernel.predicates import ortho, rotate

    p = np.array([1.0, 0.0, 0.0])
    z = np.array([0.0, 0.0, 1.0])
    q = rotate(p, z, math.pi / 2)
    assert np.allclose(q, [0, 1, 0], atol=1e-15)
    # full turn = identity; rotation preserves the angle to the axis
    rng = np.random.default_rng(3)
    v = rng.normal(size=3)
    v /= np.linalg.norm(v)
    axis = ortho(v)
    assert np.allclose(rotate(v, axis, 2 * math.pi), v, atol=1e-14)
    r = rotate(v, axis, 0.7)
    assert abs(float(r @ axis) - float(v @ axis)) < 1e-14


def test_flood_fill_covering_matches_coverer_leaves():
    from geo_spark.kernel.coverer import simple_region_covering

    cap = Cap.from_center_angle(25.0, 45.0, 0.05)
    cells = simple_region_covering(cap, (25.0, 45.0), 8)
    assert cells
    # every cell intersects; the set is exactly the level-8 cells that
    # may intersect (cross-check against a brute scan of a window)
    from geo_spark.kernel.cell import Cell

    for c in cells:
        assert cap.may_intersect_cell(Cell.from_id(c))
    # brute: all level-8 cells around the center via all_neighbors rings
    leaf = int(ck.cellid_from_latlng(np.array([25.0]), np.array([45.0]))[0])
    start = int(ck.parent(np.array([leaf], dtype=np.uint64), 8)[0])
    ring = {start}
    grown = {start}
    for _ in range(20):
        nxt = set()
        for x in ring:
            nxt.update(int(n) for n in ck.all_neighbors(x, 8))
        ring = nxt - grown
        grown |= nxt
    brute = sorted(
        c for c in grown if cap.may_intersect_cell(Cell.from_id(c))
    )
    assert brute == cells


def test_random_projection_jl_property(spark):
    """JL sanity: with 32 sign projections, squared pairwise distances
    of well-separated cluster centers are preserved within a loose
    constant (deterministic fixture; sqrt(2/k) relative noise), and projections are exact integers
    replayable from the documented sign hash."""
    import numpy as np
    from geo_spark.operators.similarity import random_projection

    rng = np.random.default_rng(20260820)
    base = rng.uniform(-0.9, 0.9, (4, 64))
    rows = [(i, [float(x) for x in base[i]]) for i in range(4)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    k = 64
    got = random_projection(df, out_dim=k).collect()
    P = np.zeros((4, k))
    for r in got:
        P[r["vec_id"], r["d"]] = r["proj"]
    # exact replay of one projection value
    q = np.floor((np.asarray(base[0], np.float32).astype(np.float64) + 1.0)
                 * 1e6).astype(np.int64)
    sign = np.where(((np.arange(64) * 1000003 + (0 * 7919 + 1))
                     * 2654435761) % 4294967296 < 2147483648, 1, -1)
    assert int((sign * q).sum()) == int(P[0, 0])
    # distance preservation within a loose constant (E[|Px-Py|^2] = k|x-y|^2)
    Q = np.floor((base + 1.0) * 1e6)
    for a in range(4):
        for b in range(a + 1, 4):
            orig = ((Q[a] - Q[b]) ** 2).sum() * k
            proj = ((P[a] - P[b]) ** 2).sum()
            assert 0.25 * orig < proj < 3.0 * orig, (a, b)


def test_level_for_meters_brackets_min_width():
    """level_for_meters picks the deepest level whose MIN_WIDTH still
    spans the target: at least the target there, below it one level
    deeper (s2/metric.go:134-146)."""
    from geo_spark.kernel import metric

    for m in (0.5, 3.0, 75.0, 1_000.0, 12_345.0, 400_000.0):
        lvl = metric.level_for_meters(m)
        target = metric.meters_to_radians(m)
        assert 0 < lvl < 30
        assert metric.MIN_WIDTH.value(lvl) >= target
        assert metric.MIN_WIDTH.value(lvl + 1) < target
