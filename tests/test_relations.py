"""Loop relations vs brute force, and the polygon-polygon range join."""

from __future__ import annotations

import numpy as np
import pytest

from geo_spark.kernel.pip import latlng_text_to_xyz
from geo_spark.kernel.regions import LoopRegion
from geo_spark.kernel.relations import loop_relation
from geo_spark.operators.geom_join import polygon_polygon_join
from geo_spark.operators.spatial_join import build_layer
from geo_spark.sources.layers import regular_loop_vertices


def _loop(txt):
    return LoopRegion.from_vertices(latlng_text_to_xyz(txt))


BIG = _loop("30:-90, 30:-60, 50:-60, 50:-90")
INNER = _loop("35:-80, 35:-70, 45:-70, 45:-80")
OVERLAP = _loop("45:-100, 45:-75, 60:-75, 60:-100")
FAR = _loop("-20:100, -20:120, 0:120, 0:100")


def test_relation_nested():
    c, i = loop_relation(BIG.verts, BIG.origin_inside, INNER.verts, INNER.origin_inside)
    assert (c, i) == (True, True)
    c, i = loop_relation(INNER.verts, INNER.origin_inside, BIG.verts, BIG.origin_inside)
    assert (c, i) == (False, True)


def test_relation_overlap_and_disjoint():
    c, i = loop_relation(BIG.verts, BIG.origin_inside, OVERLAP.verts, OVERLAP.origin_inside)
    assert (c, i) == (False, True)
    c, i = loop_relation(BIG.verts, BIG.origin_inside, FAR.verts, FAR.origin_inside)
    assert (c, i) == (False, False)


def test_polygon_polygon_join(spark):
    # Layer A: grid of loops around two cities; layer B: one big loop per
    # city that contains some of them.
    a_regions = []
    gid = 0
    for clat, clng in [(40.7, -74.0), (48.85, 2.35)]:
        for dla in (-0.3, 0.0, 0.3):
            for dln in (-0.3, 0.0, 0.3):
                gid += 1
                a_regions.append(
                    (
                        gid,
                        LoopRegion.from_vertices(
                            regular_loop_vertices(clat + dla, clng + dln, 0.002, 16)
                        ),
                    )
                )
    b_regions = [
        (101, LoopRegion.from_vertices(regular_loop_vertices(40.7, -74.0, 0.012, 32))),
        (102, LoopRegion.from_vertices(regular_loop_vertices(48.85, 2.35, 0.004, 32))),
        (103, LoopRegion.from_vertices(regular_loop_vertices(0.0, 0.0, 0.01, 32))),
    ]
    la = build_layer(spark, a_regions, max_cells=8)
    lb = build_layer(spark, b_regions, max_cells=8)
    got = {
        (r["aid"], r["bid"], r["contains"])
        for r in polygon_polygon_join(la, lb).collect()
    }
    # Brute force over all pairs.
    expected = set()
    for aid, ra in a_regions:
        for bid, rb in b_regions:
            c, i = loop_relation(
                ra.verts, ra.origin_inside, rb.verts, rb.origin_inside
            )
            if i:
                expected.add((aid, bid, c))
    assert got == expected
    assert any(x[1] == 101 for x in got)  # big NYC loop has matches
    assert not any(x[1] == 103 for x in got)  # null-island loop matches nothing


def test_polygon_relation_with_holes():
    from geo_spark.kernel.pip import loop_origin_inside
    from geo_spark.kernel.relations import polygon_relation
    from geo_spark.sources.layers import regular_loop_vertices

    def mk(lat, lng, r, n=24):
        v = regular_loop_vertices(lat, lng, r, n)
        return (v, loop_origin_inside(v))

    donut = [mk(10, 10, 0.3), mk(10, 10, 0.12)]  # shell + hole (XOR discs)
    cases = [
        (donut, [mk(10, 10, 0.05)], (False, False)),   # inside the hole
        (donut, [mk(10, 22, 0.02)], (True, True)),     # inside the ring
        (donut, [mk(10, 10, 0.2)], (False, True)),     # spans the hole
        ([mk(10, 10, 0.5)], donut, (True, True)),      # big contains donut
        (donut, [mk(10, 10, 0.5)], (False, True)),
        (donut, [mk(-40, -100, 0.1)], (False, False)),  # disjoint
        ([mk(10, 22, 0.02)], donut, (False, True)),
    ]
    for a, b, want in cases:
        assert polygon_relation(a, b) == want


def test_polygon_polygon_join_with_holes(spark):
    import numpy as np

    from geo_spark.kernel.regions import PolygonRegion
    from geo_spark.operators.geom_join import polygon_polygon_join
    from geo_spark.operators.spatial_join import build_layer
    from geo_spark.sources.layers import regular_loop_vertices

    donut = PolygonRegion.from_loops(
        [
            regular_loop_vertices(10, 10, 0.3, 24),
            regular_loop_vertices(10, 10, 0.12, 24),
        ]
    )
    small_in_hole = PolygonRegion.from_loops(
        [regular_loop_vertices(10, 10, 0.05, 24)]
    )
    small_in_ring = PolygonRegion.from_loops(
        [regular_loop_vertices(10, 22, 0.02, 24)]
    )
    a = build_layer(spark, [(1, donut)], max_cells=12)
    b = build_layer(
        spark, [(10, small_in_hole), (11, small_in_ring)], max_cells=8
    )
    got = {
        (r["aid"], r["bid"]): r["contains"]
        for r in polygon_polygon_join(a, b).collect()
    }
    assert got == {(1, 11): True}  # hole one filtered out, ring one contained


def test_wedge_intersects_matches_angular_overlap():
    """wedge_intersects (s2/wedge_relations.go:57-66) against a brute
    angular-interval overlap at the shared vertex: wedge (x0, o, x2) is
    the open CCW arc of directions from x2 to x0 around o, and two open
    arcs with distinct end points overlap iff one holds the other's
    start."""
    from geo_spark.kernel.relations import wedge_intersects

    o = latlng_text_to_xyz("20:30")[0]
    e1 = np.cross(o, [0.0, 0.0, 1.0])
    e1 /= np.linalg.norm(e1)
    e2 = np.cross(o, e1)  # e1 x e2 = o: growing angle turns CCW

    def ray(theta):
        p = o + 0.01 * (np.cos(theta) * e1 + np.sin(theta) * e2)
        return p / np.linalg.norm(p)

    def inside(theta, start, end):  # open CCW arc start -> end
        tau = 2 * np.pi
        return 0 < (theta - start) % tau < (end - start) % tau

    rng = np.random.default_rng(170)
    seen = set()
    for _ in range(400):
        a0, a2, b0, b2 = rng.uniform(0, 2 * np.pi, 4)
        want = inside(b2, a2, a0) or inside(a2, b2, b0)
        got = wedge_intersects(ray(a0), o, ray(a2), ray(b0), ray(b2))
        assert got == want, (a0, a2, b0, b2)
        seen.add(want)
    assert seen == {True, False}
