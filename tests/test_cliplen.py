"""clip_chord_length / clip_length_join: polyline-inside-region measure."""

import math

import numpy as np
import pytest

from geo_spark.kernel.regions import LoopRegion, PolylineRegion
from geo_spark.operators.cliplen import (
    DEFAULT_QUANTUM,
    clip_chord_length,
    clip_length_join,
)
from geo_spark.sources.layers import regular_loop_vertices


def _ll(lat, lng):
    phi, th = math.radians(lat), math.radians(lng)
    return np.array(
        [math.cos(th) * math.cos(phi), math.sin(th) * math.cos(phi), math.sin(phi)]
    )


def _chord(p, q):
    d = q - p
    return math.sqrt((d[0] * d[0] + d[1] * d[1]) + d[2] * d[2])


def test_straight_through_cap():
    """Equatorial trail through a 5-degree cap centered on its path:
    inside chord length ~ the cap's diameter chord."""
    loop = LoopRegion.from_vertices(
        regular_loop_vertices(0.0, 0.0, math.radians(5.0), 64)
    )
    # slightly tilted so the trail is not in the loop's symmetry plane
    verts = np.stack([_ll(0.17, -30.0), _ll(-0.11, 30.0)])
    n_cross, q = clip_chord_length(verts, loop)
    assert n_cross == 2
    # both crossings sit near lng ~ +-5 degrees.  The measure is
    # chord-PARAMETER length: radially projecting the +-5-degree arc
    # span onto the +-30-degree chord gives
    # dt * |AB| = cos(30)*tan(5)/sin(30) analytically.
    want = (
        math.cos(math.radians(30.0))
        * math.tan(math.radians(5.0))
        / math.sin(math.radians(30.0))
    )
    got = q / DEFAULT_QUANTUM
    assert abs(got - want) < 0.02 * want


def test_fully_inside_and_outside():
    loop = LoopRegion.from_vertices(
        regular_loop_vertices(10.0, 10.0, math.radians(20.0), 32)
    )
    inside = np.stack([_ll(8.0, 8.0), _ll(12.0, 11.0), _ll(9.0, 13.0)])
    n, q = clip_chord_length(inside, loop)
    assert n == 0
    want = sum(
        math.floor(_chord(inside[i], inside[i + 1]) * DEFAULT_QUANTUM)
        for i in range(2)
    )
    assert q == want
    outside = np.stack([_ll(-40.0, 0.0), _ll(-45.0, 5.0)])
    assert clip_chord_length(outside, loop) == (0, 0)


def test_parity_differential_against_pip():
    """For random trails x loops, the parity-derived insideness of every
    chord sub-interval must match the robust PIP of the interval's
    midpoint arc point."""
    rng = np.random.default_rng(20260821)
    loops = [
        LoopRegion.from_vertices(
            regular_loop_vertices(
                float(rng.uniform(-60, 60)),
                float(rng.uniform(-180, 180)),
                math.radians(float(rng.uniform(8, 50))),
                12,
            )
        )
        for _ in range(6)
    ]
    for _ in range(40):
        v = rng.normal(size=(4, 3))
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        for loop in loops:
            n_cross, q = clip_chord_length(v, loop)
            # re-derive inside length by sampling: for each segment,
            # find crossings t, then check PIP at interval midpoints
            a, b = v[:-1], v[1:]
            c, d = loop.verts, np.roll(loop.verts, -1, axis=0)
            inside = bool(loop.contains_point(v[0]))
            total = 0.0
            cnt = 0
            for s in range(3):
                ns = np.cross(a[s], b[s])
                ne = np.cross(c, d)
                acb = -(ns @ c.T)
                bda = ns @ d.T
                dac = ne @ a[s]
                dbc = ne @ b[s]
                hit = (acb * bda > 0) & (acb * (-dbc) > 0) & (acb * dac > 0)
                ts = np.sort(dac[hit] / (dac[hit] - dbc[hit]))
                seglen = float(np.linalg.norm(b[s] - a[s]))
                cuts = [0.0] + [float(t) for t in ts] + [1.0]
                cur = inside
                for i in range(len(cuts) - 1):
                    mid = 0.5 * (cuts[i] + cuts[i + 1])
                    p = a[s] + mid * (b[s] - a[s])
                    p = p / np.linalg.norm(p)
                    assert loop.contains_point(p) == cur
                    if cur:
                        total += (cuts[i + 1] - cuts[i]) * seglen
                    if i < len(cuts) - 2:  # flip only AT a crossing
                        cur = not cur
                cnt += len(ts)
                inside = cur
            assert cnt == n_cross
            assert abs(q / DEFAULT_QUANTUM - total) < 1e-9 * max(1.0, total)


def test_join_matches_kernel(spark):
    from geo_spark.operators.spatial_join import build_layer

    rng = np.random.default_rng(7)
    trails = []
    for gid in range(30):
        v = rng.normal(size=(5, 3))
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        trails.append((gid, PolylineRegion.from_vertices(v)))
    loops = [
        (
            gid,
            LoopRegion.from_vertices(
                regular_loop_vertices(
                    float(rng.uniform(-50, 50)),
                    float(rng.uniform(-180, 180)),
                    math.radians(float(rng.uniform(10, 45))),
                    10,
                )
            ),
        )
        for gid in range(4)
    ]
    a = build_layer(spark, trails, max_cells=8, interior=False)
    b = build_layer(spark, loops, max_cells=12)
    got = {
        (r["aid"], r["bid"]): (r["n_crossings"], r["inside_q"])
        for r in clip_length_join(a, b).collect()
    }
    want = {}
    for aid, tr in trails:
        for bid, lp in loops:
            n, q = clip_chord_length(tr.verts, lp)
            if n or q:
                want[(aid, bid)] = (n, q)
    assert got == want


def test_join_rejects_swapped_layers(spark):
    from geo_spark.operators.spatial_join import build_layer

    loops = [
        (
            0,
            LoopRegion.from_vertices(
                regular_loop_vertices(0.0, 0.0, math.radians(30.0), 8)
            ),
        )
    ]
    b = build_layer(spark, loops, max_cells=8)
    with pytest.raises(Exception):
        clip_length_join(b, b).collect()


def test_join_plan_shape(spark):
    """Candidates are a hash equi-join on covering terms; one Arrow
    refine; no cartesian anywhere."""
    from geo_spark.operators.spatial_join import build_layer

    rng = np.random.default_rng(3)
    v = rng.normal(size=(4, 3))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    a = build_layer(
        spark, [(0, PolylineRegion.from_vertices(v))], max_cells=8, interior=False
    )
    b = build_layer(
        spark,
        [(0, LoopRegion.from_vertices(regular_loop_vertices(0, 0, 0.5, 8)))],
        max_cells=8,
    )
    plan = (
        clip_length_join(a, b)._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("MapInPandas") == 1


def test_donut_transection():
    """Trail through a donut (outer 20-degree ring, 7-degree hole):
    4 crossings; inside chord-parameter length = 2*cos(40)*(tan20-tan7)
    analytically (two symmetric annulus spans on a +-40-degree chord)."""
    from geo_spark.kernel.regions import PolygonRegion

    donut = PolygonRegion.from_loops(
        [
            regular_loop_vertices(0.0, 0.0, math.radians(20.0), 64),
            regular_loop_vertices(0.0, 0.0, math.radians(7.0), 64),
        ]
    )
    verts = np.stack([_ll(0.13, -40.0), _ll(-0.09, 40.0)])
    n_cross, q = clip_chord_length(verts, donut)
    assert n_cross == 4
    want = 2.0 * math.cos(math.radians(40.0)) * (
        math.tan(math.radians(20.0)) - math.tan(math.radians(7.0))
    )
    got = q / DEFAULT_QUANTUM
    assert abs(got - want) < 0.02 * want
    # a trail INSIDE the hole is outside the region
    hole_pt = np.stack([_ll(0.5, -2.0), _ll(-0.5, 2.0)])
    n2, q2 = clip_chord_length(hole_pt, donut)
    assert n2 == 0 and q2 == 0


def test_donut_parity_differential():
    """The multi-ring parity accumulation agrees with the region's
    even-odd PIP sampled at every chord sub-interval midpoint."""
    from geo_spark.kernel.regions import PolygonRegion

    rng = np.random.default_rng(11)
    donut = PolygonRegion.from_loops(
        [
            regular_loop_vertices(15.0, 30.0, math.radians(40.0), 12),
            regular_loop_vertices(17.0, 33.0, math.radians(15.0), 10),
        ]
    )
    c = np.vstack([lp.verts for lp in donut.loops])
    d = np.vstack([np.roll(lp.verts, -1, axis=0) for lp in donut.loops])
    for _ in range(25):
        v = rng.normal(size=(4, 3))
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        n_cross, q = clip_chord_length(v, donut)
        a, b = v[:-1], v[1:]
        inside = bool(donut.contains_point(v[0]))
        total = 0.0
        cnt = 0
        for s in range(3):
            ns = np.cross(a[s], b[s])
            ne = np.cross(c, d)
            acb = -(ns @ c.T)
            bda = ns @ d.T
            dac = ne @ a[s]
            dbc = ne @ b[s]
            hit = (acb * bda > 0) & (acb * (-dbc) > 0) & (acb * dac > 0)
            ts = np.sort(dac[hit] / (dac[hit] - dbc[hit]))
            seglen = float(np.linalg.norm(b[s] - a[s]))
            cuts = [0.0] + [float(t) for t in ts] + [1.0]
            cur = inside
            for i in range(len(cuts) - 1):
                mid = 0.5 * (cuts[i] + cuts[i + 1])
                p = a[s] + mid * (b[s] - a[s])
                p = p / np.linalg.norm(p)
                assert donut.contains_point(p) == cur
                if cur:
                    total += (cuts[i + 1] - cuts[i]) * seglen
                if i < len(cuts) - 2:
                    cur = not cur
            cnt += len(ts)
            inside = cur
        assert cnt == n_cross
        assert abs(q / DEFAULT_QUANTUM - total) < 1e-9 * max(1.0, total)


def test_polar_cap_transection():
    """Trail over the north pole through a polar cap: 2 crossings, and
    the full RectBounder/PIP polar machinery agrees with the parity
    accumulation (the cap's rect bound spans all longitudes)."""
    loop = LoopRegion.from_vertices(
        regular_loop_vertices(90.0, 0.0, math.radians(10.0), 48)
    )
    verts = np.stack([_ll(70.0, 3.0), _ll(70.0, -177.0)])  # over the pole
    n_cross, q = clip_chord_length(verts, loop)
    assert n_cross == 2
    assert q > 0
    # both endpoints outside, midpoint (near the pole) inside
    mid = verts[0] + 0.5 * (verts[1] - verts[0])
    mid = mid / np.linalg.norm(mid)
    assert loop.contains_point(mid)
    assert not loop.contains_point(verts[0])


def test_blob_tier_equals_closure_tier(spark, as_distributed):
    """Forcing the trail layer above the closure ceiling must route
    through the blob-join tier and produce identical results."""
    from geo_spark.operators.spatial_join import build_layer

    rng = np.random.default_rng(23)
    trails = []
    for gid in range(12):
        v = rng.normal(size=(5, 3))
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        trails.append((gid, PolylineRegion.from_vertices(v)))
    loops = [
        (
            0,
            LoopRegion.from_vertices(
                regular_loop_vertices(20.0, 50.0, math.radians(40.0), 10)
            ),
        ),
        (
            1,
            LoopRegion.from_vertices(
                regular_loop_vertices(-10.0, -120.0, math.radians(30.0), 10)
            ),
        ),
    ]
    b = build_layer(spark, loops, max_cells=12)
    a_closure = build_layer(spark, trails, max_cells=8, interior=False)
    # same layer above the closure ceiling: regions dropped, blobs kept
    a_blob = as_distributed(a_closure)
    assert a_blob.regions is None  # -> blob tier
    want = {
        (r["aid"], r["bid"]): (r["n_crossings"], r["inside_q"])
        for r in clip_length_join(a_closure, b).collect()
    }
    got = {
        (r["aid"], r["bid"]): (r["n_crossings"], r["inside_q"])
        for r in clip_length_join(a_blob, b).collect()
    }
    assert got == want and len(got) > 0
    # plan: candidate-blob equi-join, still no cartesian
    plan = (
        clip_length_join(a_blob, b)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_arc_length_analytic_cases():
    """Arc measure reports the intuitive geodesic spans: ~2*5 degrees
    through the cap, ~2*(20-7) degrees through the donut annulus."""
    from geo_spark.operators.cliplen import clip_arc_length

    cap = LoopRegion.from_vertices(
        regular_loop_vertices(0.0, 0.0, math.radians(5.0), 64)
    )
    verts = np.stack([_ll(0.17, -30.0), _ll(-0.11, 30.0)])
    n, rad = clip_arc_length(verts, cap)
    assert n == 2
    assert abs(rad - 2 * math.radians(5.0)) < 0.02 * rad

    from geo_spark.kernel.regions import PolygonRegion

    donut = PolygonRegion.from_loops(
        [
            regular_loop_vertices(0.0, 0.0, math.radians(20.0), 64),
            regular_loop_vertices(0.0, 0.0, math.radians(7.0), 64),
        ]
    )
    verts = np.stack([_ll(0.13, -40.0), _ll(-0.09, 40.0)])
    n, rad = clip_arc_length(verts, donut)
    assert n == 4
    want = 2 * (math.radians(20.0) - math.radians(7.0))
    assert abs(rad - want) < 0.02 * want


def test_arc_complement_conservation():
    """inside(loop) + inside(reversed loop) == total trail arc length:
    a reversed loop is the exact complement region, crossings are
    orientation-independent, so the two arc measures partition every
    segment."""
    from geo_spark.operators.cliplen import _arc_angle, clip_arc_length

    rng = np.random.default_rng(5)
    for _ in range(15):
        v = rng.normal(size=(5, 3))
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        loop = LoopRegion.from_vertices(
            regular_loop_vertices(
                float(rng.uniform(-60, 60)),
                float(rng.uniform(-180, 180)),
                math.radians(float(rng.uniform(10, 50))),
                12,
            )
        )
        comp = LoopRegion.from_vertices(loop.verts[::-1].copy())
        n1, r1 = clip_arc_length(v, loop)
        n2, r2 = clip_arc_length(v, comp)
        total = sum(_arc_angle(v[i], v[i + 1]) for i in range(4))
        assert n1 == n2
        assert abs((r1 + r2) - total) < 1e-9


def test_arc_join_mode(spark):
    from geo_spark.operators.cliplen import clip_arc_length
    from geo_spark.operators.spatial_join import build_layer

    rng = np.random.default_rng(9)
    trails = []
    for gid in range(10):
        v = rng.normal(size=(4, 3))
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        trails.append((gid, PolylineRegion.from_vertices(v)))
    loops = [
        (
            0,
            LoopRegion.from_vertices(
                regular_loop_vertices(5.0, 5.0, math.radians(45.0), 10)
            ),
        )
    ]
    a = build_layer(spark, trails, max_cells=8, interior=False)
    b = build_layer(spark, loops, max_cells=12)
    got = {
        (r["aid"], r["bid"]): (r["n_crossings"], r["inside_rad"])
        for r in clip_length_join(a, b, measure="arc").collect()
    }
    want = {}
    for gid, tr in trails:
        n, rad = clip_arc_length(tr.verts, loops[0][1])
        if n or rad:
            want[(gid, 0)] = (n, rad)
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0]
        assert abs(got[k][1] - want[k][1]) < 1e-12
