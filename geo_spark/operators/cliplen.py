"""Clip-length join: chord length of each polyline INSIDE each region.

The distributed clip/overlay workload ("road length per admin area",
"trajectory dwell distance per zone") — the reference computes this by
materializing the clipped geometry (BooleanOperation intersection of a
polyline against a polygon, s2/builder.go + s2/crossing_edge_query.go)
and then measuring it (s2/polyline.go Length); at corpus scale nobody
wants a billion clipped geometries, only the per-(trail, region)
measure, so this operator fuses clip + measure into one join:

- Candidates: the covering-term equi-join between the two layers
  (operators/geom_join._pair_candidates — the RegionTermIndexer
  scheme, never a cartesian).
- Refine, per candidate pair, in one Arrow batch pass: for every trail
  segment (A, B) find its proper crossings with the loop boundary via
  the SimpleCrossing sign pattern (s2/edge_crossings.go:25-76 —
  triple-product signs on the two edge normals), locate each crossing
  along the CHORD A->B at the plane parameter t = (Ne.A)/(Ne.A - Ne.B)
  (the straight 3-D chord crosses edge plane Ne exactly once when the
  endpoint signs differ; for sub-180-degree arcs the arc -> chord map
  is monotone, so crossing ORDER and the inside/outside alternation
  are preserved), and accumulate the inside portions by parity:
  insideness at the chain start comes from the loop's robust PIP
  (kernel/pip.loop_contains_points), then alternates at every crossing
  (the winding/parity rule the PIP kernel itself uses).

The measure is the CHORD length (the engine's chord-distance idiom —
monotone in arc length, exact under IEEE +,-,*,/,sqrt), reported as an
exact BIGINT in ``quantum`` units: every crossing term and every
fully-inside segment term is floor-quantized SEPARATELY and summed as
integers, so distributed summation order cannot perturb the result and
a relational replay (DuckDB) reproduces it bit for bit when the input
coordinates are pure-double streams.

Scale shape: candidates are a hash equi-join on covering terms; the
trail geometries reach the refine through spatial_join's one refine
path (closure, or blobs joined onto the candidate pairs above
Layer.MAX_CLOSURE_GEOMS); the refine emits one row per overlapping
pair, never per segment.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from geo_spark.kernel.regions import LoopRegion, PolygonRegion, PolylineRegion
from geo_spark.operators.geom_join import _pair_candidates
from geo_spark.operators.spatial_join import Layer, _refine_by_region

DEFAULT_QUANTUM = 1.0e12


def _rings_of(region) -> list[np.ndarray]:
    if isinstance(region, LoopRegion):
        return [region.verts]
    if isinstance(region, PolygonRegion):
        return [lp.verts for lp in region.loops]
    raise TypeError(
        f"clip region must be Loop/PolygonRegion, got {type(region).__name__}"
    )


def _segment_crossings(verts: np.ndarray, rings: list) -> tuple:
    """Shared crossing machinery: per segment, the sorted chord-plane
    crossing parameters against the pooled ring edges (SimpleCrossing
    sign pattern).  Returns (a, b, per_seg_ts)."""
    a = verts[:-1]
    b = verts[1:]
    c = np.vstack(rings)
    d = np.vstack([np.roll(rv, -1, axis=0) for rv in rings])
    nsx = a[:, 1] * b[:, 2] - a[:, 2] * b[:, 1]
    nsy = a[:, 2] * b[:, 0] - a[:, 0] * b[:, 2]
    nsz = a[:, 0] * b[:, 1] - a[:, 1] * b[:, 0]
    nex = c[:, 1] * d[:, 2] - c[:, 2] * d[:, 1]
    ney = c[:, 2] * d[:, 0] - c[:, 0] * d[:, 2]
    nez = c[:, 0] * d[:, 1] - c[:, 1] * d[:, 0]
    acb = -((nsx[:, None] * c[:, 0] + nsy[:, None] * c[:, 1]) + nsz[:, None] * c[:, 2])
    bda = (nsx[:, None] * d[:, 0] + nsy[:, None] * d[:, 1]) + nsz[:, None] * d[:, 2]
    dac = (nex[None, :] * a[:, 0:1] + ney[None, :] * a[:, 1:2]) + nez[None, :] * a[:, 2:3]
    dbc = (nex[None, :] * b[:, 0:1] + ney[None, :] * b[:, 1:2]) + nez[None, :] * b[:, 2:3]
    crossing = (acb * bda > 0) & (acb * (-dbc) > 0) & (acb * dac > 0)
    per_seg = []
    for s in range(a.shape[0]):
        hits = np.where(crossing[s])[0]
        if hits.size:
            per_seg.append(np.sort(dac[s, hits] / (dac[s, hits] - dbc[s, hits])))
        else:
            per_seg.append(np.empty(0))
    return a, b, per_seg


def _arc_angle(p: np.ndarray, q: np.ndarray) -> float:
    """Stable angle between unit-ish vectors (atan2 of cross/dot)."""
    cr = np.cross(p, q)
    return float(
        math.atan2(math.sqrt(float(cr @ cr)), float(p @ q))
    )


def clip_arc_length(
    verts: np.ndarray,
    loop: LoopRegion | PolygonRegion,
) -> tuple[int, float]:
    """(n_crossings, inside_rad): GEODESIC arc length (radians — the
    reference Polyline.Length units, s2/polyline.go) of the trail
    portions inside the region.  Same crossing/parity machinery as the
    chord measure; each inside chord sub-interval [t_i, t_j] maps to
    the arc between the radial projections of its endpoints and
    contributes angle(P(t_i), P(t_j)).  Sub-arc angles are additive
    along a great-circle segment, so the inside/outside split is
    exact up to float rounding (no SQL twin — atan2 is outside the
    replayable-op set; pytest certifies via dense-PIP integration
    differentials instead, tests/test_cliplen.py)."""
    rings = _rings_of(loop)
    a, b, per_seg = _segment_crossings(verts, rings)
    inside = bool(loop.contains_point(verts[0]))
    total = 0.0
    n_cross = 0
    for s in range(a.shape[0]):
        ts = per_seg[s]
        cuts = [0.0] + [float(t) for t in ts] + [1.0]
        cur = inside
        for i in range(len(cuts) - 1):
            if cur:
                p = a[s] + cuts[i] * (b[s] - a[s])
                q = a[s] + cuts[i + 1] * (b[s] - a[s])
                p = p / np.linalg.norm(p)
                q = q / np.linalg.norm(q)
                total += _arc_angle(p, q)
            if i < len(cuts) - 2:
                cur = not cur
        n_cross += len(ts)
        # cur ends on the last interval's state = segment-end insideness
        inside = cur
    return n_cross, total


def clip_chord_length(
    verts: np.ndarray,
    loop: LoopRegion | PolygonRegion,
    quantum: float = DEFAULT_QUANTUM,
) -> tuple[int, int]:
    """(n_crossings, inside_q) for one trail against one region — a
    single loop or a multi-ring polygon (holes via XOR parity,
    s2/polygon.go:591-613): membership at the chain start comes from
    the region's even-odd PIP and ANY ring-boundary crossing flips it,
    so the identical parity accumulation covers both cases with the
    ring edges simply pooled.

    Pure-numpy kernel; every float expression mirrors the relational
    replay's association order (left-to-right dots, t = dac/(dac-dbc),
    ((coef*t)*seglen)*quantum) so the two engines agree bitwise on
    bit-identical inputs.
    """
    rings = _rings_of(loop)
    a, b, per_seg = _segment_crossings(verts, rings)
    dx = b[:, 0] - a[:, 0]
    dy = b[:, 1] - a[:, 1]
    dz = b[:, 2] - a[:, 2]
    seglen = np.sqrt((dx * dx + dy * dy) + dz * dz)
    inside0 = int(loop.contains_point(verts[0]))
    total_q = 0
    n_cross = 0
    before = 0
    for s in range(a.shape[0]):
        ts = per_seg[s]
        m = int(ts.size)
        sl = float(seglen[s])
        i0 = (inside0 + before) % 2
        for rn in range(1, m + 1):
            coef = 1.0 if (i0 + rn - 1) % 2 == 1 else -1.0
            total_q += math.floor(((coef * float(ts[rn - 1])) * sl) * quantum)
        if (i0 + m) % 2 == 1:
            total_q += math.floor(sl * quantum)
        n_cross += m
        before += m
    return n_cross, total_q


def _check_types(tr, lp) -> None:
    if not isinstance(tr, PolylineRegion):
        raise TypeError(
            f"clip side a must be polylines, got {type(tr).__name__}"
        )
    if not isinstance(lp, (LoopRegion, PolygonRegion)):
        raise TypeError(
            f"clip side b must be loops/polygons, got {type(lp).__name__}"
        )


def clip_length_join(
    a: Layer,
    b: Layer,
    quantum: float = DEFAULT_QUANTUM,
    measure: str = "chord",
) -> DataFrame:
    """(aid, bid, n_crossings, inside_q) for every candidate pair with
    a nonzero overlap; non-candidates are provably disjoint (coverings
    are conservative) and pairs refining to zero are dropped, so the
    output is exactly the overlapping pairs.

    The trail side takes the covering join's one refine path
    (spatial_join._refine_by_region, keyed by aid): a closure-size
    trail layer ships in the closure; a corpus-sized one
    (> Layer.MAX_CLOSURE_GEOMS) gets its blobs joined onto the
    candidate pairs, and the same per-pair kernel runs batch-locally.
    The REGION side stays a closure dimension table — admin/zone
    layers are thousands, not billions."""
    if b.regions is None:
        raise ValueError(
            "clip_length_join: region side must be a closure-size "
            "dimension layer (<= Layer.MAX_CLOSURE_GEOMS geometries)"
        )
    if measure not in ("chord", "arc"):
        raise ValueError(f"measure must be 'chord' or 'arc', got {measure!r}")
    cands = _pair_candidates(a, b)
    b_regions = b.regions
    if measure == "chord":
        out_schema = "aid long, bid long, n_crossings long, inside_q long"
        cols = ["aid", "bid", "n_crossings", "inside_q"]
        dtypes = {"aid": "int64", "bid": "int64", "n_crossings": "int64",
                  "inside_q": "int64"}

        def kern(verts, lp):
            return clip_chord_length(verts, lp, quantum)
    else:
        out_schema = "aid long, bid long, n_crossings long, inside_rad double"
        cols = ["aid", "bid", "n_crossings", "inside_rad"]
        dtypes = {"aid": "int64", "bid": "int64", "n_crossings": "int64",
                  "inside_rad": "float64"}
        kern = clip_arc_length

    def clip(pdf, inv, regs):
        rows = []
        aids = pdf["aid"].to_numpy()
        for r, bid in enumerate(pdf["bid"].to_numpy()):
            tr = regs[inv[r]]
            lp = b_regions[int(bid)]
            _check_types(tr, lp)
            n_cross, q = kern(tr.verts, lp)
            if n_cross or q:
                rows.append((int(aids[r]), int(bid), n_cross, q))
        return pd.DataFrame(rows, columns=cols).astype(dtypes)

    return _refine_by_region(cands, a, clip, out_schema, id_col="aid")
