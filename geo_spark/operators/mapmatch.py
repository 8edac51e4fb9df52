"""Map matching (nearest-edge assignment): snap each point to the
closest segment of the closest polyline within a radius.

The per-point analog of the reference's ClosestEdgeQuery
(s2/edge_query.go:30-230 + s2/min_distance_targets.go:140-213): for a
layer of polylines ("roads"/trails), each point gets the (polyline,
segment index, distance) of its globally nearest edge, provided that
edge is within ``radius_rad``.  This is the primitive under GPS-trace
map matching, snapping noisy geotags to a road network, and
trajectory-to-route attribution.

Spark shape (the 100 TB plan):
  1. candidates — the buffered-covering (level, ancestor) equi-join of
     ``distance_join`` (ExpandByRadius semantics guarantee every
     polyline within r of a point is a candidate; broadcast when the
     covering is small).
  2. refine — one Arrow pass per candidate batch; per (point, polyline)
     the vectorized segment sweep returns (min chord2, argmin segment),
     strict-< so exact ties take the lowest segment index.
  3. argmin — ``min(struct(chord2, geom_id, seg_idx))`` per point: a
     single partial-aggregatable shuffle (map-side combine halves the
     exchange), no window, no sort.
Ties across polylines resolve lexicographically by (chord2, geom_id,
seg_idx) — bit-deterministic, so an exact SQL oracle can replay the
selection.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geo_spark.kernel import cellid as ck
from geo_spark.kernel.edges import (
    point_segment_chord2,
    point_to_edges_chord2_argmin,
)
from geo_spark.kernel.regions import PolylineRegion, chord2_from_angle
from geo_spark.operators.spatial_join import Layer, _candidates, _refine_by_region


def refine_candidates(
    points: DataFrame,
    layer: Layer,
    radius_rad: float,
    point_key: str,
    cell_col: str = "cell_id",
    latlng: tuple[str, str] = ("lat", "lng"),
) -> DataFrame:
    """(point_key, geom_id, seg_idx, chord2) candidate rows — the
    covering join + per-(point, polyline) argmin-segment refine, before
    the global per-point argmin.  Stateless, so it runs unchanged on a
    streaming points DataFrame (stream-static join + mapInPandas).

    The refine is the covering join's one refine path
    (spatial_join._refine_by_region): layers above
    Layer.MAX_CLOSURE_GEOMS (real road networks are millions of
    segments; the reference's EdgeQuery has no index-size ceiling,
    s2/edge_query.go:177-763) get the polyline blobs on the candidate
    rows instead of in the closure; the grouping stays batch-local, and
    the per-point argmin shuffle downstream is unchanged."""
    pts = points.select(point_key, cell_col, *latlng)
    limit2 = chord2_from_angle(radius_rad)
    key_type = pts.schema[point_key].dataType.simpleString()
    schema = f"{point_key} {key_type}, geom_id long, seg_idx long, chord2 double"

    # Above this many vertices the padded per-row gather would waste
    # memory (one giant trail pads every row in the batch) — long
    # chains take the per-geometry sweep, short road segments (the
    # network case, where candidate rows vastly outnumber geometries)
    # take the batch-vectorized path.
    max_pad_verts = 64

    def nearest_segment(pdf, inv, regs):
        x, y, z = ck.latlng_to_xyz(
            pdf[latlng[0]].to_numpy(np.float64),
            pdf[latlng[1]].to_numpy(np.float64),
        )
        p3 = np.stack([x, y, z], axis=1)
        for rg in regs:
            if not isinstance(rg, PolylineRegion):
                raise TypeError("map_match layers must hold PolylineRegions")
        max_v = max(len(rg.verts) for rg in regs)
        if max_v <= max_pad_verts:
            # ONE vectorized chord2 sweep per segment slot across
            # the whole batch: rows gather their chain's vertices
            # from the NaN-padded (n_uniq, max_v, 3) table; padded
            # segments yield NaN and never win the strict-< update
            # (so ties still take the lowest segment index, exactly
            # like point_to_edges_chord2_argmin).
            V = np.full((len(regs), max_v, 3), np.nan)
            for i, rg in enumerate(regs):
                V[i, : len(rg.verts)] = rg.verts
            rowv = V[inv]  # (n, max_v, 3)
            d = np.full(len(pdf), 4.0)
            seg = np.zeros(len(pdf), dtype=np.int64)
            with np.errstate(invalid="ignore"):
                for s in range(max_v - 1):
                    ds = point_segment_chord2(p3, rowv[:, s], rowv[:, s + 1])
                    m = ds < d
                    d[m] = ds[m]
                    seg[m] = s
        else:
            d = np.full(len(pdf), np.inf)
            seg = np.zeros(len(pdf), dtype=np.int64)
            for i, rg in enumerate(regs):
                m = inv == i
                d[m], seg[m] = point_to_edges_chord2_argmin(p3[m], rg.verts)
        keep = d <= limit2
        return pd.DataFrame(
            {
                point_key: pdf[point_key].to_numpy()[keep],
                "geom_id": pdf["geom_id"].to_numpy(np.int64)[keep],
                "seg_idx": seg[keep],
                "chord2": d[keep],
            }
        )

    return _refine_by_region(
        _candidates(pts, layer, cell_col), layer, nearest_segment, schema
    )


def map_match(
    points: DataFrame,
    layer: Layer,
    radius_rad: float,
    point_key: str,
    cell_col: str = "cell_id",
    latlng: tuple[str, str] = ("lat", "lng"),
) -> DataFrame:
    """(point_key, geom_id, seg_idx, chord2): the nearest polyline
    segment within the radius, one row per matched point.  ``layer``
    must be a buffered distance layer over PolylineRegions (see
    distance_join.build_distance_layer)."""
    refined = refine_candidates(points, layer, radius_rad, point_key, cell_col, latlng)
    # Global nearest (edge within radius) per point: one aggregation,
    # partial on the map side, lexicographic (chord2, geom_id, seg_idx).
    best = refined.groupBy(point_key).agg(
        F.min(F.struct("chord2", "geom_id", "seg_idx")).alias("_b")
    )
    return best.select(
        point_key,
        F.col("_b.geom_id").alias("geom_id"),
        F.col("_b.seg_idx").alias("seg_idx"),
        F.col("_b.chord2").alias("chord2"),
    )


def hmm_map_match(
    points: DataFrame,
    layer: Layer,
    radius_rad: float,
    traj_key: str,
    order_col: str,
    point_key: str,
    cell_col: str = "cell_id",
    latlng: tuple[str, str] = ("lat", "lng"),
    em_scale: float = 1e10,
    switch_cost: int = 1_500_000,
    jump_cost: int = 50_000,
) -> DataFrame:
    """Sequence-aware map matching: Viterbi over per-observation edge
    candidates, the Newson-Krumm HMM shape composed from the
    reference's ClosestEdgeQuery primitive (s2/edge_query.go:30-230 —
    the reference itself has per-point nearest-edge only; the sequence
    model is the composition a trajectory pipeline runs on top).

    Model (deterministic, integer-quantized so an exact SQL oracle can
    replay every step):
      * states at observation t = every polyline within ``radius_rad``
        of the point, represented by its nearest segment — the
        (road, projection-point) state of the classic formulation
        (the :func:`refine_candidates` covering join + per-trail
        argmin);
      * emission cost = ``floor(chord2 * em_scale)`` — monotone in
        snap distance;
      * transition cost = ``jump_cost * |seg - seg'|`` along the same
        polyline, ``switch_cost`` to change polylines — the
        route-continuity prior that keeps a noisy outlier from
        flipping the whole trace onto a briefly-closer road (the
        failure mode per-point snapping cannot avoid);
      * Viterbi min-cost path per trajectory; ALL ties (forward min,
        backtrace predecessor, final state) break lexicographically by
        (cost, geom_id, seg_idx), so the output is bit-deterministic.

    Observations with no candidate in radius are skipped and the chain
    re-indexed (t = dense rank of surviving ``order_col`` values; the
    emitted ``t`` is 1-based).  ``order_col`` must be unique per
    trajectory.

    Spark shape (the 100 TB plan): candidates + emissions are the
    existing distributed covering join (broadcast / blob tiers, no
    ceiling); the only new shuffle is ONE groupBy(traj_key)
    applyInPandas whose groups are trajectory-sized — bounded by
    max-trace-length x candidate density, never by layer or corpus
    size — and the DP itself is vectorized numpy over (prev x cur)
    state matrices per step.

    Returns (traj_key, t, geom_id, seg_idx, total_cost): one row per
    surviving observation, ``total_cost`` = the trajectory's Viterbi
    path cost repeated on each of its rows.
    """
    refined = refine_candidates(
        points, layer, radius_rad, point_key, cell_col, latlng
    )
    cand = refined.join(
        points.select(point_key, traj_key, order_col), point_key
    ).select(
        traj_key,
        F.col(order_col).alias("_ord"),
        "geom_id",
        "seg_idx",
        F.floor(F.col("chord2") * F.lit(float(em_scale)))
        .cast("long")
        .alias("_em"),
    )
    traj_type = points.schema[traj_key].dataType.simpleString()
    schema = (
        f"{traj_key} {traj_type}, t long, geom_id long, seg_idx long, "
        "total_cost long"
    )
    sw, jp = int(switch_cost), int(jump_cost)

    def viterbi(pdf: pd.DataFrame) -> pd.DataFrame:
        # (g, s)-sorted states per t: numpy argmin's first-occurrence
        # rule then equals the oracle's (cost, g, s) row_number pick.
        pdf = pdf.sort_values(
            ["_ord", "geom_id", "seg_idx"], kind="mergesort"
        )
        orders = pdf["_ord"].to_numpy()
        uniq = np.unique(orders)
        traj = pdf[traj_key].iloc[0]
        gs, ss, ems = (
            pdf["geom_id"].to_numpy(np.int64),
            pdf["seg_idx"].to_numpy(np.int64),
            pdf["_em"].to_numpy(np.int64),
        )
        steps = []  # (g, s, cost, pred) per t
        for t, o in enumerate(uniq):
            m = orders == o
            g, s, em = gs[m], ss[m], ems[m]
            if t == 0:
                steps.append((g, s, em.copy(), None))
                continue
            pg, ps, pc, _ = steps[-1]
            trans = np.where(
                pg[:, None] == g[None, :],
                jp * np.abs(ps[:, None] - s[None, :]),
                sw,
            )
            tot = pc[:, None] + trans
            pred = tot.argmin(axis=0)
            steps.append((g, s, em + tot.min(axis=0), pred))
        j = int(steps[-1][2].argmin())
        total = int(steps[-1][2][j])
        rows = []
        for t in range(len(steps) - 1, -1, -1):
            g, s, _, pred = steps[t]
            rows.append((traj, t + 1, int(g[j]), int(s[j]), total))
            if pred is not None:
                j = int(pred[j])
        return pd.DataFrame(
            rows[::-1],
            columns=[traj_key, "t", "geom_id", "seg_idx", "total_cost"],
        )

    return cand.groupBy(traj_key).applyInPandas(viterbi, schema)
