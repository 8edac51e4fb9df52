"""Output checks that never call the engine's kernels.

Each oracle recomputes the expected answer with its own numpy code from
the generator's ground truth and compares it with what the engine
returned.  ``check_*`` functions return a list of mismatch descriptions
(empty means the output is correct).
"""

from __future__ import annotations

import numpy as np

TILE_SHIFT_BASE = 30  # leaf (i, j) resolution: 2**30 per face axis
# A point this close (in |det|) to a loop edge is left out of the PIP
# check: both answers are defensible at float precision.
PIP_EDGE_MARGIN = 1e-9
# Boundary band for the stratified PIP sample: points whose distance to
# the nearest loop edge (radians) lies in this range, well clear of the
# margin above and inside the loops' boundary covering cells.
PIP_BAND = (1e-7, 1e-3)
# kNN: a returned target whose oracle distance equals the oracle's
# distance at that rank to within this (squared chord) is a tie.
KNN_TIE_EPS = 1e-13


def xyz(lat_deg: np.ndarray, lng_deg: np.ndarray) -> np.ndarray:
    lat = np.radians(lat_deg)
    lng = np.radians(lng_deg)
    c = np.cos(lat)
    return np.stack([c * np.cos(lng), c * np.sin(lng), np.sin(lat)], axis=1)


# ---------------------------------------------------------------------------
# tile histogram
# ---------------------------------------------------------------------------


def face_ij(lat_deg: np.ndarray, lng_deg: np.ndarray):
    """S2 quadratic projection: face (largest |component|), then
    (u, v) -> (s, t) -> leaf (i, j)."""
    p = xyz(lat_deg, lng_deg)
    a = np.abs(p)
    axis = np.where(
        (a[:, 0] > a[:, 1]) & (a[:, 0] > a[:, 2]), 0, np.where(a[:, 1] > a[:, 2], 1, 2)
    )
    comp = p[np.arange(len(p)), axis]
    face = axis + np.where(comp < 0, 3, 0)
    x, y, z = p[:, 0], p[:, 1], p[:, 2]
    with np.errstate(divide="ignore", invalid="ignore"):
        u = np.choose(face, [y / x, -x / y, -x / z, z / x, z / y, -y / z])
        v = np.choose(face, [z / x, z / y, -y / z, y / x, -x / y, -x / z])

    def st(w):
        with np.errstate(invalid="ignore"):
            return np.where(w >= 0, 0.5 * np.sqrt(1 + 3 * w), 1 - 0.5 * np.sqrt(1 - 3 * w))

    size = float(1 << TILE_SHIFT_BASE)
    i = np.clip(np.floor(size * st(u)), 0, size - 1).astype(np.int64)
    j = np.clip(np.floor(size * st(v)), 0, size - 1).astype(np.int64)
    return face.astype(np.int64), i, j


def tile_digest(lat: np.ndarray, lng: np.ndarray, level: int) -> list[tuple[int, int]]:
    """Sorted (face, count) multiset of the level-``level`` tiles.

    Grouping by (face, i >> k, j >> k) is grouping by the level-``level``
    parent cell: the Hilbert numbering permutes cells within a level but
    never regroups them, so the multiset of per-tile counts (with each
    tile's face, the top 3 bits of its id) must match the engine's."""
    face, i, j = face_ij(lat, lng)
    k = TILE_SHIFT_BASE - level
    key = (face << 60) | ((i >> k) << 30) | (j >> k)
    uniq, counts = np.unique(key, return_counts=True)
    return sorted(zip((uniq >> 60).tolist(), counts.tolist()))


def engine_tile_digest(tiles: np.ndarray, counts: np.ndarray, level: int):
    """The same digest from the engine's (signed tile id, count) rows;
    also verifies every id is a cell of ``level``."""
    u = np.asarray(tiles, dtype=np.int64).view(np.uint64) ^ np.uint64(1 << 63)
    lsb = u & (~u + np.uint64(1))
    bad = int(np.count_nonzero(lsb != np.uint64(1 << (2 * (30 - level)))))
    faces = (u >> np.uint64(61)).astype(np.int64)
    return sorted(zip(faces.tolist(), np.asarray(counts).tolist())), bad


def check_tiles(expected, tiles, counts, level: int) -> list[str]:
    got, bad = engine_tile_digest(tiles, counts, level)
    errs = []
    if bad:
        errs.append(f"{bad} tile ids are not level-{level} cells")
    if got != expected:
        errs.append(
            f"tile digest differs: {len(got)} tiles/{sum(c for _, c in got)} rows "
            f"vs oracle {len(expected)}/{sum(c for _, c in expected)}"
        )
    return errs


# ---------------------------------------------------------------------------
# point in polygon
# ---------------------------------------------------------------------------


def loop_edge_normals(verts: np.ndarray) -> np.ndarray:
    """Unit inward normals of a convex CCW loop's edges."""
    n = np.cross(verts, np.roll(verts, -1, axis=0))
    return n / np.linalg.norm(n, axis=1)[:, None]


def pip_truth(pts: np.ndarray, loops: list[np.ndarray]):
    """(inside, ambiguous) boolean (n_points, n_loops) matrices: inside a
    convex loop means strictly left of every edge."""
    inside = np.zeros((len(pts), len(loops)), dtype=bool)
    ambiguous = np.zeros_like(inside)
    for g, verts in enumerate(loops):
        d = (pts @ loop_edge_normals(verts).T).min(axis=1)
        inside[:, g] = d > 0
        ambiguous[:, g] = np.abs(d) < PIP_EDGE_MARGIN
    return inside, ambiguous


def edge_distance(pts: np.ndarray, loops: list[np.ndarray]) -> np.ndarray:
    """Per point, the smallest |signed distance| (radians, to first
    order) to any loop's boundary."""
    out = np.full(len(pts), np.inf)
    for verts in loops:
        d = np.abs((pts @ loop_edge_normals(verts).T).min(axis=1))
        np.minimum(out, d, out=out)
    return out


def check_pip(
    sample_idx: np.ndarray,
    lat: np.ndarray,
    lng: np.ndarray,
    tagged: np.ndarray,
    loops: list[np.ndarray],
    pairs: dict[int, set[int]],
) -> list[str]:
    """``pairs`` maps page index -> geom ids the engine joined it to
    (geom ids are 1-based loop positions)."""
    inside, ambiguous = pip_truth(xyz(lat[sample_idx], lng[sample_idx]), loops)
    errs = []
    for r, i in enumerate(sample_idx):
        got = pairs.get(int(i), set())
        if not tagged[i]:
            want, skip = set(), set()
        else:
            want = {g + 1 for g in np.nonzero(inside[r])[0]}
            skip = {g + 1 for g in np.nonzero(ambiguous[r])[0]}
        if (got ^ want) - skip:
            errs.append(f"page {i}: joined {sorted(got)} expected {sorted(want)}")
    return errs[:5] + ([f"... {len(errs)} mismatches"] if len(errs) > 5 else [])


# ---------------------------------------------------------------------------
# k nearest neighbours
# ---------------------------------------------------------------------------


def check_knn(
    sample_idx: np.ndarray,
    pts: np.ndarray,
    targets: np.ndarray,
    tids: np.ndarray,
    k: int,
    got: dict[int, list[int]],
) -> list[str]:
    """Brute top-k by squared chord distance, ties by target id, for
    each sampled point.  ``got`` maps point index -> the engine's target
    ids by rank; a returned target whose distance ties the expected one
    (within ``KNN_TIE_EPS``) is accepted in its place."""
    pos = {int(t): c for c, t in enumerate(tids)}
    errs = []
    for i in sample_idx:
        diff = targets - pts[i]
        d = (diff * diff).sum(axis=1)
        order = np.lexsort((tids, d))[:k]
        g = got.get(int(i), [])
        if len(g) != k:
            errs.append(f"point {i}: {len(g)} neighbours, expected {k}")
            continue
        for rank, t in enumerate(g):
            want = order[rank]
            if t == tids[want]:
                continue
            if t not in pos or abs(d[pos[t]] - d[want]) > KNN_TIE_EPS:
                errs.append(f"point {i} rank {rank + 1}: target {t}, expected {tids[want]}")
                break
    return errs[:5] + ([f"... {len(errs)} mismatches"] if len(errs) > 5 else [])
