"""Robust geometric predicates — vectorized three-tier sign cascade.

Re-derivation of the S2 predicate design (reference: akhenakh/geo
``s2/predicates.go``): a cheap vectorized float triage pass classifies every
row at once; the indeterminate residue (rows within the proven error bound)
falls through to a numerically stable recomputation and finally to exact
rational arithmetic (``fractions.Fraction`` — equivalent to the reference's
big.Float since IEEE doubles are rationals) plus the "Simulation of
Simplicity" symbolic perturbation (Edelsbrunner & Muecke 1990), so no three
points are ever considered collinear.

The float thresholds are proven error *bounds* (s2/predicates.go:49-75), so
a triage-determined sign always equals the exact sign — which is what makes
the vectorized cascade bit-compatible with the reference's sequential one:
both resolve every row to the exact answer, only the work distribution
differs.

Directions: +1 CounterClockwise, -1 Clockwise, 0 Indeterminate.
"""

from __future__ import annotations

import math
from fractions import Fraction

import numpy as np

DBL_EPSILON = 2.220446049250313e-16
MAX_DETERMINANT_ERROR = 1.8274 * DBL_EPSILON  # s2/predicates.go:65
DET_ERROR_MULTIPLIER = 3.2321 * DBL_EPSILON  # s2/predicates.go:75

# OriginPoint (s2/point.go:67-69): the fixed reference point for edge-crossing
# parity counts; part of the PIP row-identity contract.
ORIGIN = np.array(
    [-0.0099994664350250197, 0.0025924542609324121, 0.99994664350250195]
)


def cross(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Component-wise cross product on (...,3) arrays (explicit formula so
    the operation order matches scalar code)."""
    out = np.empty(np.broadcast(a, b).shape, dtype=np.float64)
    out[..., 0] = a[..., 1] * b[..., 2] - a[..., 2] * b[..., 1]
    out[..., 1] = a[..., 2] * b[..., 0] - a[..., 0] * b[..., 2]
    out[..., 2] = a[..., 0] * b[..., 1] - a[..., 1] * b[..., 0]
    return out


def dot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    return (
        a[..., 0] * b[..., 0] + a[..., 1] * b[..., 1] + a[..., 2] * b[..., 2]
    )


def norm2(a: np.ndarray) -> np.ndarray:
    return dot(a, a)


def triage_sign(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Fast sign with proven error bound; 0 = indeterminate.
    s2/predicates.go:243-252."""
    det = dot(cross(a, b), c)
    return np.where(
        det > MAX_DETERMINANT_ERROR,
        np.int8(1),
        np.where(det < -MAX_DETERMINANT_ERROR, np.int8(-1), np.int8(0)),
    )


def stable_sign(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Stable recomputation with the longest edge as the base;
    s2/predicates.go:198-235.  Vectorized over (...,3) rows."""
    ab = b - a
    bc = c - b
    ca = a - c
    ab2 = norm2(ab)
    bc2 = norm2(bc)
    ca2 = norm2(ca)

    ab_longest = (ab2 >= bc2) & (ab2 >= ca2)
    bc_longest = ~ab_longest & (bc2 >= ca2)

    e1 = np.where(ab_longest[..., None], ca, np.where(bc_longest[..., None], ab, bc))
    e2 = np.where(ab_longest[..., None], bc, np.where(bc_longest[..., None], ca, ab))
    op = np.where(ab_longest[..., None], c, np.where(bc_longest[..., None], a, b))

    det = -dot(cross(e1, e2), op)
    max_err = DET_ERROR_MULTIPLIER * np.sqrt(norm2(e1) * norm2(e2))
    return np.where(
        det > max_err, np.int8(1), np.where(det < -max_err, np.int8(-1), np.int8(0))
    )


def _fr(x: float) -> Fraction:
    return Fraction(x)


def exact_sign_scalar(a, b, c, perturb: bool = True) -> int:
    """Exact-rational determinant sign with symbolic perturbation;
    s2/predicates.go:281-468.  Scalar — only the triage residue reaches here.
    """
    pts = [tuple(map(float, a)), tuple(map(float, b)), tuple(map(float, c))]
    perm_sign = 1
    if pts[0] > pts[1]:
        pts[0], pts[1] = pts[1], pts[0]
        perm_sign = -perm_sign
    if pts[1] > pts[2]:
        pts[1], pts[2] = pts[2], pts[1]
        perm_sign = -perm_sign
    if pts[0] > pts[1]:
        pts[0], pts[1] = pts[1], pts[0]
        perm_sign = -perm_sign

    xa = tuple(_fr(v) for v in pts[0])
    xb = tuple(_fr(v) for v in pts[1])
    xc = tuple(_fr(v) for v in pts[2])
    bxc = (
        xb[1] * xc[2] - xb[2] * xc[1],
        xb[2] * xc[0] - xb[0] * xc[2],
        xb[0] * xc[1] - xb[1] * xc[0],
    )
    det = xa[0] * bxc[0] + xa[1] * bxc[1] + xa[2] * bxc[2]
    if det > 0:
        return perm_sign
    if det < 0:
        return -perm_sign
    if not perturb:
        return 0
    return perm_sign * _symbolically_perturbed_sign(xa, xb, xc, bxc)


def _symbolically_perturbed_sign(a, b, c, b_cross_c) -> int:
    """Sequence of perturbation coefficients per s2/predicates.go:346-468
    (Simulation of Simplicity, Table 4-ii)."""

    def sgn(x: Fraction) -> int:
        return (x > 0) - (x < 0)

    for val in (
        b_cross_c[2],  # da.Z
        b_cross_c[1],  # da.Y
        b_cross_c[0],  # da.X
        c[0] * a[1] - c[1] * a[0],  # db.Z
        c[0],  # db.Z * da.Y
        -c[1],  # db.Z * da.X
        c[2] * a[0] - c[0] * a[2],  # db.Y
        c[2],  # db.Y * da.X
        a[0] * b[1] - a[1] * b[0],  # dc.Z
        -b[0],  # dc.Z * da.Y
        b[1],  # dc.Z * da.X
        a[0],  # dc.Z * db.Y
    ):
        s = sgn(val)
        if s != 0:
            return s
    return 1  # dc.Z * db.Y * da.X


def expensive_sign_scalar(a, b, c) -> int:
    """stableSign then exact; Indeterminate iff two points equal;
    s2/predicates.go:257-278."""
    if tuple(a) == tuple(b) or tuple(b) == tuple(c) or tuple(c) == tuple(a):
        return 0
    s = int(
        stable_sign(
            np.asarray(a, dtype=np.float64)[None, :],
            np.asarray(b, dtype=np.float64)[None, :],
            np.asarray(c, dtype=np.float64)[None, :],
        )[0]
    )
    if s != 0:
        return s
    return exact_sign_scalar(a, b, c, True)


def robust_sign(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Vectorized RobustSign (s2/predicates.go:178-184): triage everywhere,
    expensive only on the indeterminate residue."""
    a = np.atleast_2d(np.asarray(a, dtype=np.float64))
    b = np.atleast_2d(np.asarray(b, dtype=np.float64))
    c = np.atleast_2d(np.asarray(c, dtype=np.float64))
    a, b, c = np.broadcast_arrays(a, b, c)
    s = triage_sign(a, b, c).copy()
    idx = np.nonzero(s == 0)[0]
    for i in idx:
        s[i] = expensive_sign_scalar(a[i], b[i], c[i])
    return s


def ortho(p: np.ndarray) -> np.ndarray:
    """Deterministic orthogonal unit vector; s2/point.go:254-265."""
    p = np.asarray(p, dtype=np.float64)
    temp = np.array([0.012, 0.0053, 0.00457])
    ax, ay, az = abs(p[0]), abs(p[1]), abs(p[2])
    if ax > ay and ax > az:
        temp[2] = 1.0
    elif ay > az:
        temp[0] = 1.0
    else:
        temp[1] = 1.0
    v = np.array(
        [
            p[1] * temp[2] - p[2] * temp[1],
            p[2] * temp[0] - p[0] * temp[2],
            p[0] * temp[1] - p[1] * temp[0],
        ]
    )
    return v / np.sqrt(v @ v)


def ordered_ccw(a, b, c, o) -> bool:
    """Whether b is within the CCW wedge (a, c) around o; s2/point.go:110-122."""
    total = 0
    if robust_sign(b[None, :], o[None, :], a[None, :])[0] != -1:
        total += 1
    if robust_sign(c[None, :], o[None, :], b[None, :])[0] != -1:
        total += 1
    if robust_sign(a[None, :], o[None, :], c[None, :])[0] == 1:
        total += 1
    return total >= 2


def angle_contains_vertex(a, b, c) -> bool:
    """Whether the wedge ABC contains vertex B; s2/edge_crossings.go:434-444."""
    return not ordered_ccw(ortho(b), c, a, b)


def point_cross(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """PointCross (s2/point.go:82-100): (b+a) x (b-a) — a more orthogonal
    cross product for nearly (anti)parallel points; vectorized."""
    return cross(b + a, b - a)


# ---------------------------------------------------------------------------
# CompareDistances — s2/predicates.go:470-723.
#
# The reference triages with cos/sin^2 forms before exact arithmetic; we
# triage directly on the squared-chord doubles (the engine's distance
# unit everywhere) with a conservative error bound, and fall through to
# exact rational arithmetic on the residue.  The float64 input vectors
# are exact rationals, so the Fraction comparison returns the TRUE sign
# for every input — identical results to the reference cascade, one
# fewer tier.
# ---------------------------------------------------------------------------

# |x-a|^2 for unit-ish vectors: 3 squares + 2 adds, each with relative
# error <= eps; 8 eps covers the worst case with margin.
_CHORD2_TRIAGE_ERROR = 8 * DBL_EPSILON


def triage_compare_chord2(x: np.ndarray, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Vectorized: sign of chord2(x,a) - chord2(x,b) where certain, else 0.
    x, a, b are (N,3) batches."""
    da = ((x - a) ** 2).sum(axis=-1)
    db = ((x - b) ** 2).sum(axis=-1)
    diff = da - db
    err = _CHORD2_TRIAGE_ERROR * (da + db)
    return np.where(diff > err, 1, np.where(diff < -err, -1, 0)).astype(np.int8)


def exact_compare_chord2_scalar(x, a, b) -> int:
    """Exact sign of chord2(x,a) - chord2(x,b) via rational arithmetic
    (the exactCompareDistances analog, s2/predicates.go:616-668).
    Returns 0 only when the two squared chords are exactly equal."""
    da = sum((_fr(float(x[i])) - _fr(float(a[i]))) ** 2 for i in range(3))
    db = sum((_fr(float(x[i])) - _fr(float(b[i]))) ** 2 for i in range(3))
    if da > db:
        return 1
    if da < db:
        return -1
    return 0


def compare_distances(x, a, b) -> int:
    """-1/0/+1 as distance(x,a) </==/> distance(x,b); scalar.  Triage on
    doubles, exact on the residue; ties (sign 0) are genuine exact
    equalities the caller breaks deterministically (the reference's
    symbolic tier exists only to make that break order-free;
    s2/predicates.go:470-723)."""
    x = np.asarray(x, dtype=np.float64)
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    s = int(triage_compare_chord2(x[None, :], a[None, :], b[None, :])[0])
    if s != 0:
        return s
    return exact_compare_chord2_scalar(x, a, b)


def compare_distances_batch(
    x: np.ndarray, a: np.ndarray, b: np.ndarray
) -> np.ndarray:
    """Vectorized cascade: triage everything, exact only on the residue."""
    x = np.atleast_2d(x)
    a = np.atleast_2d(a)
    b = np.atleast_2d(b)
    out = triage_compare_chord2(x, a, b).astype(np.int8)
    res = np.nonzero(out == 0)[0]
    for i in res:
        out[i] = exact_compare_chord2_scalar(x[i], a[i], b[i])
    return out


def rotate(p: np.ndarray, axis: np.ndarray, angle_rad: float) -> np.ndarray:
    """Rotate p around the (unit) axis by the angle (Rodrigues form);
    s2/point.go:286-302."""
    axis = np.asarray(axis, dtype=np.float64)
    axis = axis / np.sqrt(axis @ axis)
    p = np.asarray(p, dtype=np.float64)
    center = axis * float(p @ axis)
    dx = p - center
    dy = np.cross(axis, p)
    out = dx * math.cos(angle_rad) + dy * math.sin(angle_rad) + center
    return out / np.sqrt(out @ out)


# ---------------------------------------------------------------------------
# Dot-product sign and circle-crossing ordering (s2/predicates.go:725-921).


def triage_sign_dot_prod(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Vectorized sign of a.b with the 3.046875*eps Rump bound
    (s2/predicates.go:736-759); 0 = indeterminate."""
    a = np.atleast_2d(a)
    b = np.atleast_2d(b)
    max_error = 3.046875 * DBL_EPSILON
    d = np.einsum("ij,ij->i", a, b)
    out = np.where(d > max_error, 1, np.where(d < -max_error, -1, 0))
    return out.astype(np.int8)


def _exact_dot_sign(a, b) -> int:
    s = sum(_fr(float(x)) * _fr(float(y)) for x, y in zip(a, b))
    return (s > 0) - (s < 0)


def sign_dot_prod(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Exact sign of a.b: float triage, rational fallback on the
    indeterminate residue (s2/predicates.go:725-734)."""
    a = np.atleast_2d(a)
    b = np.atleast_2d(b)
    out = triage_sign_dot_prod(a, b)
    for i in np.nonzero(out == 0)[0]:
        out[i] = _exact_dot_sign(a[i], b[i])
    return out


def triage_intersection_ordering(a, b, c, d, m, n) -> np.ndarray:
    """Vectorized crossing order of edges AB and CD along circle M
    relative to reference circle N, via the quadruple-product expansion
    (M.A)(N.B)-(M.B)(N.A) vs (M.C)(N.D)-(M.D)(N.C) with the 32*eps gappa
    bound (s2/predicates.go:839-905); 0 = indeterminate."""
    a, b, c, d, m, n = (np.atleast_2d(v) for v in (a, b, c, d, m, n))
    max_error = 32.0 * DBL_EPSILON

    def dp(x, y):
        return (x * y).sum(axis=1)  # broadcasts single-row m/n over batches

    prod_ab = dp(m, a) * dp(n, b) - dp(m, b) * dp(n, a)
    prod_cd = dp(m, c) * dp(n, d) - dp(m, d) * dp(n, c)
    diff = prod_ab - prod_cd
    out = np.where(diff > max_error, 1, np.where(diff < -max_error, -1, 0))
    return out.astype(np.int8)


def _exact_intersection_ordering(a, b, c, d, m, n) -> int:
    def fdp(x, y):
        return sum(_fr(float(u)) * _fr(float(v)) for u, v in zip(x, y))

    prod_ab = fdp(m, a) * fdp(n, b) - fdp(m, b) * fdp(n, a)
    prod_cd = fdp(m, c) * fdp(n, d) - fdp(m, d) * fdp(n, c)
    return (prod_ab > prod_cd) - (prod_ab < prod_cd)


def circle_edge_intersection_ordering(a, b, c, d, m, n) -> np.ndarray:
    """Order of the crossings of edges AB and CD over the great circle
    with normal M, measured from the reference circle N
    (s2/predicates.go:819-837): -1 when AB's crossing is closer to N, +1
    when further, 0 for identical crossings.  Requires A,C on M's
    positive side and B,D on its negative side; exact after rational
    fallback (duplicate and reverse-duplicate edges short-circuit to 0).
    """
    a, b, c, d, m, n = (np.atleast_2d(v) for v in (a, b, c, d, m, n))
    out = triage_intersection_ordering(a, b, c, d, m, n)
    for i in np.nonzero(out == 0)[0]:
        ai = a[i] if len(a) > 1 else a[0]
        bi = b[i] if len(b) > 1 else b[0]
        ci = c[i] if len(c) > 1 else c[0]
        di = d[i] if len(d) > 1 else d[0]
        mi = m[i] if len(m) > 1 else m[0]
        ni = n[i] if len(n) > 1 else n[0]
        if (np.array_equal(ai, ci) and np.array_equal(bi, di)) or (
            np.array_equal(ai, di) and np.array_equal(bi, ci)
        ):
            out[i] = 0
            continue
        out[i] = _exact_intersection_ordering(ai, bi, ci, di, mi, ni)
    return out
