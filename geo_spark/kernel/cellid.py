"""Vectorized S2 cell-id kernel (pure numpy, no Spark imports).

Implements the S2 cell-id scheme — the Hilbert-curve face/quadtree mapping of
the unit sphere — as batch operations over numpy uint64 arrays, re-derived
from the published S2 design (reference semantics: akhenakh/geo
``s2/cellid.go``, ``s2/stuv.go``, ``s2/latlng.go``; see file:line citations on
each function).  This module is the foundation every Spark operator builds on:
pandas UDFs wrap these kernels, and the pure bit-math subset (level / parent /
range arithmetic) is *also* exposed as native Spark SQL expressions in
``geo_spark.functions.sql`` so Catalyst can codegen them.

Layout of a cell id (``s2/cellid.go:40-57``): 3 face bits (faces 0..5) then a
61-bit Hilbert curve position; a cell at level k has its lowest set bit at
position 2*(MaxLevel-k).

Signedness: cell ids are uint64 but Spark's LongType is signed.  Faces 4-5 set
the sign bit, so int64 ordering differs from uint64 ordering.  We store the
*biased* value ``signed = u64 - 2**63`` (order-preserving) wherever range
predicates matter; :func:`to_signed` / :func:`from_signed` convert.
"""

from __future__ import annotations

import numpy as np

U = np.uint64
I = np.int64

# Constants per s2/cellid.go:77-97.
FACE_BITS = 3
NUM_FACES = 6
MAX_LEVEL = 30
POS_BITS = 2 * MAX_LEVEL + 1  # 61
MAX_SIZE = 1 << MAX_LEVEL  # 2^30

LOOKUP_BITS = 4
SWAP_MASK = 0x01
INVERT_MASK = 0x02

SIGN_BIAS = 1 << 63

_U0 = U(0)
_U1 = U(1)
_U2 = U(2)
_U3 = U(3)
_U61 = U(61)

# ---------------------------------------------------------------------------
# Hilbert lookup tables (s2/cellid.go:673-738).  Built iteratively at import:
# each table maps a 10-bit key to a 10-bit value ("ppppppppoo" <-> "iiiijjjjoo").
# ---------------------------------------------------------------------------

_POS_TO_IJ = (
    (0, 1, 3, 2),  # canonical order
    (0, 2, 3, 1),  # axes swapped
    (3, 2, 0, 1),  # bits inverted
    (3, 1, 0, 2),  # swapped & inverted
)
_POS_TO_ORIENTATION = (SWAP_MASK, 0, 0, INVERT_MASK | SWAP_MASK)


def _build_lookup_tables() -> tuple[np.ndarray, np.ndarray]:
    lookup_pos = np.zeros(1 << (2 * LOOKUP_BITS + 2), dtype=np.uint64)
    lookup_ij = np.zeros(1 << (2 * LOOKUP_BITS + 2), dtype=np.uint64)

    # Iterative DFS replacing the reference's recursion (s2/cellid.go:713-738).
    stack = [(0, 0, 0, orig, 0, orig) for orig in (0, 1, 2, 3)]
    while stack:
        level, i, j, orig, pos, orientation = stack.pop()
        if level == LOOKUP_BITS:
            ij = (i << LOOKUP_BITS) + j
            lookup_pos[(ij << 2) + orig] = (pos << 2) + orientation
            lookup_ij[(pos << 2) + orig] = (ij << 2) + orientation
            continue
        level += 1
        i <<= 1
        j <<= 1
        pos <<= 2
        r = _POS_TO_IJ[orientation]
        for k in range(4):
            stack.append(
                (
                    level,
                    i + (r[k] >> 1),
                    j + (r[k] & 1),
                    orig,
                    pos + k,
                    orientation ^ _POS_TO_ORIENTATION[k],
                )
            )
    return lookup_pos, lookup_ij


LOOKUP_POS, LOOKUP_IJ = _build_lookup_tables()


def _as_u64(x) -> np.ndarray:
    return np.asarray(x, dtype=np.uint64)


def _neg(x: np.ndarray) -> np.ndarray:
    """Two's-complement negation for uint64 arrays (wraparound)."""
    return ~x + _U1


# ---------------------------------------------------------------------------
# (s,t) <-> (u,v) <-> (i,j) transforms — s2/stuv.go:163-229 (quadratic
# projection; Go supports the quadratic transform only).
# ---------------------------------------------------------------------------


def st_to_uv(s: np.ndarray) -> np.ndarray:
    """Quadratic s->u transform, s2/stuv.go:186-191."""
    s = np.asarray(s, dtype=np.float64)
    return np.where(
        s >= 0.5,
        (1.0 / 3.0) * (4.0 * s * s - 1.0),
        (1.0 / 3.0) * (1.0 - 4.0 * (1.0 - s) * (1.0 - s)),
    )


def uv_to_st(u: np.ndarray) -> np.ndarray:
    """Inverse quadratic transform, s2/stuv.go:196-201."""
    u = np.asarray(u, dtype=np.float64)
    with np.errstate(invalid="ignore"):
        return np.where(
            u >= 0.0,
            0.5 * np.sqrt(1.0 + 3.0 * u),
            1.0 - 0.5 * np.sqrt(1.0 - 3.0 * u),
        )


def st_to_ij(s: np.ndarray) -> np.ndarray:
    """Clamped floor(2^30 * s) -> int64 in [0, 2^30), s2/stuv.go:227-229.

    NaN inputs (garbage geotags upstream) clamp to 0 instead of raising
    cast warnings; callers should filter invalid coordinates before joining.
    """
    scaled = np.nan_to_num(
        np.floor(MAX_SIZE * np.asarray(s, dtype=np.float64)), nan=0.0
    )
    return np.clip(scaled, 0, MAX_SIZE - 1).astype(np.int64)


def ij_to_st_min(i: np.ndarray) -> np.ndarray:
    """Leaf index -> minimum s/t of that cell, s2/stuv.go:221-223."""
    return np.asarray(i, dtype=np.float64) / float(MAX_SIZE)


# ---------------------------------------------------------------------------
# xyz <-> (face,u,v) — s2/stuv.go:205-335.
# ---------------------------------------------------------------------------


def face_from_xyz(x: np.ndarray, y: np.ndarray, z: np.ndarray) -> np.ndarray:
    """Face 0..5 with the largest-|component| rule of s2/stuv.go:205-216.

    Tie-breaking matches r3.Vector.LargestComponent (r3/vector.go:118-131):
    X wins only on strict |x|>|y| and |x|>|z|; Y wins on strict |y|>|z|;
    otherwise Z.  Negative component adds 3.
    """
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    x_wins = (ax > ay) & (ax > az)
    y_wins = ~x_wins & (ay > az)
    axis = np.where(x_wins, 0, np.where(y_wins, 1, 2))
    comp = np.where(x_wins, x, np.where(y_wins, y, z))
    return (axis + np.where(comp < 0, 3, 0)).astype(np.int64)


def face_uv_from_xyz(
    x: np.ndarray, y: np.ndarray, z: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """xyz -> (face, u, v); validFaceXYZToUV per s2/stuv.go:234-249."""
    f = face_from_xyz(x, y, z)
    with np.errstate(divide="ignore", invalid="ignore"):
        u = np.select(
            [f == 0, f == 1, f == 2, f == 3, f == 4],
            [y / x, -x / y, -x / z, z / x, z / y],
            default=-y / z,
        )
        v = np.select(
            [f == 0, f == 1, f == 2, f == 3, f == 4],
            [z / x, z / y, -y / z, y / x, -x / y],
            default=-x / z,
        )
    return f, u, v


def face_uv_to_xyz(
    face: np.ndarray, u: np.ndarray, v: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(face,u,v) -> unnormalized xyz, s2/stuv.go:268-283."""
    face = np.asarray(face)
    u = np.asarray(u, dtype=np.float64)
    v = np.asarray(v, dtype=np.float64)
    one = np.ones_like(u)
    x = np.select(
        [face == 0, face == 1, face == 2, face == 3, face == 4],
        [one, -u, -u, -one, v],
        default=v,
    )
    y = np.select(
        [face == 0, face == 1, face == 2, face == 3, face == 4],
        [u, one, -v, -v, -one],
        default=u,
    )
    z = np.select(
        [face == 0, face == 1, face == 2, face == 3, face == 4],
        [v, v, one, -u, -u],
        default=-one,
    )
    return x, y, z


# ---------------------------------------------------------------------------
# lat/lng <-> xyz — s2/latlng.go:74-95.
# ---------------------------------------------------------------------------


def latlng_to_xyz(
    lat_deg: np.ndarray, lng_deg: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Degrees -> unit xyz (PointFromLatLng, s2/latlng.go:85-90)."""
    phi = np.radians(np.asarray(lat_deg, dtype=np.float64))
    theta = np.radians(np.asarray(lng_deg, dtype=np.float64))
    cosphi = np.cos(phi)
    return np.cos(theta) * cosphi, np.sin(theta) * cosphi, np.sin(phi)


def xyz_to_latlng(
    x: np.ndarray, y: np.ndarray, z: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """xyz -> (lat_deg, lng_deg) (latitude/longitude, s2/latlng.go:74-80)."""
    lat = np.arctan2(z, np.sqrt(x * x + y * y))
    lng = np.arctan2(y, x)
    return np.degrees(lat), np.degrees(lng)


# ---------------------------------------------------------------------------
# Hilbert encode / decode — s2/cellid.go:576-598 / 539-573.
# ---------------------------------------------------------------------------


def cellid_from_face_ij(face, i, j) -> np.ndarray:
    """Leaf cell from (face, i, j); vectorized s2/cellid.go:576-598.

    Each of the 8 rounds maps 4 bits of i and 4 of j plus a 2-bit orientation
    through the lookup table into 8 position bits.
    """
    face = _as_u64(face)
    i = _as_u64(i)
    j = _as_u64(j)
    n = face << U(POS_BITS - 1)
    bits = face & _U1  # swapMask: alternating faces flip orientation
    mask = U((1 << LOOKUP_BITS) - 1)
    for k in range(7, -1, -1):
        kb = U(k * LOOKUP_BITS)
        bits += ((i >> kb) & mask) << U(LOOKUP_BITS + 2)
        bits += ((j >> kb) & mask) << _U2
        bits = LOOKUP_POS[bits]
        n |= (bits >> _U2) << U(k * 2 * LOOKUP_BITS)
        bits &= _U3
    return n * _U2 + _U1


def face_ij_orientation(
    cellid,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Decode (face, i, j, orientation) from a cell id; s2/cellid.go:539-573."""
    cellid = _as_u64(cellid)
    f = cellid >> _U61
    orientation = f & _U1
    i = np.zeros_like(cellid)
    j = np.zeros_like(cellid)
    nbits = MAX_LEVEL - 7 * LOOKUP_BITS  # 2, first iteration only
    for k in range(7, -1, -1):
        m = U((1 << (2 * nbits)) - 1)
        orientation += ((cellid >> U(k * 2 * LOOKUP_BITS + 1)) & m) << _U2
        orientation = LOOKUP_IJ[orientation]
        i += (orientation >> U(LOOKUP_BITS + 2)) << U(k * LOOKUP_BITS)
        j += ((orientation >> _U2) & U((1 << LOOKUP_BITS) - 1)) << U(k * LOOKUP_BITS)
        orientation &= _U3
        nbits = LOOKUP_BITS
    # Non-leaf suffix of the form 10* flips swapMask once per "00" pair
    # (s2/cellid.go:565-570).
    lsb_ = lsb(cellid)
    orientation ^= np.where((lsb_ & U(0x1111111111111110)) != _U0, _U1, _U0)
    return (
        f.astype(np.int64),
        i.astype(np.int64),
        j.astype(np.int64),
        orientation.astype(np.int64),
    )


def cellid_from_xyz(x, y, z) -> np.ndarray:
    """Leaf cell containing the (not necessarily unit) vector; s2/cellid.go:647-652."""
    f, u, v = face_uv_from_xyz(
        np.asarray(x, dtype=np.float64),
        np.asarray(y, dtype=np.float64),
        np.asarray(z, dtype=np.float64),
    )
    return cellid_from_face_ij(f, st_to_ij(uv_to_st(u)), st_to_ij(uv_to_st(v)))


def cellid_from_latlng(lat_deg, lng_deg) -> np.ndarray:
    """Leaf cell from degrees lat/lng; s2/cellid.go:114-116."""
    x, y, z = latlng_to_xyz(lat_deg, lng_deg)
    return cellid_from_xyz(x, y, z)


def face_ij_orientation_scalar(cid: int) -> tuple[int, int, int, int]:
    """Scalar fast path of :func:`face_ij_orientation` for one Python-int
    cell id.  The vectorized decode pays ~0.3 ms of numpy dispatch per
    1-element call; per-cell region/coverer code (Cell.from_id, children,
    cell centers) calls the decode thousands of times per layer build, so
    plain-int table walks are ~50x faster there.  Bit-for-bit identical
    to the vectorized path (differential-tested)."""
    cid = int(cid)
    f = cid >> 61
    orientation = f & 1
    i = 0
    j = 0
    lk = LOOKUP_IJ
    nbits = MAX_LEVEL - 7 * LOOKUP_BITS  # 2, first iteration only
    for k in range(7, -1, -1):
        m = (1 << (2 * nbits)) - 1
        orientation += ((cid >> (k * 2 * LOOKUP_BITS + 1)) & m) << 2
        orientation = int(lk[orientation])
        i += (orientation >> (LOOKUP_BITS + 2)) << (k * LOOKUP_BITS)
        j += ((orientation >> 2) & ((1 << LOOKUP_BITS) - 1)) << (k * LOOKUP_BITS)
        orientation &= 3
        nbits = LOOKUP_BITS
    if (cid & -cid) & 0x1111111111111110:
        orientation ^= 1  # non-leaf swapMask fixup (s2/cellid.go:565-570)
    return f, i, j, orientation


def face_siti_scalar(cid: int) -> tuple[int, int, int]:
    """Scalar (face, si, ti) of the cell center (s2/cellid.go:524-536)."""
    cid = int(cid)
    f, i, j, _ = face_ij_orientation_scalar(cid)
    if cid & 1:
        delta = 1
    elif (i ^ (cid >> 2)) & 1:
        delta = 2
    else:
        delta = 0
    return f, 2 * i + delta, 2 * j + delta


def cellid_to_xyz_scalar(cid: int) -> tuple[float, float, float]:
    """Scalar cell-center direction (unnormalized xyz), matching
    :func:`cellid_to_xyz` bit-for-bit."""
    f, si, ti = face_siti_scalar(cid)
    s = (0.5 / MAX_SIZE) * si
    t = (0.5 / MAX_SIZE) * ti
    u = (1.0 / 3.0) * (4.0 * s * s - 1.0) if s >= 0.5 else (1.0 / 3.0) * (
        1.0 - 4.0 * (1.0 - s) * (1.0 - s)
    )
    v = (1.0 / 3.0) * (4.0 * t * t - 1.0) if t >= 0.5 else (1.0 / 3.0) * (
        1.0 - 4.0 * (1.0 - t) * (1.0 - t)
    )
    if f == 0:
        return 1.0, u, v
    if f == 1:
        return -u, 1.0, v
    if f == 2:
        return -u, -v, 1.0
    if f == 3:
        return -1.0, -v, -u
    if f == 4:
        return v, -1.0, -u
    return v, u, -1.0


def children_scalar(cid: int) -> tuple[int, int, int, int]:
    """The four child ids of a non-leaf cell (s2/cellid.go:389-414) via
    pure-int bit math: child k = id - lsb + (2k+1)*(lsb>>2)."""
    cid = int(cid)
    lsb_ = cid & -cid & 0xFFFFFFFFFFFFFFFF
    cl = lsb_ >> 2
    base = cid - lsb_
    return base + cl, base + 3 * cl, base + 5 * cl, base + 7 * cl


def face_siti(cellid) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(face, si, ti) of the cell center; s2/cellid.go:524-536."""
    cellid = _as_u64(cellid)
    f, i, j, _ = face_ij_orientation(cellid)
    leaf = (cellid & _U1) != _U0
    # Non-leaf: delta=2 if (i ^ (id>>2)) & 1 else 0; leaf: delta=1.
    odd = ((_as_u64(i) ^ (cellid >> _U2)) & _U1) != _U0
    delta = np.where(leaf, 1, np.where(odd, 2, 0))
    return f, 2 * i + delta, 2 * j + delta


def cellid_to_xyz(cellid) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Cell center as an (unnormalized) xyz direction; s2/cellid.go:519-522."""
    f, si, ti = face_siti(cellid)
    u = st_to_uv((0.5 / MAX_SIZE) * np.asarray(si, dtype=np.float64))
    v = st_to_uv((0.5 / MAX_SIZE) * np.asarray(ti, dtype=np.float64))
    return face_uv_to_xyz(f, u, v)


def cellid_to_latlng(cellid) -> tuple[np.ndarray, np.ndarray]:
    """Cell center in degrees; s2/cellid.go:379-382."""
    x, y, z = cellid_to_xyz(cellid)
    return xyz_to_latlng(x, y, z)


# ---------------------------------------------------------------------------
# Bit-math accessors & navigation — s2/cellid.go:150-337, 389-481.
# All of these have native-SQL twins in geo_spark.functions.sql.
# ---------------------------------------------------------------------------


def lsb(cellid) -> np.ndarray:
    cellid = _as_u64(cellid)
    return cellid & _neg(cellid)


def lsb_for_level(level) -> np.ndarray:
    return _U1 << U(2) * (U(MAX_LEVEL) - _as_u64(level))


def face(cellid) -> np.ndarray:
    return (_as_u64(cellid) >> _U61).astype(np.int64)


def level(cellid) -> np.ndarray:
    """MaxLevel - trailing_zeros/2; s2/cellid.go:156-158."""
    l = lsb(_as_u64(cellid))
    # trailing zeros = popcount(lsb - 1)
    tz = popcount(l - _U1)
    return (MAX_LEVEL - (tz >> np.int64(1))).astype(np.int64)


def popcount(x) -> np.ndarray:
    """Vectorized 64-bit popcount (SWAR)."""
    x = _as_u64(x)
    x = x - ((x >> _U1) & U(0x5555555555555555))
    x = (x & U(0x3333333333333333)) + ((x >> _U2) & U(0x3333333333333333))
    x = (x + (x >> U(4))) & U(0x0F0F0F0F0F0F0F0F)
    return ((x * U(0x0101010101010101)) >> U(56)).astype(np.int64)


def is_leaf(cellid) -> np.ndarray:
    return (_as_u64(cellid) & _U1) != _U0


def is_valid(cellid) -> np.ndarray:
    cellid = _as_u64(cellid)
    return (face(cellid) < NUM_FACES) & ((lsb(cellid) & U(0x1555555555555555)) != _U0)


def parent(cellid, lvl) -> np.ndarray:
    """Ancestor at the given level; s2/cellid.go:177-180."""
    l = lsb_for_level(lvl)
    return (_as_u64(cellid) & _neg(l)) | l


def child_begin_at_level(cellid, lvl) -> np.ndarray:
    """First descendant at the level; s2/cellid.go:400-404."""
    cellid = _as_u64(cellid)
    return cellid - lsb(cellid) + lsb_for_level(lvl)


def child_end_at_level(cellid, lvl) -> np.ndarray:
    cellid = _as_u64(cellid)
    return cellid + lsb(cellid) + lsb_for_level(lvl)


def range_min(cellid) -> np.ndarray:
    cellid = _as_u64(cellid)
    return cellid - (lsb(cellid) - _U1)


def range_max(cellid) -> np.ndarray:
    cellid = _as_u64(cellid)
    return cellid + (lsb(cellid) - _U1)


def contains(a, b) -> np.ndarray:
    """a contains b iff range_min(a) <= b <= range_max(a); s2/cellid.go:330-333."""
    b = _as_u64(b)
    return (range_min(a) <= b) & (b <= range_max(a))


def intersects(a, b) -> np.ndarray:
    return (range_min(b) <= range_max(a)) & (range_max(b) >= range_min(a))


def next_cell(cellid) -> np.ndarray:
    """Next cell at the same level along the Hilbert curve (no wrap);
    s2/cellid.go:416-419."""
    cellid = np.atleast_1d(_as_u64(cellid))
    return cellid + (lsb(cellid) << _U1)


def prev_cell(cellid) -> np.ndarray:
    """Previous cell at the same level (no wrap); s2/cellid.go:422-425."""
    cellid = np.atleast_1d(_as_u64(cellid))
    return cellid - (lsb(cellid) << _U1)


_WRAP_OFFSET = U(NUM_FACES) << U(POS_BITS)


def advance(cellid, steps) -> np.ndarray:
    """Advance along the Hilbert curve at the cell's level, clamped to the
    first/last cell (never wraps); s2/cellid.go:452-481."""
    cellid = np.atleast_1d(_as_u64(cellid))
    steps = np.atleast_1d(np.asarray(steps, dtype=np.int64))
    shift = (np.int64(2) * (np.int64(MAX_LEVEL) - level(cellid)) + np.int64(1)).astype(
        np.uint64
    )
    min_steps = -((cellid >> shift).astype(np.int64))
    max_steps = ((_WRAP_OFFSET + lsb(cellid) - cellid) >> shift).astype(np.int64)
    clamped = np.clip(steps, min_steps, max_steps)
    return cellid + (clamped.astype(np.uint64) << shift)


def max_tile(cellid: int, limit: int) -> int:
    """Largest cell starting at cellid.RangeMin() whose range stays below
    ``limit`` (a leaf id); returns ``limit`` when exhausted;
    s2/cellid.go:870-900."""
    cid = int(U(cellid))
    lim = int(U(limit))

    def rmin(x):
        return int(range_min(np.array([x], dtype=np.uint64))[0])

    def rmax(x):
        return int(range_max(np.array([x], dtype=np.uint64))[0])

    start = rmin(cid)
    if start >= rmin(lim):
        return lim
    if rmax(cid) >= lim:
        # cell too large: shrink to the first child chain
        while True:
            cid = int(child_begin_at_level(
                np.array([cid], dtype=np.uint64),
                int(level(np.array([cid], dtype=np.uint64))[0]) + 1,
            )[0])
            if rmax(cid) < lim:
                break
        return cid
    # cell may be too small: grow while the parent still starts at start
    while int(level(np.array([cid], dtype=np.uint64))[0]) > 0:
        par = int(parent(
            np.array([cid], dtype=np.uint64),
            int(level(np.array([cid], dtype=np.uint64))[0]) - 1,
        )[0])
        if rmin(par) != start or rmax(par) >= lim:
            break
        cid = par
    return cid


def common_ancestor_level(a, b) -> np.ndarray:
    """Level of the lowest common ancestor, or -1; s2/cellid.go:740-748."""
    a = _as_u64(a)
    b = _as_u64(b)
    bits = np.maximum(a ^ b, np.maximum(lsb(a), lsb(b)))
    msb = np.int64(63) - _clz(bits)
    lvl = (60 - msb.astype(np.int64)) >> np.int64(1)
    return np.where(msb <= 60, lvl, np.int64(-1))


def _clz(x) -> np.ndarray:
    """Count leading zeros of uint64 via float64 exponent trick + fixups."""
    x = _as_u64(x)
    n = np.zeros(x.shape, dtype=np.int64)
    r = x.copy()
    for shift, mask in (
        (32, U(0xFFFFFFFF00000000)),
        (16, U(0xFFFF000000000000)),
        (8, U(0xFF00000000000000)),
        (4, U(0xF000000000000000)),
        (2, U(0xC000000000000000)),
        (1, U(0x8000000000000000)),
    ):
        hi = (r & mask) == _U0
        n = np.where(hi, n + shift, n)
        r = np.where(hi, r << U(shift), r)
    return np.where(x == _U0, np.int64(64), n)


# ---------------------------------------------------------------------------
# Signed-bias helpers (Spark LongType interop).
# ---------------------------------------------------------------------------


def to_signed(cellid) -> np.ndarray:
    """Order-preserving map uint64 -> int64: u - 2^63 (XOR the sign bit)."""
    return (_as_u64(cellid) ^ U(SIGN_BIAS)).view(np.int64)


def from_signed(signed) -> np.ndarray:
    return np.asarray(signed, dtype=np.int64).view(np.uint64) ^ U(SIGN_BIAS)


# ---------------------------------------------------------------------------
# Tokens — s2/cellid.go:118-142.
# ---------------------------------------------------------------------------


def to_token(cellid) -> list[str]:
    """Hex token, leading zeros kept, trailing zeros stripped; zero -> "X"."""
    out = []
    for v in np.atleast_1d(_as_u64(cellid)):
        s = format(int(v), "016x").rstrip("0")
        out.append(s if s else "X")
    return out


def from_token(tokens) -> np.ndarray:
    """Token -> uint64; invalid tokens -> 0 (s2/cellid.go:118-132)."""
    out = np.zeros(len(tokens), dtype=np.uint64)
    for idx, t in enumerate(tokens):
        if not t or len(t) > 16 or t == "X":
            continue
        # strconv.ParseUint rejects whitespace/sign/non-hex characters.
        if not all(c in "0123456789abcdefABCDEF" for c in t):
            continue
        out[idx] = U(int(t, 16) << (4 * (16 - len(t))))
    return out


# ---------------------------------------------------------------------------
# Neighbors — s2/cellid.go:215-321, 600-629.
# ---------------------------------------------------------------------------


def _clamp_int(x, lo, hi):
    return np.minimum(np.maximum(x, lo), hi)


def cellid_from_face_ij_wrap(f, i, j) -> np.ndarray:
    """Leaf cell for (i,j) possibly one step outside the face; s2/cellid.go:600-629."""
    f = np.asarray(f, dtype=np.int64)
    i = _clamp_int(np.asarray(i, dtype=np.int64), -1, MAX_SIZE)
    j = _clamp_int(np.asarray(j, dtype=np.int64), -1, MAX_SIZE)
    scale = 1.0 / MAX_SIZE
    limit = np.nextafter(1.0, 2.0)
    u = np.clip(scale * ((i << 1) + 1 - MAX_SIZE), -limit, limit)
    v = np.clip(scale * ((j << 1) + 1 - MAX_SIZE), -limit, limit)
    x, y, z = face_uv_to_xyz(f, u, v)
    f2, u2, v2 = face_uv_from_xyz(x, y, z)
    return cellid_from_face_ij(f2, st_to_ij(0.5 * (u2 + 1)), st_to_ij(0.5 * (v2 + 1)))


def cellid_from_face_ij_same(f, i, j, same_face) -> np.ndarray:
    wrap = cellid_from_face_ij_wrap(f, i, j)
    inside = cellid_from_face_ij(
        np.asarray(f, dtype=np.int64),
        np.clip(np.asarray(i, dtype=np.int64), 0, MAX_SIZE - 1),
        np.clip(np.asarray(j, dtype=np.int64), 0, MAX_SIZE - 1),
    )
    return np.where(np.asarray(same_face, dtype=bool), inside, wrap)


def edge_neighbors(cellid) -> np.ndarray:
    """4 edge-adjacent cells at the same level, shape (n,4); s2/cellid.go:215-225.

    Order: down, right, up, left in face (i,j) space.
    """
    cellid = np.atleast_1d(_as_u64(cellid))
    lvl = level(cellid)
    size = np.int64(1) << (np.int64(MAX_LEVEL) - lvl)
    f, i, j, _ = face_ij_orientation(cellid)
    nbrs = np.stack(
        [
            cellid_from_face_ij_wrap(f, i, j - size),
            cellid_from_face_ij_wrap(f, i + size, j),
            cellid_from_face_ij_wrap(f, i, j + size),
            cellid_from_face_ij_wrap(f, i - size, j),
        ],
        axis=1,
    )
    return parent(nbrs, lvl[:, None])


def vertex_neighbors(cellid, lvl: int) -> list[np.ndarray]:
    """Per-row list of 3-4 neighbors of the closest vertex; s2/cellid.go:230-263."""
    cellid = np.atleast_1d(_as_u64(cellid))
    half = np.int64(1 << (MAX_LEVEL - lvl - 1))
    size = half << np.int64(1)
    f, i, j, _ = face_ij_orientation(cellid)
    i_hi = (i & half) != 0
    ioffset = np.where(i_hi, size, -size)
    isame = np.where(i_hi, (i + size) < MAX_SIZE, (i - size) >= 0)
    j_hi = (j & half) != 0
    joffset = np.where(j_hi, size, -size)
    jsame = np.where(j_hi, (j + size) < MAX_SIZE, (j - size) >= 0)

    p0 = parent(cellid, lvl)
    p1 = parent(cellid_from_face_ij_same(f, i + ioffset, j, isame), lvl)
    p2 = parent(cellid_from_face_ij_same(f, i, j + joffset, jsame), lvl)
    p3 = parent(cellid_from_face_ij_same(f, i + ioffset, j + joffset, isame & jsame), lvl)
    keep3 = isame | jsame
    out = []
    for r in range(len(cellid)):
        row = [p0[r], p1[r], p2[r]]
        if keep3[r]:
            row.append(p3[r])
        out.append(np.array(row, dtype=np.uint64))
    return out


def all_neighbors(cellid: int, lvl: int) -> np.ndarray:
    """All neighbors (incl. diagonal) of one cell at >= its level;
    s2/cellid.go:274-321.  Scalar cell, vectorized ring construction —
    returns a sorted unique uint64 array (callers explode it)."""
    cid = U(cellid)
    cell_lvl = int(level(np.array([cid]))[0])
    if lvl < cell_lvl or lvl > MAX_LEVEL:
        return np.empty(0, dtype=np.uint64)
    f, i, j, _ = face_ij_orientation(np.array([cid]))
    f, i, j = int(f[0]), int(i[0]), int(j[0])
    size = 1 << (MAX_LEVEL - cell_lvl)
    i &= -size
    j &= -size
    nbr_size = 1 << (MAX_LEVEL - lvl)

    fs, is_, js, same = [], [], [], []
    k = -nbr_size
    while True:
        if k < 0:
            same_face = (j + k) >= 0
        elif k >= size:
            same_face = (j + k) < MAX_SIZE
        else:
            same_face = True
            # top and bottom neighbors
            fs += [f, f]
            is_ += [i + k, i + k]
            js += [j - nbr_size, j + size]
            same += [(j - size) >= 0, (j + size) < MAX_SIZE]
        # left, right (and diagonal when k out of [0,size))
        fs += [f, f]
        is_ += [i - nbr_size, i + size]
        js += [j + k, j + k]
        same += [same_face and (i - size) >= 0, same_face and (i + size) < MAX_SIZE]
        if k >= size:
            break
        k += nbr_size

    nbrs = parent(
        cellid_from_face_ij_same(
            np.array(fs), np.array(is_), np.array(js), np.array(same)
        ),
        lvl,
    )
    return np.unique(nbrs)


def all_neighbors_same_level(cellid) -> np.ndarray:
    """(n, 8) all neighbors (incl. diagonals) of each cell at its OWN
    level — the fully-vectorized special case of ``all_neighbors`` the
    kNN ring expansion runs over millions of distinct cells per round.
    At face corners an entry may duplicate an edge neighbor (the wrap
    clamps, s2/cellid.go:600-629); callers dedupe set-wise."""
    cellid = np.atleast_1d(_as_u64(cellid))
    lvl = level(cellid)
    size = np.int64(1) << (np.int64(MAX_LEVEL) - lvl)
    f, i, j, _ = face_ij_orientation(cellid)
    i &= -size
    j &= -size
    cols = []
    for di, dj in (
        (-1, -1), (-1, 0), (-1, 1), (0, -1), (0, 1), (1, -1), (1, 0), (1, 1)
    ):
        ii = i + di * size
        jj = j + dj * size
        same = (ii >= 0) & (ii < MAX_SIZE) & (jj >= 0) & (jj < MAX_SIZE)
        cols.append(cellid_from_face_ij_same(f, ii, jj, same))
    return parent(np.stack(cols, axis=1), lvl[:, None])


# ---------------------------------------------------------------------------
# Debug string form "f/0123" and exact-center snap detection.
# ---------------------------------------------------------------------------


def to_string(cellid) -> list[str]:
    """Human-readable "face/child-path" form, e.g. "2/0123";
    s2/cellid.go:339-356.  Invalid ids render as "Invalid: <hex>"."""
    arr = np.atleast_1d(_as_u64(cellid))
    valid = is_valid(arr)
    faces = face(arr)
    lvls = level(arr)
    out = []
    for k in range(len(arr)):
        if not valid[k]:
            out.append(f"Invalid: {int(arr[k]):016x}")
            continue
        cid = int(arr[k])
        digits = []
        for l in range(1, int(lvls[k]) + 1):
            digits.append(str((cid >> (2 * (MAX_LEVEL - l) + 1)) & 3))
        out.append(f"{int(faces[k])}/" + "".join(digits))
    return out


def cellid_from_string(s: str) -> int:
    """Inverse of ``to_string``; s2/cellid.go:358-373."""
    if len(s) < 2 or s[1] != "/" or s[0] not in "012345":
        raise ValueError(f"bad cell id string {s!r}")
    face_num = int(s[0])
    cid = (face_num << POS_BITS) | (1 << 60)  # face cell
    for ch in s[2:]:
        if ch not in "0123":
            raise ValueError(f"bad child digit {ch!r} in {s!r}")
        arr = np.array([cid], dtype=np.uint64)
        lvl = int(level(arr)[0]) + 1
        first = int(child_begin_at_level(arr, lvl)[0])
        step = 2 * int(lsb_for_level(np.int64(lvl)))
        cid = first + int(ch) * step
    return cid


def xyz_to_face_siti(p: np.ndarray) -> tuple[int, int, int, int]:
    """(face, si, ti, level) for a point; level is the cell level if the
    point is EXACTLY the center of some cell (snap detection for
    compressed decode), else -1; s2/stuv.go:339-363."""
    p = np.asarray(p, dtype=np.float64)
    f, u, v = face_uv_from_xyz(p[0:1], p[1:2], p[2:3])
    s = uv_to_st(u)[0]
    t = uv_to_st(v)[0]
    si = int(round(s * 2 * MAX_SIZE))
    ti = int(round(t * 2 * MAX_SIZE))
    si = max(0, min(2 * MAX_SIZE, si))
    ti = max(0, min(2 * MAX_SIZE, ti))
    # a center has both coordinates odd multiples of 2^(30-level) doubled;
    # level = 30 - trailing_zeros(si | ti | marker)
    bits = (si | ti | (1 << 31))
    tz = (bits & -bits).bit_length() - 1
    lvl = MAX_LEVEL - tz
    if 0 <= lvl <= MAX_LEVEL:
        # verify exactness: the center of that cell must reproduce p's direction
        cx, cy, cz = face_uv_to_xyz(
            np.asarray(f, dtype=np.int64),
            st_to_uv(np.array([si / (2.0 * MAX_SIZE)])),
            st_to_uv(np.array([ti / (2.0 * MAX_SIZE)])),
        )
        c = np.array(
            [
                float(np.atleast_1d(cx)[0]),
                float(np.atleast_1d(cy)[0]),
                float(np.atleast_1d(cz)[0]),
            ]
        )
        # the input is a unit vector (S2 Point contract); compare it to
        # the normalized center exactly, as the reference does
        if np.array_equal(c / np.linalg.norm(c), p):
            return int(f[0]), si, ti, lvl
    return int(f[0]), si, ti, -1
