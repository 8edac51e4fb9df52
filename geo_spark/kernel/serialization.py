"""Binary interop encodings for cell ids and cell unions.

Matches the reference's little-endian encode framework byte-for-byte
(s2/encode.go:25-120; the README documents the format as interoperable
with the C++ and Java implementations):

* ``CellID``: one uint64, little-endian (s2/cellid.go:484-503).
* ``CellUnion``: version int8 (=1), count int64 LE, then each id as a
  uint64 LE; decode enforces the 1,000,000-cell cap
  (s2/cellunion.go:542-588).

The engine stores cell sets as Parquet columns — these codecs exist so
external blobs produced by the reference (or its C++/Java siblings) can
be ingested/emitted at the boundary.  Vectorized: the id block is one
numpy ``<u8`` array view, not a per-id loop.
"""

from __future__ import annotations

import struct

import numpy as np

ENCODING_VERSION = 1
MAX_CELLS = 1_000_000


def encode_cellid(cellid: int) -> bytes:
    """uint64 little-endian (s2/cellid.go:484-492)."""
    return struct.pack("<Q", int(cellid) & 0xFFFFFFFFFFFFFFFF)


def decode_cellid(data: bytes) -> int:
    """Inverse of :func:`encode_cellid` (s2/cellid.go:495-503)."""
    if len(data) < 8:
        raise ValueError("cell id blob shorter than 8 bytes")
    return struct.unpack_from("<Q", data)[0]


def encode_cellunion(cells) -> bytes:
    """version + count + ids, all little-endian
    (s2/cellunion.go:550-557); the input need not be a valid
    (normalized) union, matching the reference contract."""
    arr = np.asarray(list(cells) if not isinstance(cells, np.ndarray) else cells)
    arr = arr.astype(np.uint64, copy=False)
    head = struct.pack("<bq", ENCODING_VERSION, len(arr))
    return head + arr.astype("<u8").tobytes()


def decode_cellunion(data: bytes) -> np.ndarray:
    """Inverse of :func:`encode_cellunion` (s2/cellunion.go:566-588):
    rejects unknown versions and more than 1,000,000 cells."""
    if len(data) < 9:
        raise ValueError("cell union blob shorter than its header")
    version, n = struct.unpack_from("<bq", data)
    if version != ENCODING_VERSION:
        raise ValueError(f"only version {ENCODING_VERSION} is supported")
    if n > MAX_CELLS:
        raise ValueError(f"too many cells ({n}; max is {MAX_CELLS})")
    if n < 0 or len(data) < 9 + 8 * n:
        raise ValueError("cell union blob truncated")
    return np.frombuffer(data, dtype="<u8", count=n, offset=9).astype(np.uint64)


# ---------------------------------------------------------------------------
# Compressed point encoding (s2/pointcompression.go:50-330).
#
# Sequences of points that are centers of level-k cells compress to ~4
# bytes/vertex: run-length-encoded faces, (si,ti) right-shifted to the
# (pi,qi) space of the level, 2nd-derivative (linear-prediction) coding
# of pi/qi, zigzag for the sign, bit-interleave, then uvarint — with the
# first point fixed-length.  Points that are NOT centers of level-k
# cells ride behind the stream exactly (uvarint index + 3 LE float64s).
# Wire-format compatible with the reference (same byte layout derived
# from the spec; the reference publishes no byte fixtures, so parity is
# certified by round-trip + format-structure tests).
# ---------------------------------------------------------------------------

_NUM_FACES = 6
_MAX_LEVEL = 30
_MAX_SITI = np.uint64(1) << np.uint64(_MAX_LEVEL + 1)


def _uvarint(out: bytearray, v: int) -> None:
    while v >= 0x80:
        out.append((v & 0x7F) | 0x80)
        v >>= 7
    out.append(v)


def _read_uvarint(data: bytes, pos: int) -> tuple[int, int]:
    shift = 0
    v = 0
    while True:
        b = data[pos]
        pos += 1
        v |= (b & 0x7F) << shift
        if not b & 0x80:
            return v, pos
        shift += 7


def _spread_bits(x: int) -> int:
    """32-bit value spread onto the even bits of a 64-bit value."""
    x &= 0xFFFFFFFF
    x = (x | (x << 16)) & 0x0000FFFF0000FFFF
    x = (x | (x << 8)) & 0x00FF00FF00FF00FF
    x = (x | (x << 4)) & 0x0F0F0F0F0F0F0F0F
    x = (x | (x << 2)) & 0x3333333333333333
    x = (x | (x << 1)) & 0x5555555555555555
    return x


def _squash_bits(x: int) -> int:
    x &= 0x5555555555555555
    x = (x | (x >> 1)) & 0x3333333333333333
    x = (x | (x >> 2)) & 0x0F0F0F0F0F0F0F0F
    x = (x | (x >> 4)) & 0x00FF00FF00FF00FF
    x = (x | (x >> 8)) & 0x0000FFFF0000FFFF
    x = (x | (x >> 16)) & 0x00000000FFFFFFFF
    return x


def _interleave32(x: int, y: int) -> int:
    """x on even bits, y on odd bits (s2/interleave.go:131-146)."""
    return _spread_bits(x) | (_spread_bits(y) << 1)


def _deinterleave32(code: int) -> tuple[int, int]:
    return _squash_bits(code), _squash_bits(code >> 1)


def _zigzag_encode(x: int) -> int:
    """int32 -> uint32 (s2/pointcompression.go:273-275)."""
    x = _i32(x)
    return ((x << 1) ^ (x >> 31)) & 0xFFFFFFFF


def _zigzag_decode(x: int) -> int:
    return _i32((x >> 1) ^ -(x & 1))


def _i32(x: int) -> int:
    """Wrap to signed 32-bit (Go int32 arithmetic)."""
    x &= 0xFFFFFFFF
    return x - 0x100000000 if x >= 0x80000000 else x


class _NthDerivativeCoder:
    """Linear-prediction coder, order n (s2/nthderivative.go:56-95);
    int32 wrap-around semantics."""

    def __init__(self, n: int) -> None:
        self.n = n
        self.m = 0
        self.memory = [0] * 10

    def encode(self, k: int) -> int:
        k = _i32(k)
        for i in range(self.m):
            delta = _i32(k - self.memory[i])
            self.memory[i] = k
            k = delta
        if self.m < self.n:
            self.memory[self.m] = k
            self.m += 1
        return k

    def decode(self, k: int) -> int:
        k = _i32(k)
        if self.m < self.n:
            self.m += 1
        for i in range(self.m - 1, -1, -1):
            self.memory[i] = _i32(self.memory[i] + k)
            k = self.memory[i]
        return k


def _siti_to_piqi(siti: int, level: int) -> int:
    """Clamp then right-shift off the level-constant bits
    (s2/pointcompression.go:303-315)."""
    s = min(int(siti), int(_MAX_SITI) - 1)
    return s >> (_MAX_LEVEL + 1 - level)


def encode_points_compressed(points: np.ndarray, level: int) -> bytes:
    """Compress an (N,3) array of unit vectors assumed to be (mostly)
    centers of level-``level`` cells; lossless for any input (non-center
    points are appended exactly).  Byte layout per
    s2/pointcompression.go:50-92."""
    from geo_spark.kernel.cellid import xyz_to_face_siti

    points = np.atleast_2d(np.asarray(points, dtype=np.float64))
    out = bytearray()
    sitis = [xyz_to_face_siti(p) for p in points]

    # faces, run-length coded as uvarint(6*count + face)
    runs: list[list[int]] = []
    for f, _, _, _ in sitis:
        if not runs or runs[-1][0] != f:
            runs.append([f, 1])
        else:
            runs[-1][1] += 1
    for f, count in runs:
        _uvarint(out, _NUM_FACES * count + f)

    pi_coder = _NthDerivativeCoder(2)
    qi_coder = _NthDerivativeCoder(2)
    for i, (_, si, ti, _) in enumerate(sitis):
        pi = _siti_to_piqi(si, level)
        qi = _siti_to_piqi(ti, level)
        if i == 0:
            # fixed-length first point, no zigzag (it cannot be negative)
            interleaved = _interleave32(
                pi_coder.encode(pi) & 0xFFFFFFFF, qi_coder.encode(qi) & 0xFFFFFFFF
            )
            for _b in range((level + 7) // 8 * 2):
                out.append(interleaved & 0xFF)
                interleaved >>= 8
        else:
            zz_pi = _zigzag_encode(pi_coder.encode(pi))
            zz_qi = _zigzag_encode(qi_coder.encode(qi))
            _uvarint(out, _interleave32(zz_pi, zz_qi))

    off_center = [i for i, (_, _, _, lvl) in enumerate(sitis) if lvl != level]
    _uvarint(out, len(off_center))
    for idx in off_center:
        _uvarint(out, idx)
        out += struct.pack("<3d", *points[idx])
    return bytes(out)


def decode_points_compressed(data: bytes, level: int, n: int) -> np.ndarray:
    """Inverse of :func:`encode_points_compressed`; returns (n,3) unit
    vectors (s2/pointcompression.go:219-258)."""
    from geo_spark.kernel.cellid import face_uv_to_xyz, st_to_uv

    pos = 0
    faces: list[int] = []
    while len(faces) < n:
        coded, pos = _read_uvarint(data, pos)
        face, count = coded % _NUM_FACES, coded // _NUM_FACES
        if count <= 0:
            raise ValueError("non-positive count for face run")
        faces.extend([face] * count)

    pi_coder = _NthDerivativeCoder(2)
    qi_coder = _NthDerivativeCoder(2)
    pis = np.empty(n, dtype=np.int64)
    qis = np.empty(n, dtype=np.int64)
    for i in range(n):
        if i == 0:
            nbytes = (level + 7) // 8 * 2
            interleaved = int.from_bytes(data[pos : pos + nbytes], "little")
            pos += nbytes
            pc, qc = _deinterleave32(interleaved)
            pis[i] = pi_coder.decode(pc) & 0xFFFFFFFF
            qis[i] = qi_coder.decode(qc) & 0xFFFFFFFF
        else:
            interleaved, pos = _read_uvarint(data, pos)
            zz_pi, zz_qi = _deinterleave32(interleaved)
            pis[i] = pi_coder.decode(_zigzag_decode(zz_pi)) & 0xFFFFFFFF
            qis[i] = qi_coder.decode(_zigzag_decode(zz_qi)) & 0xFFFFFFFF

    st_p = (pis + 0.5) / float(1 << level)
    st_q = (qis + 0.5) / float(1 << level)
    x, y, z = face_uv_to_xyz(
        np.asarray(faces[:n], dtype=np.int64), st_to_uv(st_p), st_to_uv(st_q)
    )
    pts = np.empty((n, 3), dtype=np.float64)
    # normalize each row as a FRESH array: np.linalg.norm dispatches a
    # different dot kernel for views than for owning arrays, and the
    # last-ulp difference would break the exact round-trip of snapped
    # cell centers (cellid.xyz_to_face_siti's snap check normalizes a
    # fresh 3-vector; this must match it float-for-float)
    for r in range(n):
        v = np.array([x[r], y[r], z[r]])
        pts[r] = v / np.linalg.norm(v)

    n_off, pos = _read_uvarint(data, pos)
    if n_off > n:
        raise ValueError(f"numOffCenter = {n_off}, should be at most {n}")
    for _ in range(n_off):
        idx, pos = _read_uvarint(data, pos)
        if idx >= n:
            raise ValueError(f"off center index = {idx}, should be < {n}")
        pts[idx] = struct.unpack_from("<3d", data, pos)
        pos += 24
    return pts


# ---------------------------------------------------------------------------
# Loop / Polygon binary encoding (s2/loop.go:1261-1419, s2/polygon.go:1044-1216).
#
# Lossless Loop: version int8 (=1), uint32 vertex count, 3 LE float64 per
# vertex, bool originInside, int32 depth, then the Rect bound (its own
# version byte + 4 float64).  Compressed Loop (only ever embedded inside a
# compressed Polygon, matching the reference): uvarint count, compressed
# point block at the polygon's snap level, uvarint property bits
# (originInside=1, boundEncoded=2 — bound written iff >= 64 vertices),
# uvarint depth, optional bound.  Polygon picks lossless vs compressed by
# the reference's exact size estimate (4*nv + 26*unsnapped vs 24*nv) over
# the most-populated snap level of its vertices.  Decode recomputes any
# bound that was not written (loop_rect_bound), exactly as the reference's
# initBound/initLoopProperties do.
# ---------------------------------------------------------------------------

_COMPRESSED_ENCODING_VERSION = 4
_MAX_ENCODED_VERTICES = 50_000_000  # s2/pointcompression.go:26
_MAX_ENCODED_LOOPS = 10_000_000  # s2/polygon.go:1160
_PROP_ORIGIN_INSIDE = 1  # s2/loop.go:1330-1333
_PROP_BOUND_ENCODED = 2
_MIN_VERTICES_FOR_BOUND = 64  # s2/loop.go:1378


def _encode_rect(out: bytearray, rect) -> None:
    """version + lat.lo/hi + lng.lo/hi as LE float64 (s2/rect.go:445-451)."""
    out.append(ENCODING_VERSION)
    out += struct.pack("<4d", rect.lat.lo, rect.lat.hi, rect.lng.lo, rect.lng.hi)


def _decode_rect(data: bytes, pos: int):
    from geo_spark.kernel.interval import R1Interval, Rect, S1Interval

    if data[pos] != ENCODING_VERSION:
        raise ValueError(f"can't decode rect version {data[pos]}")
    lat_lo, lat_hi, lng_lo, lng_hi = struct.unpack_from("<4d", data, pos + 1)
    return Rect(R1Interval(lat_lo, lat_hi), S1Interval(lng_lo, lng_hi)), pos + 33


def _loop_meta(verts: np.ndarray, origin_inside, bound):
    from geo_spark.kernel import pip

    if origin_inside is None:
        origin_inside = pip.loop_origin_inside(verts)
    if bound is None:
        bound = pip.loop_rect_bound(verts, origin_inside)
    return bool(origin_inside), bound


def encode_loop(verts, depth: int = 0, origin_inside=None, bound=None) -> bytes:
    """Lossless Loop encoding (s2/loop.go:1268-1281); ``origin_inside``
    and ``bound`` are recomputed from the vertices when not supplied."""
    verts = np.atleast_2d(np.asarray(verts, dtype=np.float64))
    if len(verts) > _MAX_ENCODED_VERTICES:
        raise ValueError(f"too many vertices ({len(verts)})")
    origin_inside, bound = _loop_meta(verts, origin_inside, bound)
    out = bytearray()
    out.append(ENCODING_VERSION)
    out += struct.pack("<I", len(verts))
    out += verts.astype("<f8").tobytes()
    out.append(1 if origin_inside else 0)
    out += struct.pack("<i", int(depth))
    _encode_rect(out, bound)
    return bytes(out)


def decode_loop(data: bytes, pos: int = 0) -> tuple[dict, int]:
    """Inverse of :func:`encode_loop` (s2/loop.go:1292-1325); returns a
    dict with vertices / origin_inside / depth / bound and the next
    read position."""
    if data[pos] != ENCODING_VERSION:
        raise ValueError(f"cannot decode loop version {data[pos]}")
    (n,) = struct.unpack_from("<I", data, pos + 1)
    if n > _MAX_ENCODED_VERTICES:
        raise ValueError(f"too many vertices ({n}; max is {_MAX_ENCODED_VERTICES})")
    pos += 5
    verts = (
        np.frombuffer(data, dtype="<f8", count=3 * n, offset=pos)
        .reshape(n, 3)
        .astype(np.float64)
    )
    pos += 24 * n
    origin_inside = bool(data[pos])
    (depth,) = struct.unpack_from("<i", data, pos + 1)
    pos += 5
    bound, pos = _decode_rect(data, pos)
    return (
        {
            "vertices": verts,
            "origin_inside": origin_inside,
            "depth": int(depth),
            "bound": bound,
        },
        pos,
    )


def _encode_loop_compressed(
    out: bytearray, verts: np.ndarray, snap_level: int, depth: int, origin_inside, bound
) -> None:
    """s2/loop.go:1341-1362; bound written only above the 64-vertex
    threshold, exactly like the reference."""
    if len(verts) > _MAX_ENCODED_VERTICES:
        raise ValueError(f"too many vertices ({len(verts)})")
    origin_inside, bound = _loop_meta(verts, origin_inside, bound)
    _uvarint(out, len(verts))
    out += encode_points_compressed(verts, snap_level)
    props = _PROP_ORIGIN_INSIDE if origin_inside else 0
    if len(verts) >= _MIN_VERTICES_FOR_BOUND:
        props |= _PROP_BOUND_ENCODED
    _uvarint(out, props)
    _uvarint(out, int(depth))
    if props & _PROP_BOUND_ENCODED:
        _encode_rect(out, bound)


def _decode_loop_compressed(data: bytes, pos: int, snap_level: int) -> tuple[dict, int]:
    from geo_spark.kernel import pip

    n, pos = _read_uvarint(data, pos)
    if n > _MAX_ENCODED_VERTICES:
        raise ValueError(f"too many vertices ({n}; max is {_MAX_ENCODED_VERTICES})")
    # decode_points_compressed needs a length; re-scan the block by
    # decoding against a sliced buffer (the block is self-delimiting)
    verts, consumed = _decode_points_compressed_at(data, pos, snap_level, n)
    pos = consumed
    props, pos = _read_uvarint(data, pos)
    depth, pos = _read_uvarint(data, pos)
    origin_inside = bool(props & _PROP_ORIGIN_INSIDE)
    if props & _PROP_BOUND_ENCODED:
        bound, pos = _decode_rect(data, pos)
    else:
        bound = pip.loop_rect_bound(verts, origin_inside)
    return (
        {
            "vertices": verts,
            "origin_inside": origin_inside,
            "depth": int(depth),
            "bound": bound,
        },
        pos,
    )


def _decode_points_compressed_at(
    data: bytes, pos: int, level: int, n: int
) -> tuple[np.ndarray, int]:
    """decode_points_compressed plus the end position (the stream is
    self-delimiting; mirrors s2/pointcompression.go:219-258)."""
    from geo_spark.kernel.cellid import face_uv_to_xyz, st_to_uv

    faces: list[int] = []
    while len(faces) < n:
        coded, pos = _read_uvarint(data, pos)
        face, count = coded % _NUM_FACES, coded // _NUM_FACES
        if count <= 0:
            raise ValueError("non-positive count for face run")
        faces.extend([face] * count)

    pi_coder = _NthDerivativeCoder(2)
    qi_coder = _NthDerivativeCoder(2)
    pis = np.empty(n, dtype=np.int64)
    qis = np.empty(n, dtype=np.int64)
    for i in range(n):
        if i == 0:
            nbytes = (level + 7) // 8 * 2
            interleaved = int.from_bytes(data[pos : pos + nbytes], "little")
            pos += nbytes
            pc, qc = _deinterleave32(interleaved)
            pis[i] = pi_coder.decode(pc) & 0xFFFFFFFF
            qis[i] = qi_coder.decode(qc) & 0xFFFFFFFF
        else:
            interleaved, pos = _read_uvarint(data, pos)
            zz_pi, zz_qi = _deinterleave32(interleaved)
            pis[i] = pi_coder.decode(_zigzag_decode(zz_pi)) & 0xFFFFFFFF
            qis[i] = qi_coder.decode(_zigzag_decode(zz_qi)) & 0xFFFFFFFF

    st_p = (pis + 0.5) / float(1 << level)
    st_q = (qis + 0.5) / float(1 << level)
    x, y, z = face_uv_to_xyz(
        np.asarray(faces[:n], dtype=np.int64), st_to_uv(st_p), st_to_uv(st_q)
    )
    pts = np.empty((n, 3), dtype=np.float64)
    for r in range(n):
        v = np.array([x[r], y[r], z[r]])
        pts[r] = v / np.linalg.norm(v)

    n_off, pos = _read_uvarint(data, pos)
    if n_off > n:
        raise ValueError(f"numOffCenter = {n_off}, should be at most {n}")
    for _ in range(n_off):
        idx, pos = _read_uvarint(data, pos)
        if idx >= n:
            raise ValueError(f"off center index = {idx}, should be < {n}")
        pts[idx] = struct.unpack_from("<3d", data, pos)
        pos += 24
    return pts, pos


def encode_polygon(loops, depths=None) -> bytes:
    """Polygon encoding with the reference's lossless/compressed
    format choice (s2/polygon.go:1051-1095): snap-level histogram over
    every vertex, compressed iff ``4*nv + 26*unsnapped < 24*nv``."""
    from geo_spark.kernel.cellid import MAX_LEVEL, xyz_to_face_siti

    loops = [np.atleast_2d(np.asarray(l, dtype=np.float64)) for l in loops]
    if depths is None:
        depths = [0] * len(loops)
    if len(loops) > _MAX_ENCODED_LOOPS:
        raise ValueError(f"too many loops ({len(loops)})")
    num_vertices = sum(len(l) for l in loops)
    out = bytearray()
    if num_vertices == 0:
        out.append(_COMPRESSED_ENCODING_VERSION)
        out.append(MAX_LEVEL)
        _uvarint(out, 0)
        return bytes(out)

    levels = [xyz_to_face_siti(v)[3] for l in loops for v in l]
    histogram = [0] * (_MAX_LEVEL + 2)
    for lvl in levels:
        histogram[lvl + 1] += 1
    snap_level, num_snapped = 0, 0
    for level, h in enumerate(histogram[1:]):
        if h > num_snapped:
            snap_level, num_snapped = level, h

    num_unsnapped = num_vertices - num_snapped
    compressed_size = 4 * num_vertices + (24 + 2) * num_unsnapped
    lossless_size = 24 * num_vertices
    if compressed_size < lossless_size:
        out.append(_COMPRESSED_ENCODING_VERSION)
        out.append(snap_level)
        _uvarint(out, len(loops))
        for l, d in zip(loops, depths):
            _encode_loop_compressed(out, l, snap_level, d, None, None)
        return bytes(out)

    # lossless (s2/polygon.go:1097-1116)
    out.append(ENCODING_VERSION)
    out.append(1)  # legacy C++ owns_loops_, must be true
    has_holes = any(int(d) % 2 == 1 for d in depths)
    out.append(1 if has_holes else 0)
    out += struct.pack("<I", len(loops))
    bound = None
    from geo_spark.kernel.interval import Rect

    bound = Rect.empty()
    for l, d in zip(loops, depths):
        oi, lb = _loop_meta(l, None, None)
        out += encode_loop(l, depth=d, origin_inside=oi, bound=lb)
        if int(d) % 2 == 0:
            bound = bound.union(lb)
    _encode_rect(out, bound)
    return bytes(out)


def decode_polygon(data: bytes) -> dict:
    """Inverse of :func:`encode_polygon` (s2/polygon.go:1140-1216);
    returns ``{"loops": [loop dicts], "has_holes": bool, "bound": Rect}``
    with the bound recomputed for compressed inputs, as the reference's
    initLoopProperties does."""
    from geo_spark.kernel.cellid import MAX_LEVEL
    from geo_spark.kernel.interval import Rect

    version = data[0]
    if version == ENCODING_VERSION:
        pos = 1
        pos += 1  # legacy owns_loops_
        has_holes = bool(data[pos])
        pos += 1
        (nloops,) = struct.unpack_from("<I", data, pos)
        pos += 4
        if nloops > _MAX_ENCODED_LOOPS:
            raise ValueError(f"too many loops ({nloops})")
        loops = []
        for _ in range(nloops):
            loop, pos = decode_loop(data, pos)
            loops.append(loop)
        bound, pos = _decode_rect(data, pos)
        return {"loops": loops, "has_holes": has_holes, "bound": bound}
    if version == _COMPRESSED_ENCODING_VERSION:
        snap_level = data[1]
        if snap_level > MAX_LEVEL:
            raise ValueError(f"snaplevel too big: {snap_level}")
        pos = 2
        nloops, pos = _read_uvarint(data, pos)
        if nloops > _MAX_ENCODED_LOOPS:
            raise ValueError(f"too many loops ({nloops})")
        loops = []
        for _ in range(nloops):
            loop, pos = _decode_loop_compressed(data, pos, snap_level)
            loops.append(loop)
        has_holes = any(l["depth"] % 2 == 1 for l in loops)
        bound = Rect.empty()
        for l in loops:
            if l["depth"] % 2 == 0:
                bound = bound.union(l["bound"])
        return {"loops": loops, "has_holes": has_holes, "bound": bound}
    raise ValueError(f"unsupported polygon version {version}")
