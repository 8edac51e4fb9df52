"""Native Spark SQL expressions for S2 cell-id bit math (no UDFs).

These operate on the *biased signed* representation ``signed = u64 - 2**63``
(see geo_spark.kernel.cellid.to_signed).  The bias only flips bit 63, and every
operation here either preserves bit 63 through ``&``/``|`` with masks whose
high bit is set, or adds/subtracts quantities < 2^61 that cannot carry into
bit 63 for valid cell ids — so the uint64 semantics of s2/cellid.go:150-337
hold unchanged on the biased int64 values, and int64 ordering == uint64
Hilbert ordering.

Everything here stays inside whole-stage codegen: level/parent/range/tile
assignment never leaves the JVM.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MAX_LEVEL = 30


def lsb_for_level(level: int) -> int:
    """Lowest set bit for cells at a level; s2/cellid.go:186."""
    return 1 << (2 * (MAX_LEVEL - level))


def lsb(cid: Column) -> Column:
    """cid & -cid (works on biased ids: bit 63 never the lsb of a valid id)."""
    return cid.bitwiseAND(-cid)


def level(cid: Column) -> Column:
    """MaxLevel - trailing_zeros/2; s2/cellid.go:156-158."""
    return F.lit(MAX_LEVEL) - F.shiftright(F.bit_count(lsb(cid) - 1), 1)


def parent(cid: Column, lvl: int) -> Column:
    """Ancestor at a fixed level (tile assignment); s2/cellid.go:177-180."""
    l = lsb_for_level(lvl)
    return cid.bitwiseAND(F.lit(-l)).bitwiseOR(F.lit(l))


def range_min(cid: Column) -> Column:
    """Smallest leaf id contained in the cell; s2/cellid.go:323-324."""
    return cid - (lsb(cid) - 1)


def range_max(cid: Column) -> Column:
    """Largest leaf id contained in the cell; s2/cellid.go:326-327."""
    return cid + (lsb(cid) - 1)


def contains(a: Column, b: Column) -> Column:
    """Cell a contains cell/leaf b; s2/cellid.go:330-333."""
    return (range_min(a) <= b) & (b <= range_max(a))


def is_leaf(cid: Column) -> Column:
    return cid.bitwiseAND(F.lit(1)) == 1


def face(cid: Column) -> Column:
    """Face 0..5 from a biased id: un-bias bit 63 then take the top 3 bits."""
    return F.shiftrightunsigned(cid.bitwiseXOR(F.lit(-(2**63))), 61).cast("int")


def next_cell(cid: Column) -> Column:
    """Next cell at the same level along the Hilbert curve (no wrap);
    s2/cellid.go:416-419.  Valid on biased ids: the +2*lsb add carries
    through bit 63 order-preservingly."""
    return cid + F.shiftleft(lsb(cid), 1)


def prev_cell(cid: Column) -> Column:
    """Previous cell at the same level (no wrap); s2/cellid.go:422-425."""
    return cid - F.shiftleft(lsb(cid), 1)


def advance(cid: Column, steps: Column) -> Column:
    """Advance along the Hilbert curve at the cell's level (caller keeps
    steps inside the face range — no clamping, unlike the kernel's
    ``advance``); s2/cellid.go:452-481."""
    return cid + steps * F.shiftleft(lsb(cid), 1)
