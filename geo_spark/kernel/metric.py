"""S2 metrics (cell size <-> level) and spherical-Earth conversions.

Constants and level-selection rules per s2/metric.go:45-155 (quadratic
projection deriv values) and earth radius per earth/earth.go:43.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

MAX_LEVEL = 30

EARTH_RADIUS_KM = 6371.01
EARTH_RADIUS_M = EARTH_RADIUS_KM * 1000.0


@dataclass(frozen=True)
class Metric:
    """A 1-D or 2-D cell metric: value(level) = deriv * 2^(-dim*level)."""

    dim: int
    deriv: float

    def value(self, level: int) -> float:
        return math.ldexp(self.deriv, -self.dim * level)

    def min_level(self, val: float) -> int:
        """Minimum level such that the metric is at most val;
        s2/metric.go:117-129."""
        if val <= 0:
            return MAX_LEVEL
        level = -(math.frexp(val / self.deriv)[1] - 1)
        if self.dim == 2:
            level = (level + 1) >> 1
        return max(0, min(MAX_LEVEL, level))

    def max_level(self, val: float) -> int:
        """Maximum level such that the metric is at least val;
        s2/metric.go:134-146."""
        if val <= 0:
            return MAX_LEVEL
        level = math.frexp(self.deriv / val)[1] - 1
        if self.dim == 2:
            level = level >> 1
        return max(0, min(MAX_LEVEL, level))

    def closest_level(self, val: float) -> int:
        """Level whose metric is closest to val; s2/metric.go:109-113."""
        factor = math.sqrt(2) if self.dim == 1 else 2.0
        return self.min_level(factor * val)


# Quadratic-projection deriv constants, s2/metric.go:45-106.
MIN_ANGLE_SPAN = Metric(1, 4.0 / 3)
MAX_ANGLE_SPAN = Metric(1, 1.704897179199218452)
AVG_ANGLE_SPAN = Metric(1, math.pi / 2)
MIN_WIDTH = Metric(1, 2 * math.sqrt(2) / 3)
MAX_WIDTH = Metric(1, MAX_ANGLE_SPAN.deriv)
AVG_WIDTH = Metric(1, 1.434523672886099389)
MIN_EDGE = Metric(1, 2 * math.sqrt(2) / 3)
MAX_EDGE = Metric(1, MAX_ANGLE_SPAN.deriv)
AVG_EDGE = Metric(1, 1.459213746386106062)
MIN_DIAG = Metric(1, 8 * math.sqrt(2) / 9)
MAX_DIAG = Metric(1, 2.438654594434021032)
AVG_DIAG = Metric(1, 2.060422738998471683)
MIN_AREA = Metric(2, 8 * math.sqrt(2) / 9)
MAX_AREA = Metric(2, 2.635799256963161491)
AVG_AREA = Metric(2, 4 * math.pi / 6)


def meters_to_radians(m: float) -> float:
    """earth/earth.go:43-49."""
    return m / EARTH_RADIUS_M


def level_for_meters(m: float) -> int:
    """Closest level whose min cell width matches a ground distance."""
    return MIN_WIDTH.max_level(meters_to_radians(m))
