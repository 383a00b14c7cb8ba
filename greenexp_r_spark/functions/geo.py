"""Scalar geo helpers (SURVEY P3/P4/P12).

These are the small pure-arithmetic pieces of the reference's
preambles, kept as Column/SQL helpers so every operator shares one
definition.
"""

from __future__ import annotations

from pyspark.sql import Column


def buffer_distance_from_speed(speed_kmh: float, time_min: float) -> float:
    """`buffer_distance = speed * 1000 / 60 * time` (meters) —
    ndvi_calc.R:76-88 (formula at :84): distance walkable/cyclable in
    `time_min` minutes at `speed_kmh`."""
    return speed_kmh * 1000.0 / 60.0 * time_min


def dist2_long(x: Column, y: Column, cx: Column, cy: Column) -> Column:
    """Exact BIGINT squared distance for integer-valued coordinates."""
    dx = (x - cx).cast("long")
    dy = (y - cy).cast("long")
    return dx * dx + dy * dy
