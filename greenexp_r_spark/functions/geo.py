"""Scalar geo helpers (SURVEY P3/P4/P12).

These are the small pure-arithmetic pieces of the reference's
preambles, kept as helpers so every operator shares one definition.
The BIGINT squared distance is a shared-SQL fragment:
`dialect.Dialect.dist2`.
"""

from __future__ import annotations


def buffer_distance_from_speed(speed_kmh: float, time_min: float) -> float:
    """`buffer_distance = speed * 1000 / 60 * time` (meters) —
    ndvi_calc.R:76-88 (formula at :84): distance walkable/cyclable in
    `time_min` minutes at `speed_kmh`."""
    return speed_kmh * 1000.0 / 60.0 * time_min
