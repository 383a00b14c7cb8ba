"""CRS reprojection (SURVEY P1): vectorized WGS84 lon/lat ↔ World
Mercator (EPSG:3395, the reference's default projection target —
ndvi_calc.R:50-62 and every function preamble).

The reference calls sf::st_transform per function invocation; here
reprojection happens ONCE at ingest through an Arrow-batched pandas
UDF (two trig ops per point, numpy-vectorized — no per-row Python),
and every downstream operator works in projected meters.

EPSG:3395 (ellipsoidal Mercator, WGS84): x = a·λ,
y = a·ln(tan(π/4 + φ/2) · ((1−e·sinφ)/(1+e·sinφ))^(e/2)).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import pandas_udf

WGS84_A = 6_378_137.0
WGS84_F = 1.0 / 298.257223563
WGS84_E = float(np.sqrt(2 * WGS84_F - WGS84_F ** 2))


def mercator_forward(lon_deg: np.ndarray, lat_deg: np.ndarray):
    lam = np.radians(lon_deg)
    phi = np.radians(lat_deg)
    e = WGS84_E
    x = WGS84_A * lam
    con = e * np.sin(phi)
    y = WGS84_A * np.log(np.tan(np.pi / 4 + phi / 2)
                         * ((1 - con) / (1 + con)) ** (e / 2))
    return x, y


def mercator_inverse(x: np.ndarray, y: np.ndarray,
                     iters: int = 15):
    """Iterative inverse (standard fixed-point on the conformal
    latitude); converges to double precision in < 10 iterations."""
    e = WGS84_E
    lon = np.degrees(x / WGS84_A)
    ts = np.exp(-y / WGS84_A)
    phi = np.pi / 2 - 2 * np.arctan(ts)
    for _ in range(iters):
        con = e * np.sin(phi)
        phi = np.pi / 2 - 2 * np.arctan(
            ts * ((1 - con) / (1 + con)) ** (e / 2))
    return lon, np.degrees(phi)


def _to_mercator_udf():
    # built lazily: pandas_udf parses its DDL schema against the
    # active session, so it cannot be a module-level decorator
    @pandas_udf("x double, y double")
    def to_mercator(lon: pd.Series, lat: pd.Series) -> pd.DataFrame:
        x, y = mercator_forward(lon.to_numpy(), lat.to_numpy())
        return pd.DataFrame({"x": x, "y": y})
    return to_mercator


def reproject_points(df: DataFrame, lon: str = "lon",
                     lat: str = "lat") -> DataFrame:
    """Ingest-time P1: append projected (x, y) meters."""
    proj = _to_mercator_udf()(F.col(lon), F.col(lat))
    return df.withColumn("_p", proj) \
             .withColumn("x", F.col("_p.x")) \
             .withColumn("y", F.col("_p.y")).drop("_p")


# ---------------------------------------------------------------------
# Transverse Mercator / UTM (VERDICT r03 'Next round #6': a second
# projected CRS so the "one fixed metric CRS per dataset" promise has
# real dispatch).  Snyder (1987, USGS PP 1395) series, the standard
# public formulation; k0 = 0.9996, zone CM at 6°·zone − 183.
# ---------------------------------------------------------------------

UTM_K0 = 0.9996
_E2 = WGS84_E ** 2
_EP2 = _E2 / (1.0 - _E2)


def utm_zone(lon_deg: np.ndarray) -> np.ndarray:
    """UTM zone number from longitude (1..60)."""
    z = np.floor((np.asarray(lon_deg, dtype=float) + 180.0) / 6.0) + 1
    return np.clip(z, 1, 60).astype(np.int64)


def _meridian_arc(phi: np.ndarray) -> np.ndarray:
    e2 = _E2
    return WGS84_A * (
        (1 - e2 / 4 - 3 * e2 ** 2 / 64 - 5 * e2 ** 3 / 256) * phi
        - (3 * e2 / 8 + 3 * e2 ** 2 / 32 + 45 * e2 ** 3 / 1024)
        * np.sin(2 * phi)
        + (15 * e2 ** 2 / 256 + 45 * e2 ** 3 / 1024) * np.sin(4 * phi)
        - (35 * e2 ** 3 / 3072) * np.sin(6 * phi))


def utm_forward(lon_deg: np.ndarray, lat_deg: np.ndarray,
                zone: np.ndarray | None = None):
    """WGS84 lon/lat → (zone, easting, northing) meters.  Vectorized;
    southern-hemisphere rows get the 10,000 km false northing."""
    lon_deg = np.asarray(lon_deg, dtype=float)
    lat_deg = np.asarray(lat_deg, dtype=float)
    if zone is None:
        zone = utm_zone(lon_deg)
    lam0 = np.radians(zone * 6.0 - 183.0)
    phi = np.radians(lat_deg)
    lam = np.radians(lon_deg)
    sp, cp, tp = np.sin(phi), np.cos(phi), np.tan(phi)
    N = WGS84_A / np.sqrt(1 - _E2 * sp ** 2)
    T = tp ** 2
    Cc = _EP2 * cp ** 2
    A = (lam - lam0) * cp
    M = _meridian_arc(phi)
    x = UTM_K0 * N * (A + (1 - T + Cc) * A ** 3 / 6
                      + (5 - 18 * T + T ** 2 + 72 * Cc - 58 * _EP2)
                      * A ** 5 / 120) + 500_000.0
    y = UTM_K0 * (M + N * tp * (A ** 2 / 2
                                + (5 - T + 9 * Cc + 4 * Cc ** 2)
                                * A ** 4 / 24
                                + (61 - 58 * T + T ** 2 + 600 * Cc
                                   - 330 * _EP2) * A ** 6 / 720))
    y = np.where(lat_deg < 0, y + 10_000_000.0, y)
    return zone, x, y


def utm_inverse(zone: np.ndarray, x: np.ndarray, y: np.ndarray,
                south: bool = False):
    """(zone, easting, northing) → WGS84 lon/lat (Snyder footpoint
    series; roundtrip < 1 mm up to |lat| 70°, tests assert < 5 mm)."""
    e2, ep2, a = _E2, _EP2, WGS84_A
    y = np.asarray(y, dtype=float) - (10_000_000.0 if south else 0.0)
    M = y / UTM_K0
    mu = M / (a * (1 - e2 / 4 - 3 * e2 ** 2 / 64 - 5 * e2 ** 3 / 256))
    e1 = (1 - np.sqrt(1 - e2)) / (1 + np.sqrt(1 - e2))
    phi1 = (mu + (3 * e1 / 2 - 27 * e1 ** 3 / 32) * np.sin(2 * mu)
            + (21 * e1 ** 2 / 16 - 55 * e1 ** 4 / 32) * np.sin(4 * mu)
            + (151 * e1 ** 3 / 96) * np.sin(6 * mu)
            + (1097 * e1 ** 4 / 512) * np.sin(8 * mu))
    sp1, cp1, tp1 = np.sin(phi1), np.cos(phi1), np.tan(phi1)
    C1 = ep2 * cp1 ** 2
    T1 = tp1 ** 2
    N1 = a / np.sqrt(1 - e2 * sp1 ** 2)
    R1 = a * (1 - e2) / (1 - e2 * sp1 ** 2) ** 1.5
    D = (np.asarray(x, dtype=float) - 500_000.0) / (N1 * UTM_K0)
    phi = phi1 - (N1 * tp1 / R1) * (
        D ** 2 / 2
        - (5 + 3 * T1 + 10 * C1 - 4 * C1 ** 2 - 9 * ep2) * D ** 4 / 24
        + (61 + 90 * T1 + 298 * C1 + 45 * T1 ** 2 - 252 * ep2
           - 3 * C1 ** 2) * D ** 6 / 720)
    lam0 = np.radians(np.asarray(zone, dtype=float) * 6.0 - 183.0)
    lam = lam0 + (D - (1 + 2 * T1 + C1) * D ** 3 / 6
                  + (5 - 2 * C1 + 28 * T1 - 3 * C1 ** 2 + 8 * ep2
                     + 24 * T1 ** 2) * D ** 5 / 120) / cp1
    return np.degrees(lam), np.degrees(phi)


# ---------------------------------------------------------------------
# Per-dataset CRS declaration (SURVEY §1.1 "one fixed metric CRS per
# dataset, declared in table properties").  The declaration rides on
# the x/y StructField METADATA — it survives selects/joins through
# Catalyst, costs nothing at runtime, and operators can assert
# consistency before mixing layers (the reference's st_transform
# guard: sf errors on CRS mismatch; ndvi_calc.R:50-62 takes
# projected_crs as a user parameter).
# ---------------------------------------------------------------------

CRS_META_KEY = "crs"


def declare_crs(df: DataFrame, crs: str, cols: tuple[str, str] = ("x", "y")
                ) -> DataFrame:
    """Stamp the dataset's projected CRS (e.g. 'EPSG:3395',
    'EPSG:32631') onto its coordinate columns' metadata."""
    out = df
    for c in cols:
        out = out.withMetadata(c, {CRS_META_KEY: crs})
    return out


def crs_of(df: DataFrame, col: str = "x") -> str | None:
    """The declared CRS of a coordinate column (None if undeclared)."""
    for f in df.schema.fields:
        if f.name == col:
            return f.metadata.get(CRS_META_KEY)
    return None


class CrsMismatch(ValueError):
    pass


def require_same_crs(*dfs: DataFrame, col: str = "x",
                     expect: str | None = None) -> str | None:
    """Operator-level guard: raise CrsMismatch when inputs carry
    CONFLICTING declared CRSs (or differ from `expect`).  Undeclared
    inputs pass — declaration is opt-in per dataset — but one declared
    + one differently-declared input is always an error, mirroring
    sf's refusal to combine layers of different CRS."""
    seen = {c for c in (crs_of(df, col) for df in dfs) if c is not None}
    if expect is not None:
        seen.add(expect)
    if len(seen) > 1:
        raise CrsMismatch(
            f"mixed projected CRS across inputs: {sorted(seen)}; "
            "reproject at ingest (reproject_points / utm_forward) so "
            "every layer of a join shares one metric CRS")
    return next(iter(seen), None)
