"""P1 CRS reprojection, P6/P7 geometry casts, V10 block aggregate."""

from __future__ import annotations

import numpy as np
import pytest

from greenexp_r_spark.functions import crs
from greenexp_r_spark.kernels import geom as G


def test_mercator_roundtrip():
    rng = np.random.RandomState(1)
    lon = rng.uniform(-179, 179, 1000)
    lat = rng.uniform(-80, 80, 1000)
    x, y = crs.mercator_forward(lon, lat)
    lon2, lat2 = crs.mercator_inverse(x, y)
    np.testing.assert_allclose(lon2, lon, atol=1e-9)
    np.testing.assert_allclose(lat2, lat, atol=1e-9)


def test_mercator_known_point():
    # EPSG:3395 at (lon=1°, lat=1°): reference values from the
    # ellipsoidal Mercator formulas
    x, y = crs.mercator_forward(np.array([1.0]), np.array([1.0]))
    assert x[0] == pytest.approx(111319.4908, abs=0.01)
    assert y[0] == pytest.approx(110579.9652, abs=0.05)


def test_reproject_points_spark(spark):
    import pandas as pd
    pdf = pd.DataFrame({"lon": [4.9, 5.1, -73.9], "lat": [52.37, 52.0, 40.7]})
    df = crs.reproject_points(spark.createDataFrame(pdf))
    got = df.toPandas()
    x, y = crs.mercator_forward(pdf.lon.to_numpy(), pdf.lat.to_numpy())
    np.testing.assert_allclose(got.x.to_numpy(), x)
    np.testing.assert_allclose(got.y.to_numpy(), y)


def test_make_valid_fixes_orientation():
    ring = G.regular_polygon(10, 10, 5, 8)[::-1]          # CW
    fixed = G.make_valid(ring)
    assert G.polygon_area(fixed) > 0


def test_multipolygon_roundtrip_and_explode():
    a = G.regular_polygon(0, 0, 5, 6)
    b = G.regular_polygon(100, 100, 8, 5)
    mb = G.wkb_multipolygon_rings([[a], [b]])
    parts = G.parse_wkb_rings(mb)
    assert len(parts) == 2
    np.testing.assert_allclose(parts[0][0], a)
    np.testing.assert_allclose(parts[1][0], b)
    # plain polygon passes through as one member
    assert len(G.parse_wkb_rings(G.wkb_polygon(a))) == 1


def test_aggregate_block_mean():
    v = np.arange(16, dtype=float)          # 4x4
    out = G.aggregate_block_mean(v, 4, 4, 2)
    np.testing.assert_allclose(out, [2.5, 4.5, 10.5, 12.5])
    with pytest.raises(ValueError):
        G.aggregate_block_mean(v, 4, 4, 3)
