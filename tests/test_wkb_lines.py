"""WKB LINESTRING/MULTILINESTRING codec (VERDICT r04 ask
#4) + the WKB-shipped road layer feeding street sampling with hashes
unchanged vs the node-table path."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from greenexp_r_spark import world
from greenexp_r_spark.kernels import geom as G
from greenexp_r_spark.operators import streets


def test_linestring_roundtrip():
    pts = np.array([[0.0, 0.0], [100.0, 0.0], [100.0, 100.0]])
    b = G.wkb_linestring(pts)
    assert b[0] == 1 and b[1:5] == b"\x02\x00\x00\x00"
    got = G.parse_wkb_linestring(b)
    assert (got == pts).all()
    assert G.parse_wkb_lines(b)[0].shape == (3, 2)


def test_multilinestring_roundtrip():
    parts = [np.array([[0.0, 0.0], [100.0, 0.0]]),
             np.array([[5.0, 5.0], [5.0, 105.0], [105.0, 105.0]])]
    b = G.wkb_multilinestring(parts)
    got = G.parse_wkb_lines(b)
    assert len(got) == 2
    for a, g in zip(parts, got):
        assert (a == g).all()


def test_wrong_type_raises():
    b = struct.pack("<BIdd", 1, 1, 1.0, 2.0)     # a WKB POINT
    with pytest.raises(ValueError, match="linestring"):
        G.parse_wkb_linestring(b)
    with pytest.raises(ValueError, match="linestring"):
        G.parse_wkb_lines(b)


def test_street_cover_wkb_equals_nodes(spark):
    """The gate query's WKB route: MULTILINESTRING roads decode →
    sample → aggregate must equal the node-table path bit-for-bit
    (same integer vertices exact in f8, same expressions)."""
    edges = world.road_edges_df(spark)
    want = streets.street_green_cover(edges).toPandas() \
        .sort_values("name").reset_index(drop=True)
    roads = streets.roads_wkb(edges)
    assert roads.count() == 50             # one MULTILINESTRING per street
    got = streets.street_green_cover_wkb(roads).toPandas() \
        .sort_values("name").reset_index(drop=True)
    assert list(got.columns) == list(want.columns)
    assert got.equals(want)                # exact, not approx


def test_segments_from_wkb_chains(spark):
    """A 3-vertex LINESTRING yields its two consecutive segments."""
    import pandas as pd
    pts = np.array([[0.0, 0.0], [100.0, 0.0], [100.0, 100.0]])
    pdf = pd.DataFrame({"name": ["s"], "geom": [G.wkb_linestring(pts)]})
    df = spark.createDataFrame(pdf)
    segs = streets.street_segments_from_wkb(df).toPandas() \
        .sort_values(["x1", "y1"]).reset_index(drop=True)
    assert len(segs) == 2
    assert segs.loc[0, ["x1", "y1", "x2", "y2"]].tolist() == \
        [0.0, 0.0, 100.0, 0.0]
    assert segs.loc[1, ["x1", "y1", "x2", "y2"]].tolist() == \
        [100.0, 0.0, 100.0, 100.0]
