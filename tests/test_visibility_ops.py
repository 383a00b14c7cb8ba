"""Spark visibility operators vs direct numpy-kernel evaluation."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from greenexp_r_spark import constants as C, world
from greenexp_r_spark.kernels import vgvi as K, worldgrid as W
from greenexp_r_spark.operators import visibility

from .conftest import SF_TEST


def _local_points(spark):
    pdf = (world.points_df(spark, SF_TEST)
           .where("point_id % 10 = 0")
           .select("point_id", "x", "y").toPandas()
           .sort_values("point_id").reset_index(drop=True))
    return pdf


def test_vgvi_points_matches_kernel(spark):
    pts = world.points_df(spark, SF_TEST)
    got = (visibility.vgvi_points(pts).toPandas()
           .sort_values("point_id").reset_index(drop=True))
    pdf = _local_points(spark)
    r = int(round(C.VIS_MAX_DIST / C.VIS_RES))
    dsm, gs, h0 = W.observer_patches(
        pdf["x"].to_numpy(), pdf["y"].to_numpy(), r, C.VIS_RES)
    want = K.vgvi_batch(dsm, gs, h0, r, C.VIS_RES, C.VIS_MAX_DIST,
                        1, C.VGVI_M, C.VGVI_B)
    assert (got["point_id"].to_numpy() == pdf["point_id"].to_numpy()).all()
    np.testing.assert_array_equal(got["vgvi"].to_numpy(), want)
    assert ((got["vgvi"] >= 0) & (got["vgvi"] <= 1)).all()


def test_viewshed_metrics_sane(spark):
    pts = world.points_df(spark, SF_TEST)
    got = visibility.viewshed_metrics(pts).toPandas()
    assert len(got) == 50
    assert (got["visible_cells"] >= 1).all()
    assert (got["visible_cells"] <= got["disk_cells"]).all()
    p = got["visibility_proportion"]
    assert ((p > 0) & (p <= 1)).all()


def test_vgvi_from_address_deterministic(spark):
    pts = world.points_df(spark, SF_TEST)
    a = visibility.vgvi_from_address(pts).toPandas().sort_values("point_id")
    b = visibility.vgvi_from_address(pts).toPandas().sort_values("point_id")
    np.testing.assert_array_equal(a["mean_vgvi"].to_numpy(),
                                  b["mean_vgvi"].to_numpy())
    # reference default: 30 samples per address (vgvi_from_address.R:263)
    assert (a["n_samples"] == 30).all()


def test_vgvi_lines_densification(spark):
    """LINESTRING observers (vgvi_from_sf.R:191-198): n=round(len/
    spacing) regular samples per edge at ((k+0.5)/n)*len; vgvi agrees
    with the point kernel at the same coordinates."""
    edges = world.road_edges_df(spark)
    got = visibility.vgvi_lines(edges, spacing=25.0).toPandas()
    n_edges = edges.where(F.col("edge_id") % 400 == 0).count()
    assert len(got) == n_edges * 4          # 100 m / 25 m
    assert ((got["vgvi"] >= 0) & (got["vgvi"] <= 1)).all()
    assert set(got["k"]) == {0, 1, 2, 3}
    # samples sit strictly inside the segment (regular, half-offset)
    assert ((got["x"] % 100 != 0) | (got["y"] % 100 != 0)).all()
    # value equality: the line observers run the SAME kernel as point
    # observers at the sampled coordinates
    row = got.iloc[0]
    r = int(round(C.VIS_MAX_DIST / C.VIS_RES))
    dsm, gs, h0 = W.observer_patches(np.array([row.x]), np.array([row.y]),
                                     r, C.VIS_RES)
    want = K.vgvi_batch(dsm, gs, h0, r, C.VIS_RES, C.VIS_MAX_DIST,
                        1, C.VGVI_M, C.VGVI_B)[0]
    assert row.vgvi == want


def test_vgvi_polygons_masked_grid(spark):
    """POLYGON observers (vgvi_from_sf.R:199-210): grid points inside
    the park disc only."""
    parks = world.parks_df(spark)
    got = visibility.vgvi_polygons(parks, spacing=50.0).toPandas()
    assert len(got) > 0
    assert ((got["vgvi"] >= 0) & (got["vgvi"] <= 1)).all()
    p = parks.toPandas().set_index("park_id")
    for pid, grp in got.groupby("park_id"):
        cx, cy, r = p.loc[pid, ["cx", "cy", "radius"]]
        d2 = (grp.gx * 50.0 - cx) ** 2 + (grp.gy * 50.0 - cy) ** 2
        assert (d2 <= r * r + 1e-6).all()


def test_partitions_track_observer_volume(spark, monkeypatch):
    """VERDICT r04 ask #6: the task target grows with the observers'
    source volume instead of being fixed at 2x cores — decided from
    the driver's file listing, with no count job."""
    from greenexp_r_spark.plans import widen
    base = max(4, 2 * spark.sparkContext.defaultParallelism)
    pts = world.points_df(spark, SF_TEST)
    tiny = pts.limit(3)
    # a small source, or a frame with no file source at all: base,
    # also below base rows (empty tasks cost almost nothing)
    assert visibility.vgvi_points(tiny, sample_mod=1) \
        .rdd.getNumPartitions() == base
    assert widen.pass_tasks(spark.range(1)) == base
    # a filtered frame gets its whole source's target
    assert widen.pass_tasks(pts.where("point_id % 100 = 0")) == \
        widen.pass_tasks(pts)
    per_task = widen.PASS_ROWS_PER_TASK * widen.PASS_ROW_BYTES
    for n_tasks in (base, base + 1, 10 * base):
        monkeypatch.setattr(widen, "source_bytes",
                            lambda df, b=n_tasks * per_task: b)
        assert widen.pass_tasks(pts) == n_tasks
        assert visibility.viewshed_metrics(pts) \
            .rdd.getNumPartitions() == n_tasks
