"""Cell-index kNN must equal euclidean_access' kernel route exactly,
including the out-of-range fallback."""

from __future__ import annotations

import numpy as np

from greenexp_r_spark import world
from greenexp_r_spark.operators import accessibility, knn_cells

from .conftest import SF_TEST


def _compare(spark, search_radius):
    pts = world.points_df(spark, SF_TEST)
    parks = world.parks_df(spark)
    a = (accessibility.euclidean_access(pts, parks).toPandas()
         .sort_values("point_id").reset_index(drop=True))
    b = (knn_cells.euclidean_access_cells(
            pts, parks, search_radius=search_radius).toPandas()
         .sort_values("point_id").reset_index(drop=True))
    assert a["point_id"].tolist() == b["point_id"].tolist()
    np.testing.assert_array_equal(a["closest_greenspace"].to_numpy(),
                                  b["closest_greenspace"].to_numpy())
    np.testing.assert_array_equal(a["greenspace_in_buffer"].to_numpy(),
                                  b["greenspace_in_buffer"].to_numpy())


def test_cell_knn_equals_broadcast(spark):
    _compare(spark, search_radius=4000.0)


def test_cell_knn_fallback_small_radius(spark):
    # tiny radius forces the fallback path for most points — results
    # must still be exact
    _compare(spark, search_radius=800.0)
