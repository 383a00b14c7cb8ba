"""S4 scene-collection reduce: exact numpy-oracle parity, cloud-mask
propagation, and determinism under repartitioning."""

from __future__ import annotations

import numpy as np

from greenexp_r_spark.operators import collection
from greenexp_r_spark.sources import tiles as T

N_SCENES = 6
RES = 100   # coarse tiles → 1-2 tiles per axis, fast full replay


def _oracle_tile(tx, ty):
    vals = np.stack([
        T.scene_tile_values(s, tx, ty, RES).astype(np.int64)
        for s in range(N_SCENES)])
    mask = vals != T.NA_SENTINEL
    cnt = mask.sum(axis=0)
    s = np.where(mask, vals, 0).sum(axis=0)
    mean = np.where(cnt > 0, s / np.maximum(cnt, 1), np.nan)
    return mean, cnt


def test_collection_mean_matches_numpy_oracle(spark):
    sc = T.scene_tiles_df(spark, N_SCENES, res=RES)
    comp = collection.collection_mean(sc).toPandas()
    assert len(comp) == (T.n_tiles(RES) + 2) ** 2
    for _, row in comp.iterrows():
        want_mean, want_cnt = _oracle_tile(row["tx"], row["ty"])
        got = np.array([np.nan if v is None else v
                        for v in row["mean_x800"]])
        assert np.array_equal(row["n_scenes"], want_cnt)
        assert np.allclose(got, want_mean, equal_nan=True, rtol=0,
                           atol=0)   # exact: integer sum / count


def test_all_cloudy_cells_stay_null(spark):
    sc = T.scene_tiles_df(spark, 1, res=RES)   # single scene: every
    comp = collection.collection_mean(sc).toPandas()   # cloud → null
    row = comp.iloc[0]
    vals = T.scene_tile_values(0, int(row["tx"]), int(row["ty"]), RES)
    nulls = sum(1 for v in row["mean_x800"]
                if v is None or (isinstance(v, float) and np.isnan(v)))
    assert nulls == int((vals == T.NA_SENTINEL).sum()) > 0


def test_reduce_deterministic_under_repartition(spark):
    sc = T.scene_tiles_df(spark, N_SCENES, res=RES)
    a = (collection.collection_mean(sc).select("tile_id", "mean_x800")
         .toPandas().sort_values("tile_id").reset_index(drop=True))
    b = (collection.collection_mean(sc.repartition(13))
         .select("tile_id", "mean_x800")
         .toPandas().sort_values("tile_id").reset_index(drop=True))
    def arr(v):
        return np.array([np.nan if x is None else x for x in v])
    for x, y in zip(a["mean_x800"], b["mean_x800"]):
        assert np.allclose(arr(x), arr(y), equal_nan=True,
                           rtol=0, atol=0)


def test_qa_stats(spark):
    sc = T.scene_tiles_df(spark, N_SCENES, res=RES)
    # per-tile valid observations: the sum of the per-cell scene counts
    qa = collection.collection_mean(sc).select("tile_id", "n_scenes") \
        .toPandas()
    n_obs = qa["n_scenes"].map(sum)
    n_cells = T.TILE_CELLS ** 2
    assert (n_obs <= N_SCENES * n_cells).all()
    assert (n_obs >= (N_SCENES - 1) * n_cells * 0.8).all()


def test_reduce_summary_matches_numpy(spark):
    """q_collection_reduce checksums: s recovered from the published
    mean must equal the direct integer sums (floor(mean*cnt+0.5))."""
    sc = T.scene_tiles_df(spark, N_SCENES, res=RES, tile_ids=[0, 3])
    out = (collection.collection_reduce_summary(sc)
           .toPandas().set_index("tile_id").sort_index())
    assert sorted(out.index) == [0, 3]
    nt = T.n_tiles(RES) + 2
    for tid in (0, 3):
        tx, ty = tid % nt - 1, tid // nt - 1
        vals = np.stack([
            T.scene_tile_values(s, tx, ty, RES).astype(np.int64)
            for s in range(N_SCENES)])
        mask = vals != T.NA_SENTINEL
        cnt = mask.sum(axis=0)
        s = np.where(mask, vals, 0).sum(axis=0)
        row = out.loc[tid]
        assert row.n_valid == int((cnt > 0).sum())
        assert row.n_all_cloudy == int((cnt == 0).sum())
        assert row.n_obs_total == int(cnt.sum())
        assert row.sum_vals == int(s.sum())
        assert row.cross_sum == int((s * cnt).sum())


def test_scene_tiles_tile_ids_prune(spark):
    sc = T.scene_tiles_df(spark, 2, res=RES, tile_ids=[1])
    pdf = sc.toPandas()
    assert sorted(pdf["tile_id"].unique()) == [1]
    assert sorted(pdf["scene_id"]) == [0, 1]
