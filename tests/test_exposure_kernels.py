"""The exposure pipeline's batch kernels against the formulations they
replaced, kept here as test oracles:

* the row-interval NDVI disc sums (kernels/ndvi_intervals.py) against
  a brute-force enumeration of every cell of the clipped square, and
  ndvi_zonal against the explode-and-aggregate plan over
  covered_cells;
* the VGVI batch reduction against the per-observer loop, the
  separable patch synthesis against the full (n, (2r+1)²) evaluation
  and the level-wise LoS-trie viewshed against the sequential ray
  sweep, bit for bit at r=40 over 2,000 geocoded observers;
* the traced peak of the exposure kernel against the kernel budget;
* widen() on a source whose size cannot be read.
"""

from __future__ import annotations

import tracemalloc

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from greenexp_r_spark import api, constants as C, world
from greenexp_r_spark.kernels import budget, exposure as XK
from greenexp_r_spark.kernels import ndvi_intervals as NI
from greenexp_r_spark.kernels import vgvi as K, worldgrid as W
from greenexp_r_spark.operators import availability

from .test_lostrie import ray_sweep


# ------------------------------------------------ interval disc sums

def brute_disc_sums(x, y, buffer_m, res=C.NDVI_RES):
    """Every cell of covered_cells' square, the same float predicate."""
    r = float(buffer_m)
    out = np.zeros((3, len(x)), np.int64)
    for i, (xi, yi) in enumerate(zip(x, y)):
        ci = np.arange(np.floor((xi - r) / res), np.floor((xi + r) / res)
                       + 1).astype(np.int64)[None, :]
        cj = np.arange(np.floor((yi - r) / res), np.floor((yi + r) / res)
                       + 1).astype(np.int64)[:, None]
        ccx, ccy = (ci + 0.5) * res, (cj + 0.5) * res
        m = (ccx - xi) * (ccx - xi) + (ccy - yi) * (ccy - yi) <= r ** 2
        ci, cj = np.broadcast_arrays(ci, cj)
        v = NI.ndvi_int(ci[m], cj[m])
        out[:, i] = v.sum(), (v * v).sum(), m.sum()
    return out


def _check(x, y, buffer_m, tiles=None):
    x, y = np.asarray(x, float), np.asarray(y, float)
    got = np.array(NI.disc_sums(x, y, buffer_m,
                                tiles=tiles or NI.PrefixTiles()))
    np.testing.assert_array_equal(got, brute_disc_sums(x, y, buffer_m))


def test_ndvi_int_matches_sql_field(spark):
    ci = np.array([-2001, -1, 0, 7, 1999, 123_456_789])
    cj = np.array([5, -1, 0, -300, 1999, -987_654])
    df = spark.createDataFrame(
        pd.DataFrame({"ci": ci, "cj": cj})).select(
        "ci", "cj", F.expr(world.ndvi_int_expr("ci", "cj")).alias("v"))
    got = df.toPandas().sort_values("ci")
    np.testing.assert_array_equal(got["v"].to_numpy(),
                                  NI.ndvi_int(got["ci"].to_numpy(),
                                              got["cj"].to_numpy()))


def test_grid_aligned_centres():
    # on cell centres, cell corners and cell edges
    g = np.arange(0, 40) * 5.0 + 1000.0
    _check(g, g[::-1], 300)
    _check(g, g, 45)


@pytest.mark.parametrize("buffer_m", [50, 250, 650])
def test_chord_ends_on_the_boundary(buffer_m):
    # centres on cell centres: (30, 40, 50)/(70, 240, 250)/... triples
    # put cell centres exactly at distance R, which must count
    x = np.array([105.0, 5005.0, 12345.0, 7775.0])
    y = np.array([105.0, 8995.0, 4445.0, 7775.0])
    _check(x, y, buffer_m)


def test_negative_cell_indices_near_origin():
    x = np.array([0.0, 3.0, 0.0, 150.0, -20.0, 299.99])
    y = np.array([0.0, 0.0, 7.5, -150.0, 10.0, 0.01])
    _check(x, y, 300)


def test_far_outside_and_far_apart_in_one_batch():
    x = np.array([-9.9e6, 5000.0, 3.3e7, 12.0, -4.2e5, 19_999.0])
    y = np.array([7.7e6, 5000.0, -2.1e7, 19_999.0, -4.2e5, 3.0])
    _check(x, y, 300)


def test_other_buffers_and_resolutions():
    rng = np.random.default_rng(5)
    x, y = rng.uniform(-1000, 21000, (2, 60))
    for buffer_m in (0.3, 4.0, 37.5, 1000):
        _check(x, y, buffer_m)
    np.testing.assert_array_equal(
        np.array(NI.disc_sums(x, y, 100, res=7, tiles=NI.PrefixTiles())),
        np.array(NI.disc_sums(x, y, 100, res=7.0,
                              tiles=NI.PrefixTiles())))


def test_prefix_memory_capped_on_scattered_input():
    """Scattered points need ~4 tiles each, 2,400 in all: a 16-tile
    cache must halve its runs of points until each fits, and never
    hold more than its cap — and the default cache is CACHE_BYTES."""
    rng = np.random.default_rng(9)
    x, y = rng.uniform(-5e7, 5e7, (2, 600))
    tiles = NI.PrefixTiles(16)
    _check(x, y, 300, tiles)
    assert len(tiles.slots) <= 16
    assert tiles.store.nbytes == 16 * NI.CACHE_BYTES // NI.MAX_TILES
    assert NI.PrefixTiles().store.nbytes == NI.CACHE_BYTES < 70 << 20


def test_cache_too_small_for_one_disc_raises():
    with pytest.raises(ValueError, match="prefix tiles"):
        NI.disc_sums(np.array([0.0]), np.array([0.0]), 2000,
                     tiles=NI.PrefixTiles(4))


def _explode_ndvi(points, buffer_m, add_sd):
    """ndvi_zonal as the explode plan computed it."""
    cells = availability.covered_cells(points.select("point_id", "x", "y"),
                                       buffer_m, C.NDVI_RES)
    v = F.expr(world.ndvi_int_expr("ci", "cj"))
    g = cells.groupBy("point_id").agg(F.sum(v).alias("s1"),
                                      F.sum(v * v).alias("s2"),
                                      F.count(F.lit(1)).alias("n_cells"))
    n = F.col("n_cells").cast("double")
    s1, s2 = F.col("s1").cast("double"), F.col("s2").cast("double")
    sd = [(F.sqrt((s2 - s1 * s1 / n) / (n - F.lit(1.0)))
           / F.lit(800.0)).alias("sd_ndvi")] if add_sd else []
    return g.select(
        "point_id",
        (s1 / (F.lit(800.0) * F.col("n_cells"))).alias("mean_ndvi"),
        *sd, "n_cells")


def _sorted(df):
    return df.toPandas().sort_values("point_id").reset_index(drop=True)


@pytest.mark.parametrize("buffer_m, add_sd",
                         [(3.0, False), (150, True), (333.3, True)])
def test_calc_ndvi_other_buffers_match_explode_plan(spark, buffer_m,
                                                    add_sd):
    """Through api.py: duplicate ids merge, a null coordinate or a
    disc holding no cell centre yields no row — as the explode did.
    (A one-cell disc has no sample sd: n - 1 = 0 divides by zero.)"""
    pts = spark.createDataFrame(
        [(1, 5.0, 5.0), (2, 1234.5, 9876.5), (3, -40.0, 7.0),
         (3, 19_990.0, 19_990.0), (4, 0.0, 0.0), (5, None, 1.0),
         (6, 2e6, -3e5), (7, 104.0, 4.0), (8, 10.0, 10.0)],
        "point_id long, x double, y double")
    pts = pts.union(world.synthetic_points(spark, 300)
                    .select("point_id", "x", "y"))
    got = _sorted(api.calc_ndvi(pts, buffer_m, add_sd))
    want = _sorted(_explode_ndvi(pts, buffer_m, add_sd))
    pd.testing.assert_frame_equal(got, want, check_exact=True)


# ----------------------------------------------------- VGVI kernels

R40 = int(round(C.VIS_MAX_DIST / C.VIS_RES))


def _old_patches(xs, ys, r, res):
    """observer_patches as it evaluated every patch cell."""
    nc = 2 * r + 1
    ccx = (np.floor(xs / res) + 0.5) * res
    ccy = (np.floor(ys / res) + 0.5) * res
    offs = (np.arange(nc) - r) * res
    px = ccx[:, None, None] + offs[None, None, :]
    py = ccy[:, None, None] - offs[None, :, None]
    px = np.broadcast_to(px, (len(xs), nc, nc)).reshape(len(xs), -1)
    py = np.broadcast_to(py, (len(xs), nc, nc)).reshape(len(xs), -1)
    reach = (r + 1) * res * float(np.sqrt(2.0))
    park = np.zeros(px.shape, dtype=bool)
    for cx, cy, rad in W.park_discs():
        rows = np.nonzero((ccx - cx) ** 2 + (ccy - cy) ** 2
                          <= (rad + reach) ** 2)[0]
        park[rows] |= ((px[rows] - cx) ** 2 + (py[rows] - cy) ** 2
                       <= rad * rad)
    h = (np.floor(px / W.BLOCK).astype(np.int64) * W.BH_MUL1
         + np.floor(py / W.BLOCK).astype(np.int64) * W.BH_MUL2) % W.BH_MOD
    building = np.where(h % 7 < 2, 6.0 + (h % 25).astype(float), 0.0)
    base = 10.0 + 5.0 * np.sin(px / 2000.0) * np.sin(py / 2000.0)
    dsm = np.where(park, base, base + building)
    return dsm, park, W.dtm(ccx, ccy) + C.OBSERVER_HEIGHT


def _old_reduction(vis, gs_int, ring, radius, fun, m, b):
    """vgvi_batch's per-observer loop after the viewshed."""
    out = np.zeros(len(vis))
    for o in range(len(vis)):
        vcells = np.nonzero(vis[o])[0]
        rings = ring[vcells]
        max_d = int(rings.max())
        total = np.bincount(rings - 1, minlength=max_d)
        gsum = np.bincount(rings - 1, weights=gs_int[o, vcells],
                           minlength=max_d).astype(np.int64)
        total = np.where(total == 0, 1, total)
        if max_d == 1:
            out[o] = float(gsum[0] // total[0])
            continue
        raw = gsum.astype(float) / total
        w = K.decay_weights(max_d, radius, fun, m, b)
        out[o] = float((raw * (w / w.sum())).sum())
    return out


@pytest.fixture(scope="module")
def observers():
    """2,000 geocoded observers: every 10th page id, world LCG."""
    pid = np.arange(0, 20_000, 10, dtype=np.int64)
    x = ((pid * C.X_MUL + C.X_ADD) % C.P31) % C.WORLD_SIZE
    y = ((pid * C.Y_MUL + C.Y_ADD) % C.P31) % C.WORLD_SIZE
    return x.astype(float), y.astype(float)


def test_viewshed_matches_ray_sweep_exposure_observers(observers):
    xs, ys = observers
    step = K.obs_per_chunk(R40)
    for lo in range(0, len(xs), step):
        sl = slice(lo, lo + step)
        dsm, _, h0 = W.observer_patches(xs[sl], ys[sl], R40, C.VIS_RES)
        got = K.viewshed_batch(dsm, h0, R40)
        assert got.tobytes() == ray_sweep(dsm, h0, R40).tobytes()


def test_separable_patches_byte_identical(observers):
    xs, ys = observers
    step = K.obs_per_chunk(R40)
    for lo in range(0, len(xs), step):
        sl = slice(lo, lo + step)
        got = W.observer_patches(xs[sl], ys[sl], R40, C.VIS_RES)
        want = _old_patches(xs[sl], ys[sl], R40, C.VIS_RES)
        for g, w in zip(got, want):
            assert g.shape == w.shape and g.tobytes() == w.tobytes()


def test_building_height_table_matches_hash_rule():
    rng = np.random.default_rng(3)
    x, y = rng.uniform(-3e4, 3e4, (2, 200_000))
    h = (np.floor(x / W.BLOCK).astype(np.int64) * W.BH_MUL1
         + np.floor(y / W.BLOCK).astype(np.int64) * W.BH_MUL2) % W.BH_MOD
    want = np.where(h % 7 < 2, 6.0 + (h % 25).astype(float), 0.0)
    assert W.building_height(x, y).tobytes() == want.tobytes()


def _rings(r, res):
    """Each patch cell's 1-based neighbour (vgvi_batch's quirk: it may
    run off the patch) and that neighbour's ring index."""
    nc = 2 * r + 1
    shifted = np.arange(nc * nc) + 1
    s_rows, s_cols = divmod(shifted, nc)
    d = np.sqrt(((r + 0.5) * res - (s_cols + 0.5) * res) ** 2
                + (-(r + 0.5) * res + (s_rows + 0.5) * res) ** 2)
    return shifted, np.maximum(np.floor(d + 0.5).astype(np.int64), 1)


@pytest.mark.parametrize("fun", [1, 2])
def test_vgvi_reduction_bit_identical(observers, fun):
    xs, ys = observers
    r, res = R40, C.VIS_RES
    radius, m, b = C.VIS_MAX_DIST, C.VGVI_M, C.VGVI_B
    shifted, ring = _rings(r, res)
    ncell = len(ring)
    step = K.obs_per_chunk(R40)
    for lo in range(0, len(xs), step):
        sl = slice(lo, lo + step)
        dsm, gs, h0 = W.observer_patches(xs[sl], ys[sl], r, res)
        got = K.vgvi_batch(dsm, gs, h0, r, res, radius, fun, m, b)
        gs_int = np.zeros(gs.shape, np.int64)
        ok = shifted < ncell
        gs_int[:, ok] = gs[:, shifted[ok]].astype(np.int64)
        vis = K.viewshed_batch(dsm, h0, r)
        want = _old_reduction(vis, gs_int, ring, radius, fun, m, b)
        assert got.tobytes() == want.tobytes()


def test_vgvi_reduction_max_d_one():
    """A fully blocked observer sees only its own cell; at 1 m cells
    its one ring is ring 1, so max_d == 1 takes the integer-division
    branch, in a batch with open observers."""
    r, nc, res = 3, 7, 1.0
    dsm = np.zeros((3, nc * nc))
    dsm[1] = 50.0
    gs = np.ones((3, nc * nc))
    h0 = np.array([1.7, 10.0, 1.7])
    got = K.vgvi_batch(dsm, gs, h0, r, res, 3.0, 1, 0.5, 8.0)
    shifted, ring = _rings(r, res)
    gs_int = (shifted < nc * nc).astype(np.int64)[None, :].repeat(3, 0)
    want = _old_reduction(K.viewshed_batch(dsm, h0, r), gs_int, ring,
                          3.0, 1, 0.5, 8.0)
    assert got.tobytes() == want.tobytes() and got[1] == 1.0


# ------------------------------------------------- kernel budget

# what score keeps per row (its input and output frames and the
# per-row columns between them), and how many budget-sized chunk
# temporaries may be live at once
FRAME_BYTES_PER_ROW = 256
LIVE_CHUNKS = 8


def _score_peak(n):
    pid = np.arange(n, dtype=np.int64)
    pdf = pd.DataFrame({
        "point_id": pid,
        "x": (((pid * C.X_MUL + C.X_ADD) % C.P31) % C.WORLD_SIZE) * 1.0,
        "y": (((pid * C.Y_MUL + C.Y_ADD) % C.P31) % C.WORLD_SIZE) * 1.0})
    discs = W.park_discs()
    # the prefix tiles are a worker-lifetime cache with their own cap
    # (test_prefix_memory_capped_on_scattered_input): load them first
    XK.score(pdf, discs[:, 0], discs[:, 1], sample_mod=10)
    tracemalloc.start()
    try:
        out = XK.score(pdf, discs[:, 0], discs[:, 1], sample_mod=10)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert out["vgvi"].notna().sum() == n // 10
    return peak


@pytest.mark.parametrize("n", [5_000, 20_000])
def test_score_memory_is_bounded_by_the_kernel_budget(n):
    """The exposure kernel's traced peak is its frames plus a few
    budget-sized chunks, however many rows and observers a batch
    holds.  With 500-observer VGVI patches and 2^18-chord NDVI chunks
    it was 117 MB at 5,000 rows and 169 MB at 20,000; in chunks sized
    by the budget it is ~9 and ~10 MB."""
    bound = LIVE_CHUNKS * budget.WORKSET_BYTES + FRAME_BYTES_PER_ROW * n
    assert _score_peak(n) <= bound


# ----------------------------------------------------------- widen

def test_widen_unknown_size_does_not_widen(spark, sf_dir, monkeypatch):
    """A source whose size cannot be read (s3a/hdfs paths under
    os.path.getsize) is left as scanned, not widened flat."""
    from greenexp_r_spark.plans import widen as Wd

    def no_size(path):
        raise OSError(f"cannot stat {path}")

    monkeypatch.setattr(Wd.os.path, "getsize", no_size)
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert Wd.widen(df) is df
    # no input files at all: the size is unknown too
    rng = spark.range(10)
    assert Wd.widen(rng) is rng
