"""Viewshed + VGVI compute kernels (SURVEY.md V4-V7), restated from
GreenExp_R src/viewshed.cpp:49-161, src/vgvi.cpp:19-228 and
src/integrate.cpp:6-33 in numpy, vectorized across a *batch of
observers* (the reference's OpenMP per-observer loop becomes Spark
partition parallelism × in-task numpy batching).

Faithfully replicated reference quirks (documented, deliberate):
  * shared-prefix tangent reuse with the `k_i == 1` reset: when a ray
    diverges from its predecessor at index 1, the running max restarts
    at -9999 instead of inheriting cell 0's tangent (vgvi.cpp:86-88);
    the effect propagates through max_tan_vec to later rays, so we
    emulate the exact sequential ray order.
  * visible cells are stored 1-based (cell+1, vgvi.cpp:70,117) and fed
    to a 0-based xyFromCell (vgvi.cpp:140-141, rasterutils.cpp:70-85),
    shifting every visible cell's coordinates one cell to the right
    when computing ring distances and greenspace lookups.
  * ring index = round-half-away(euclid meters), floored at 1
    (vgvi.cpp:143-152); empty rings get total=1 (vgvi.cpp:181-185).
  * max_d == 1 short-circuit uses C++ integer division
    (vgvi.cpp:188-191).
  * decay weight per ring = trapezoid integral (n=200) of the logit or
    exponential kernel over [d - 1/radius, d] (vgvi.cpp:199-213,
    integrate.cpp:13-33).

The kernel operates on per-observer square patches of (2r+1)² cells
centered on the observer cell — equivalent to the reference run on a
perfectly-centered crop, the geometry vgvi_from_sf.R:217-230 produces
for interior observers.
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np

from . import lostrie
from .budget import chunk_rows

NEG = -9999.0


def obs_per_chunk(r: int) -> int:
    """Observers per kernel call at radius r: the budget over one
    observer's row of the sweep's tangents (8 bytes a trie node)."""
    return chunk_rows(8 * len(_trie_levels(r)[1]))


@lru_cache(maxsize=64)
def decay_weights(max_d: int, radius: float, fun: int, m: float,
                  b: float) -> np.ndarray:
    """Per-ring decay weights w[0..max_d-1] (vgvi.cpp:199-213):
    trapezoid integral with n=200 of f over [d - min_dist, d] where
    d = ring/radius and min_dist = 1/radius.  Cached: every kernel
    call of one radius reuses them (callers must not write to them)."""
    n = 200
    d = np.arange(1, max_d + 1, dtype=float) / radius
    min_dist = d[0]
    lower = d - min_dist
    h = (d - lower) / n                      # scalar per ring
    # x grid: (max_d, n+1)
    x = lower[:, None] + np.arange(n + 1)[None, :] * h[:, None]
    if fun == 1:
        y = 1.0 / (1.0 + np.exp(b * (x - m)))
    else:
        y = 1.0 / (1.0 + b * np.power(x, m))
    mid = (y[:, 1:n] * h[:, None]).sum(axis=1)
    return h / 2.0 * (y[:, 0] + y[:, n]) + mid


@lru_cache(maxsize=4)
def _trie_levels(r: int):
    """The LoS trie of radius r (kernels/lostrie.py), its nodes
    renumbered depth by depth: each depth's (start, stop) node range;
    each node's parent (-1 for a root), patch cell and distance in
    cells; the node ids grouped by cell (1-5 a cell at r=40), each
    group's start and cell."""
    _, parent, dx, dy = lostrie.los_trie(r)
    depth = np.zeros(len(parent), np.int64)
    for i, p in enumerate(parent):    # parents precede children
        if p >= 0:
            depth[i] = depth[p] + 1
    order = np.argsort(depth, kind="stable")
    new_id = np.empty_like(order)
    new_id[order] = np.arange(len(order))
    parent = np.where(parent[order] >= 0, new_id[parent[order]], -1)
    dx, dy = dx[order], dy[order]
    bounds = np.searchsorted(depth[order], np.arange(depth.max() + 2))
    levels = list(zip(bounds[:-1].tolist(), bounds[1:].tolist()))
    cell = (r - dy) * (2 * r + 1) + (dx + r)
    # the float operations of sqrt((x0-col)² + (y0-row)²),
    # viewshed.cpp:146-149
    dist = np.sqrt(dx.astype(float) ** 2 + dy.astype(float) ** 2)
    by_cell = np.argsort(cell, kind="stable")
    cells, starts = np.unique(cell[by_cell], return_index=True)
    return levels, parent, cell, dist, by_cell, starts, cells


def viewshed_batch(dsm_patches: np.ndarray, h0: np.ndarray,
                   r: int) -> np.ndarray:
    """Vectorized max-tangent sweep for a batch of observers.

    dsm_patches: (n_obs, (2r+1)²) row-major patch heights, observer at
    the center cell.  h0: (n_obs,) eye heights.  Returns a boolean
    (n_obs, (2r+1)²) visibility mask (center always visible).

    The reference's ray sweep with the shared max_tan_vec (k_i==1 reset
    included) is the static LoS trie of kernels/lostrie.py, swept one
    depth at a time (r steps, not 8r rays); arrays are node-major
    (nodes, observers) with each depth's nodes contiguous, so a depth
    is a slice and parent gathers read contiguous rows.  The
    mask is the ray sweep's bit for bit (tests/test_lostrie.py).
    """
    nobs = dsm_patches.shape[0]
    nc = 2 * r + 1
    c0 = r * nc + r
    vis = np.zeros((nobs, nc * nc), dtype=bool)
    vis[:, c0] = True

    # observers whose eye is below their own DSM cell see only c0
    active = h0 > dsm_patches[:, c0]
    if not active.any():
        return vis
    act_idx = np.nonzero(active)[0]
    levels, parent, cell, dist, by_cell, starts, cells = _trie_levels(r)
    # tangent of every (node, observer)
    t = dsm_patches[act_idx].T[cell]
    t -= h0[act_idx][None, :]
    t /= dist[:, None]
    # each depth in turn: seen where the tangent beats the running
    # maximum of the ancestors, then t becomes that running maximum
    seen = np.empty(t.shape, dtype=bool)
    for d, (lo, hi) in enumerate(levels):
        tl = t[lo:hi]
        prev = t[parent[lo:hi]] if d else NEG
        np.greater(tl, prev, out=seen[lo:hi])
        np.maximum(prev, tl, out=tl)
    # a cell is visible when any node carrying it is
    seen = seen[by_cell]
    hit = seen[starts]
    more = np.diff(np.append(starts, len(by_cell)))
    for k in range(1, int(more.max())):
        g = np.nonzero(more > k)[0]
        hit[g] |= seen[starts[g] + k]
    out = np.zeros((nc * nc, len(act_idx)), dtype=bool)
    out[cells] = hit
    out[c0] = True
    vis[act_idx] = out.T
    return vis


@lru_cache(maxsize=4)
def _shifted_rings(r: int, res: float) -> np.ndarray:
    """The ring index of each patch cell's 1-based neighbour (see
    vgvi_batch); cached per (r, res), read-only."""
    nc = 2 * r + 1
    shifted = np.arange(nc * nc) + 1
    s_rows, s_cols = divmod(shifted, nc)      # may run off the last row
    # patch-center xy in patch coordinates (cell units → meters)
    sx = (s_cols + 0.5) * res
    sy = -(s_rows + 0.5) * res                # ymax - (row+0.5)res, ymax=0
    ox = (r + 0.5) * res
    oy = -(r + 0.5) * res
    d_m = np.sqrt((ox - sx) ** 2 + (oy - sy) ** 2)
    ring = np.floor(d_m + 0.5).astype(np.int64)   # round half away (d>0)
    return np.maximum(ring, 1)


def vgvi_batch(dsm_patches: np.ndarray, gs_patches: np.ndarray,
               h0: np.ndarray, r: int, res: float, radius: float,
               fun: int, m: float, b: float) -> np.ndarray:
    """VGVI per observer (vgvi.cpp part B), given patch heights,
    greenspace mask patches (bool, or 0/1 floats) and eye heights.
    Returns (n_obs,) VGVI.  The mask is read at visible cells only."""
    nobs = dsm_patches.shape[0]
    nc = 2 * r + 1
    ncell = nc * nc
    vis = viewshed_batch(dsm_patches, h0, r)

    # --- the reference's 1-based-cell quirk: coordinates of visible
    # cells are taken from cell+1 (vgvi.cpp:117,140), the observer's
    # own coordinates from the true cell (vgvi.cpp:141).
    # Extent note: VGVI_cpp's output depends on the raster crop it is
    # handed (cell+1 walks the flattened array of WHATEVER extent the
    # caller cropped).  This kernel reproduces the single-observer
    # crop rendering — cell+1 at a row's right edge wraps to the next
    # patch row, exactly as VGVI_cpp does on a width-(2r+1) raster.
    # vgvi_from_sf.R:217-230 crops to the bbox of the *whole observer
    # set*, so multi-observer reference runs read a different (true
    # right-neighbor) cell there; parity is defined against the
    # per-observer crop, the only extent that is observer-independent.
    ring = _shifted_rings(r, float(res))

    # per-(observer, ring) visible-cell and green counts in one pass
    obs, cell = np.nonzero(vis)
    # greenspace value at the shifted coordinates → shifted cell, 0 if
    # off-patch (cellFromXY → NA → 0, vgvi.cpp:158-162), truncated to
    # int (the reference's int accumulation)
    sc = cell + 1
    green = np.where(sc < ncell,
                     gs_patches[obs, np.minimum(sc, ncell - 1)], 0.0) \
        .astype(np.int64)
    kd = int(ring.max())
    key = obs * kd + ring[cell] - 1
    total = np.bincount(key, minlength=nobs * kd).reshape(nobs, kd)
    gsum = np.bincount(key, weights=green,
                       minlength=nobs * kd).reshape(nobs, kd) \
        .astype(np.int64)
    max_d = kd - np.argmax(total[:, ::-1] > 0, axis=1)
    total = np.where(total == 0, 1, total)
    # observers sharing max_d share the decay weights; each one's
    # normalised sum runs over exactly its max_d rings
    out = np.zeros(nobs)
    for d in np.unique(max_d):
        g = max_d == d
        if d == 1:
            out[g] = gsum[g, 0] // total[g, 0]    # C++ int division
            continue
        w = decay_weights(int(d), radius, fun, m, b)
        raw = gsum[g, :d].astype(float) / total[g, :d]
        out[g] = (raw * (w / w.sum())).sum(axis=1)
    return out
