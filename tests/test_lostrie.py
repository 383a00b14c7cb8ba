"""The level-wise LoS-trie viewshed (kernels/vgvi.viewshed_batch) ≡
the reference's sequential ray sweep on random height fields — the
exactness bridge behind the q_viewshed_flat SQL oracle."""

from __future__ import annotations

import numpy as np

from greenexp_r_spark.kernels import bresenham, lostrie
from greenexp_r_spark.kernels.vgvi import NEG, viewshed_batch


def ray_sweep(dsm_patches, h0, r):
    """viewshed_batch as it stepped through the 8r rays in the
    reference's order, carrying max_tan_vec between rays (including
    the k_i==1 reset): the oracle of the level-wise trie sweep."""
    nobs = dsm_patches.shape[0]
    nc = 2 * r + 1
    c0 = r * nc + r
    ref = bresenham.los_reference(r)
    starts = bresenham.shared_los(r)
    vis = np.zeros((nobs, nc * nc), dtype=bool)
    vis[:, c0] = True
    active = h0 > dsm_patches[:, c0]
    if not active.any():
        return vis
    rows, cols = divmod(np.arange(nc * nc), nc)
    dist = np.sqrt((r - cols).astype(float) ** 2
                   + (r - rows).astype(float) ** 2)
    act_idx = np.nonzero(active)[0]
    hp = dsm_patches[act_idx]
    h0a = h0[act_idx]
    na = len(act_idx)
    max_tan_vec = np.full((na, r), NEG)
    for i in range(8 * r):
        cells = ref[i]
        n_valid = int((cells != bresenham.NA).sum())
        if n_valid == 0:
            continue
        cells_v = cells[:n_valid]
        k = int(starts[i])
        if k >= n_valid:
            continue
        t = (hp[:, cells_v[k:]] - h0a[:, None]) / dist[cells_v[k:]][None, :]
        init = max_tan_vec[:, k - 1] if k > 1 else np.full(na, NEG)
        run = np.maximum.accumulate(
            np.concatenate([init[:, None], t], axis=1), axis=1)
        vis[np.ix_(act_idx, cells_v[k:])] |= t > run[:, :-1]
        max_tan_vec[:, k:n_valid] = run[:, 1:]
    return vis


def test_trie_matches_kernel_random_fields():
    rng = np.random.RandomState(7)
    for r in (3, 5, 12, 20):
        nc = 2 * r + 1
        h = np.where(rng.rand(8, nc * nc) < 0.25,
                     rng.randint(3, 12, (8, nc * nc)).astype(float), 0.0)
        # active and blocked observers in one batch
        h0 = 1.7 + h[:, r * nc + r] * (np.arange(8) % 2)
        got = viewshed_batch(h, h0, r)
        assert got.tobytes() == ray_sweep(h, h0, r).tobytes(), r


def test_trie_parents_precede_children():
    nid, parent, dx, dy = lostrie.los_trie(8)
    assert (parent < nid).all()
    assert (np.abs(dx) <= 8).all() and (np.abs(dy) <= 8).all()
