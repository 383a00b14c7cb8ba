"""Numpy renderings of the synthetic world's visibility rasters
(FIXTURES.md §5): DTM (gentle terrain), DSM (terrain + hash-placed
buildings outside parks), greenspace mask (1 inside park discs).

These feed the viewshed/VGVI kernels; they are deliberately smooth /
closed-form so any patch can be synthesized inside a task without a
tile shuffle, and so the pure-python oracle in tests can recompute
identical values.  The tile-table variant (sources/tiles.py) material-
izes the same fields as array<float> tiles for the raster-join path.
"""

from __future__ import annotations

import numpy as np

from .. import constants as C

BLOCK = 20            # building block size, meters
BH_MUL1, BH_MUL2 = 73_856_093, 83_492_791
BH_MOD = 2_147_483_647


def park_discs() -> np.ndarray:
    """(n_parks, 3) array of (cx, cy, radius) — mirrors world.parks_sql
    exactly (same integer arithmetic)."""
    pid = np.arange(C.N_PARKS, dtype=np.int64)
    hot = pid % C.PARK_HOT_FRACTION_MOD < 7
    hx = np.array(C.PARK_HOT_X, dtype=np.int64)[pid % 3]
    hy = np.array(C.PARK_HOT_Y, dtype=np.int64)[pid % 3]
    cx = np.where(
        hot,
        hx + (pid * C.PARK_CX_MUL + C.PARK_CX_ADD) % C.PARK_SPREAD - 1200,
        (pid * C.PARK_FAR_MUL + C.PARK_FAR_ADD) % 19000 + 500)
    cy = np.where(
        hot,
        hy + (pid * C.PARK_CY_MUL + C.PARK_CY_ADD) % C.PARK_SPREAD - 1200,
        (pid * C.PARK_FARY_MUL + C.PARK_FARY_ADD) % 19000 + 500)
    r = np.where(pid % C.PARK_SMALL_MOD == 0, 8.0,
                 40.0 + (pid * C.PARK_R_MUL) % C.PARK_R_MOD)
    return np.stack([cx.astype(float), cy.astype(float), r], axis=1)


def in_park(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Boolean mask: point inside any park disc."""
    discs = park_discs()
    out = np.zeros(x.shape, dtype=bool)
    for cx, cy, r in discs:
        out |= (x - cx) ** 2 + (y - cy) ** 2 <= r * r
    return out


def dtm(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    return 10.0 + 5.0 * np.sin(x / 2000.0) * np.sin(y / 2000.0)


# a block's height from its hash h: 6 + h % 25 m where h % 7 < 2,
# else none — a function of h mod lcm(7, 25)
_HEIGHT_BY_H175 = np.where(np.arange(175) % 7 < 2,
                           6.0 + np.arange(175) % 25, 0.0)


def building_height(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Hash-placed buildings on a 20 m block grid: ~28% of blocks carry
    a 6–30 m building; parks are kept building-free by dsm()."""
    bx = np.floor(x / BLOCK).astype(np.int64)
    by = np.floor(y / BLOCK).astype(np.int64)
    h = (bx * BH_MUL1 + by * BH_MUL2) % BH_MOD
    return _HEIGHT_BY_H175[h % 175]


def dsm(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    base = dtm(x, y)
    b = building_height(x, y)
    park = in_park(x, y)
    return np.where(park, base, base + b)


def greenspace(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    return in_park(x, y).astype(float)


def patch_fields(cx: np.ndarray, ry: np.ndarray,
                 ox: np.ndarray, oy: np.ndarray,
                 reach: float) -> tuple[np.ndarray, np.ndarray]:
    """(dsm, park), each (n_obs, n_rows·n_cols), for per-observer
    patches whose cell (row, col) sits at (cx[:, col], ry[:, row]):
    the float64 heights of dsm() and the bool mask whose 0/1 floats
    are greenspace().

    Every field is separable, so the sines, the building-block hash
    terms and the park-disc distances are evaluated once per column
    and once per row, then broadcast — the same IEEE operations, so
    the values are those of dsm()/greenspace() at each cell centre.
    The DSM is the terrain plus the block heights zeroed inside parks,
    added in place: base + 0.0 is base exactly (base ≥ 5).  A park is
    tested only against observers its disc can reach (centre distance
    ≤ radius + reach), the same candidate pruning as the J7 join,
    applied inside the kernel."""
    n = len(cx)
    col = lambda a: a[:, None, :]
    row = lambda a: a[:, :, None]
    dsm = 10.0 + col(5.0 * np.sin(cx / 2000.0)) * row(np.sin(ry / 2000.0))
    # building_height's hash as (column term + row term) mod BH_MOD,
    # each term reduced first (their sum fits uint32)
    hx, hy = ((np.floor(c / BLOCK).astype(np.int64) * mul % BH_MOD)
              .astype(np.uint32) for c, mul in ((cx, BH_MUL1),
                                                (ry, BH_MUL2)))
    h = col(hx) + row(hy)
    np.subtract(h, np.uint32(BH_MOD), out=h, where=h >= BH_MOD)
    h %= np.uint32(175)
    b = _HEIGHT_BY_H175[h]
    del h
    park = np.zeros(dsm.shape, dtype=bool)
    discs = park_discs()
    near = ((ox[:, None] - discs[:, 0]) ** 2
            + (oy[:, None] - discs[:, 1]) ** 2
            <= (discs[:, 2] + reach) ** 2)
    for k in np.nonzero(near.any(axis=0))[0]:
        pcx, pcy, r = discs[k]
        obs = np.nonzero(near[:, k])[0]
        park[obs] |= (col((cx[obs] - pcx) ** 2)
                      + row((ry[obs] - pcy) ** 2) <= r * r)
    b[park] = 0.0
    dsm += b
    return dsm.reshape(n, -1), park.reshape(n, -1)


def observer_patches(xs: np.ndarray, ys: np.ndarray, r: int, res: float):
    """Synthesize (n, (2r+1)²) DSM patches and bool greenspace masks
    centered on each observer's cell center, plus eye heights (DTM +
    1.7 m, vgvi_from_sf.R:240-244)."""
    nc = 2 * r + 1
    # observer cell center on the world grid
    ccx = (np.floor(xs / res) + 0.5) * res
    ccy = (np.floor(ys / res) + 0.5) * res
    offs = (np.arange(nc) - r) * res
    # patch columns west→east, rows top→bottom (row 0 = north),
    # matching raster order
    cx = ccx[:, None] + offs[None, :]
    ry = ccy[:, None] - offs[None, :]
    # patch corner is r*res*sqrt(2) from the center — the pruning reach
    reach = (r + 1) * res * float(np.sqrt(2.0))
    dsm, gs = patch_fields(cx, ry, ccx, ccy, reach)
    h0 = dtm(ccx, ccy) + C.OBSERVER_HEIGHT
    return dsm, gs, h0
