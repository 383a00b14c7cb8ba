"""Disc-buffer sums of the integer NDVI raster by row intervals.

A point's buffer covers the raster cells whose centre lies in its disc
(the terra::extract semantics of ndvi_calc.R:332).  In each raster row
those cells form one contiguous run — a chord — so the disc sum is the
sum, over the ~2R/res rows, of a difference of two per-row prefix sums
instead of a walk over ~π(R/res)² cells.  This is the row-interval
raster representation of "Raster Intervals" (SIGMOD 2023).

Exactness.  The chord ends reproduce the cell-centre predicate of
``availability.covered_cells`` bit for bit,

    ((ci+0.5)·res − x)² + ((cj+0.5)·res − y)² ≤ R²,

evaluated in the same IEEE operations and clipped to the same square
bounds: ``sqrt`` estimates each end and the exact predicate fixes it.
In floating point ``fl(ccx − x)`` is monotone in ``ci`` and squaring
and adding round monotonically, so the accepted cells of a row are an
interval around the row's nearest cell centre.  Where both estimates
are accepted the ends grow outward past them while the next cell is
accepted; elsewhere (a rare boundary row) they grow from the nearest
centre, and a row whose nearest centre is rejected is empty.  The
sums are integers, so they equal the explode-and-aggregate plan's.

Memory.  Prefix sums live in TILE×TILE tiles cached per worker process
in an LRU of at most MAX_TILES tiles (CACHE_BYTES in all), whatever the
number or spread of the points: points are taken in tile order, and a
run of points whose tiles exceed the cap is halved until it fits.  Row prefixes of one tile
fit in int32 because |v| ≤ 799 (v² ≤ 638,401; 128 · 638,401 < 2³¹).
Points are taken in runs whose chord table fits the kernel budget
(kernels/budget.py): 528 points of a 300 m disc at 10 m cells.
"""

from __future__ import annotations

from collections import OrderedDict

import numpy as np

from .. import constants as C
from .budget import chunk_rows

TILE = 128
MAX_TILES = 512
# (tiles, {v, v²}, row, prefix position) int32
CACHE_BYTES = MAX_TILES * 2 * TILE * (TILE + 1) * 4      # ~67.6 MB


def ndvi_int(ci: np.ndarray, cj: np.ndarray) -> np.ndarray:
    """The integer NDVI field v (ndvi = v/800, NA → 0) of cells
    (ci, cj) — the same integer arithmetic as world.ndvi_int_expr."""
    h = (ci * C.NDVI_H_A + cj * C.NDVI_H_B) % C.P31
    return np.where(h % C.NDVI_NA_MOD == 0, 0, h % C.NDVI_MOD - 200)


class PrefixTiles:
    """LRU cache of per-row prefix sums of v and v² over fixed tiles.

    ``store[slot, k, row, c]`` is the sum of v^(k+1) over the tile's
    first ``c`` cells of ``row``.  The store is allocated once at its
    cap; pages of slots never filled are never touched."""

    def __init__(self, max_tiles: int = MAX_TILES):
        self.max_tiles = max_tiles
        self.slots: OrderedDict[int, int] = OrderedDict()
        self.store = np.zeros((max_tiles, 2, TILE, TILE + 1), np.int32)

    def load(self, keys: np.ndarray) -> np.ndarray:
        """Slots of the distinct packed tile keys (≤ max_tiles of
        them), building the missing tiles in one vectorized pass."""
        assert len(keys) <= self.max_tiles
        slots = np.empty(len(keys), np.int64)
        missing = []
        for i, k in enumerate(keys.tolist()):
            s = self.slots.get(k)
            if s is None:
                missing.append(i)
            else:
                self.slots.move_to_end(k)
                slots[i] = s
        if not missing:
            return slots
        free = list(range(len(self.slots), self.max_tiles))
        while len(free) < len(missing):
            # the keys of this call were moved to the end: the oldest
            # entries belong to other tiles
            free.append(self.slots.popitem(last=False)[1])
        for i, s in zip(missing, free):
            self.slots[int(keys[i])] = s
            slots[i] = s
        new = np.asarray(missing)
        tx, ty = _unpack(keys[new])
        ci = tx[:, None, None] * TILE + np.arange(TILE)[None, None, :]
        cj = ty[:, None, None] * TILE + np.arange(TILE)[None, :, None]
        v = ndvi_int(ci, cj)
        self.store[slots[new], 0, :, 1:] = np.cumsum(v, axis=2)
        self.store[slots[new], 1, :, 1:] = np.cumsum(v * v, axis=2)
        return slots


# tile coordinates packed into one int64 key, 31 bits each (|t| < 2^30)
_OFF = 1 << 30


def _pack(tx: np.ndarray, ty: np.ndarray) -> np.ndarray:
    return ((tx + _OFF) << 31) | (ty + _OFF)


def _unpack(key: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    return (key >> 31) - _OFF, (key & (2 * _OFF - 1)) - _OFF


_TILES: PrefixTiles | None = None


def worker_tiles() -> PrefixTiles:
    """The process-wide tile cache (one per Python worker)."""
    global _TILES
    if _TILES is None:
        _TILES = PrefixTiles()
    return _TILES


def _expand(start, count):
    """(owner, value) for each value start[i] .. start[i]+count[i]-1."""
    owner = np.repeat(np.arange(len(count)), count)
    first = np.repeat(np.cumsum(count) - count, count)
    return owner, np.arange(len(owner)) - first + start[owner]


def _square(x, y, r, res):
    """The cell-index square each disc is clipped to, as
    covered_cells enumerates it: (lo_x, hi_x, lo_y, hi_y)."""
    return tuple(np.floor((c + s) / res).astype(np.int64)
                 for c in (x, y) for s in (-r, r))


def _chords(x, y, r, res, square):
    """Every non-empty chord of every point's disc: (point index, row
    cj, first ci, last ci), rows in point order."""
    r2 = r ** 2
    lo_x, hi_x, lo_y, hi_y = square
    p, cj = _expand(lo_y, hi_y - lo_y + 1)
    xp = x[p]
    dy = (cj + 0.5) * res - y[p]
    dy2 = dy * dy
    lo, hi = lo_x[p], hi_x[p]

    def dx2(ci, xp):
        dx = (ci + 0.5) * res - xp
        return dx * dx

    def inside(ci):
        return dx2(ci, xp) + dy2 <= r2

    # sqrt estimates of the ends; where both are inside (almost every
    # row) the interval only needs growing past them
    half = np.sqrt(np.maximum(r2 - dy2, 0.0))
    a = np.clip(np.ceil((xp - half) / res - 0.5).astype(np.int64), lo, hi)
    b = np.clip(np.floor((xp + half) / res - 0.5).astype(np.int64), lo, hi)
    odd = (a > b) | ~inside(a) | ~inside(b)
    if odd.any():
        # otherwise restart both ends from the row's nearest cell
        # centre — floor(x/res), or a neighbour when x/res rounds
        # across an integer; a row with no cell inside there is empty
        xo, lo_o, hi_o = xp[odd], lo[odd], hi[odd]
        mid = np.clip(np.floor(xo / res).astype(np.int64), lo_o, hi_o)
        for step in (-1, 1):
            nxt = np.clip(mid + step, lo_o, hi_o)
            mid = np.where(dx2(nxt, xo) < dx2(mid, xo), nxt, mid)
        a[odd] = b[odd] = mid
        keep = ~odd
        keep[odd] = dx2(mid, xo) + dy2[odd] <= r2
        p, cj, xp, dy2, lo, hi, a, b = (
            v[keep] for v in (p, cj, xp, dy2, lo, hi, a, b))
    for end, step, bound in ((a, -1, lo), (b, 1, hi)):
        # grow while the next cell is inside
        while True:
            nxt = end + step
            grow = (nxt * step <= bound * step) & inside(nxt)
            if not grow.any():
                break
            end[grow] = nxt[grow]
    return p, cj, a, b


# the chord table's columns (point, row, both ends, x, dy², both clip
# bounds), 8 bytes each: a chunk holds the kernel budget's worth of
# chords, so the working set does not grow with the Arrow batch
CHORD_BYTES = 8 * 8


def disc_sums(x: np.ndarray, y: np.ndarray, buffer_m: float,
              res: float = C.NDVI_RES,
              tiles: PrefixTiles | None = None):
    """(s1, s2, n_cells) int64 per point: Σv, Σv² and the cell count
    over the raster cells whose centre lies in the point's disc."""
    tiles = tiles if tiles is not None else worker_tiles()
    x = np.asarray(x, np.float64)
    y = np.asarray(y, np.float64)
    r, res = float(buffer_m), float(res)
    n = len(x)
    # tile order: a run of points then shares few tiles
    order = np.argsort(_pack(np.floor(x / res).astype(np.int64) // TILE,
                             np.floor(y / res).astype(np.int64) // TILE),
                       kind="stable")
    step = chunk_rows(CHORD_BYTES * int(2 * r / res + 2))
    todo = [(i, min(i + step, n)) for i in range(0, n, step)]
    out = np.zeros((3, n), np.int64)
    while todo:
        lo, hi = todo.pop()
        idx = order[lo:hi]
        got = _chunk_sums(x[idx], y[idx], r, res, tiles)
        if got is not None:
            out[:, idx] = got
        elif hi - lo > 1:
            todo += [(lo, (lo + hi) // 2), ((lo + hi) // 2, hi)]
        else:
            raise ValueError(f"a {buffer_m} m disc spans more than "
                             f"{tiles.max_tiles} prefix tiles")
    return out[0], out[1], out[2]


def _chunk_sums(x, y, r, res, tiles):
    """disc_sums of one run of points, or None when the run's tiles
    do not fit in the cache at once."""
    n = len(x)
    square = _square(x, y, r, res)
    lo_x, hi_x, lo_y, hi_y = square
    # the tiles each point's square touches, on an (nt, nt) window
    tx0, ty0 = lo_x // TILE, lo_y // TILE
    nt = int(max((hi_x - lo_x).max(), (hi_y - lo_y).max())) // TILE + 2
    d = np.arange(nt)
    wtx = tx0[:, None, None] + d[None, :, None]
    wty = ty0[:, None, None] + d[None, None, :]
    valid = ((wtx <= (hi_x // TILE)[:, None, None])
             & (wty <= (hi_y // TILE)[:, None, None]))
    keys, inv = np.unique(_pack(wtx, wty)[valid], return_inverse=True)
    if len(keys) > tiles.max_tiles:
        return None
    window = np.zeros((n, nt, nt), np.int64)
    window[valid] = tiles.load(keys)[inv]

    p, cj, a, b = _chords(x, y, r, res, square)
    n_cells = np.bincount(p, weights=b - a + 1, minlength=n)
    # split chords at tile columns: one segment per (chord, tile)
    ta = a // TILE
    c, tx = _expand(ta, b // TILE - ta + 1)
    pc = p[c]
    ty = cj[c] // TILE
    lo = np.maximum(a[c] - tx * TILE, 0)
    hi = np.minimum(b[c] - tx * TILE, TILE - 1) + 1
    slot = window[pc, tx - tx0[pc], ty - ty0[pc]]
    # flat offset of (slot, k, row, 0) in the store
    row = slot * (2 * TILE * (TILE + 1)) + (cj[c] - ty * TILE) * (TILE + 1)
    flat = tiles.store.reshape(-1)
    s1, s2 = (np.bincount(pc, weights=flat[base + hi] - flat[base + lo],
                          minlength=n)
              for base in (row, row + TILE * (TILE + 1)))
    # float64 sums of integers below 2^53 are exact
    return s1, s2, n_cells
