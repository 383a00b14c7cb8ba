"""Per-row exposure: every family of a page from its own coordinates.

One call per Arrow batch scores availability, accessibility and
visibility, so the Python/Arrow boundary is crossed once per batch,
not once per family, and nothing is joined afterwards (PAPERS, CIDR
2022).  It emits integer moments and the BIGINT squared distance; the
family operators' Spark expressions project the final floats, so the
bits are theirs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from .. import constants as C
from . import ndvi_intervals as NI
from . import vgvi as V
from .budget import chunk_rows
from .worldgrid import observer_patches


def nearest_d2(x: np.ndarray, y: np.ndarray, cx: np.ndarray,
               cy: np.ndarray) -> np.ndarray:
    """Minimum squared distance from each (x, y) to the parks (cx, cy),
    computed as the shared SQL text `Dialect.dist2` does in both
    engines: subtract in double, truncate toward zero to int64, square
    and add in int64.  Rows are taken in chunks whose (row, park)
    int64 differences fit the kernel budget (kernels/budget.py)."""
    if len(cx) == 0:
        raise ValueError("nearest_d2 needs at least one park")
    out = np.empty(len(x), np.int64)
    step = chunk_rows(8 * len(cx))
    for lo in range(0, len(x), step):
        sl = slice(lo, lo + step)
        dx = (x[sl, None] - cx[None, :]).astype(np.int64)
        dy = (y[sl, None] - cy[None, :]).astype(np.int64)
        out[sl] = (dx * dx + dy * dy).min(axis=1)
    return out


def vgvi_at(x: np.ndarray, y: np.ndarray,
            max_distance: float = C.VIS_MAX_DIST, res: float = C.VIS_RES,
            fun: int = 1, m: float = C.VGVI_M,
            b: float = C.VGVI_B) -> np.ndarray:
    """VGVI (vgvi_from_sf) of the synthetic world at observers (x, y),
    vgvi.obs_per_chunk(r) observers per kernel call."""
    r = int(round(max_distance / res))
    step = V.obs_per_chunk(r)
    out = np.empty(len(x))
    for lo in range(0, len(x), step):
        sl = slice(lo, lo + step)
        dsm, gs, h0 = observer_patches(x[sl], y[sl], r, res)
        out[sl] = V.vgvi_batch(dsm, gs, h0, r, res, max_distance,
                               fun, m, b)
    return out


def score(pdf: pd.DataFrame, park_cx: np.ndarray | None = None,
          park_cy: np.ndarray | None = None,
          sample_mod: int | None = None,
          buffer_m: float = C.BUFFER_M,
          res: float = C.NDVI_RES) -> pd.DataFrame:
    """The rows of ``pdf`` (x, y, point_id and any other columns,
    passed through) plus s1, s2, n_cells (ndvi_intervals.disc_sums),
    min_d2 (nearest_d2, when parks are given) and vgvi (vgvi_at rows
    whose point id is a multiple of ``sample_mod``, NaN elsewhere,
    when it is given).  A row with a null coordinate (a url without a
    page id) or no cell centre in its disc is dropped, as the family
    plans' inner joins drop it."""
    pdf = pdf[pdf["x"].notna() & pdf["y"].notna()]
    x = pdf["x"].to_numpy(np.float64)
    y = pdf["y"].to_numpy(np.float64)
    s1, s2, n = NI.disc_sums(x, y, buffer_m, res)
    keep = n > 0
    out = pdf[keep].assign(s1=s1[keep], s2=s2[keep], n_cells=n[keep])
    x, y = x[keep], y[keep]
    if park_cx is not None:
        out["min_d2"] = nearest_d2(x, y, park_cx, park_cy)
    if sample_mod is not None:
        obs = out["point_id"].to_numpy() % sample_mod == 0
        vgvi = np.full(len(out), np.nan)
        vgvi[obs] = vgvi_at(x[obs], y[obs])
        out["vgvi"] = vgvi
    return out
