"""LoS prefix-trie: the viewshed kernel's cross-ray state as a DAG.

viewshed_cpp replays the stateful shared-prefix optimization
(bresenham.cpp:170-187 + vgvi.cpp:84-85): ray i reuses the running
max-tangent vector of the previous ray up to its divergence index k_i,
and the reference resets the seed to -9999 when k_i == 1 (the "k_i==1
quirk"), which makes cell visibility depend on the *sequence* of rays,
not each ray alone.

That stateful sweep is equivalent to a static **trie**: one node per
(ray, position ≥ k_i), whose parent is the node that owned the
running-max slot at position−1 when the ray was processed (None when
position == 0, or when position == k_i == 1 — the reset).  A cell is
visible iff some node carrying it has tangent > max(ancestor
tangents).  `kernels/vgvi.viewshed_batch` sweeps the trie one depth
at a time; tests/test_lostrie.py keeps the sequential ray sweep as
its oracle.  The trie depends only on the radius, so it can be
exported as a literal SQL table — the bridge that lets a DuckDB
recursive CTE replay the viewshed bit-for-bit (q_viewshed_flat).
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np

from . import bresenham


@lru_cache(maxsize=4)
def los_trie(radius: int):
    """Returns (nid, parent, dx, dy) int64 arrays; parent = -1 for
    roots.  dx = col offset (east+), dy = NORTH-positive row offset
    (world cj direction), so the world cell of a node for an observer
    at (ci0, cj0) is (ci0 + dx, cj0 + dy) and its kernel distance is
    sqrt(dx² + dy²) cell units."""
    r = radius
    nc = 2 * r + 1
    ref = bresenham.los_reference(r)
    starts = bresenham.shared_los(r)
    nid, parent, dxs, dys = [], [], [], []
    slot = {}                       # position -> nid owning max_tan[pos]
    nxt = 0
    for i in range(8 * r):
        cells = ref[i]
        n_valid = int((cells != bresenham.NA).sum())
        k = int(starts[i])
        if k >= n_valid:
            continue
        for p in range(k, n_valid):
            if p == 0:
                par = -1
            elif p == k:
                par = slot[k - 1] if k > 1 else -1   # k==1 reset quirk
            else:
                par = nxt - 1
            row, col = divmod(int(cells[p]), nc)
            nid.append(nxt)
            parent.append(par)
            dxs.append(col - r)
            dys.append(r - row)     # row 0 = north → dy = +north
            slot[p] = nxt
            nxt += 1
    return (np.array(nid, dtype=np.int64),
            np.array(parent, dtype=np.int64),
            np.array(dxs, dtype=np.int64),
            np.array(dys, dtype=np.int64))


def trie_rows(radius: int):
    """Trie as plain python tuples (nid, parent_or_None, dx, dy) for
    SQL-literal export."""
    nid, parent, dx, dy = los_trie(radius)
    return [(int(n), None if p < 0 else int(p), int(a), int(b))
            for n, p, a, b in zip(nid, parent, dx, dy)]
