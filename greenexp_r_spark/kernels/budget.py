"""One working-set budget for the kernels of the Python passes.

A kernel handed an Arrow batch takes its rows in chunks, so its
transient memory is set by this budget and not by the batch it was
handed (ROADMAP aim 3: no task's memory grows with one batch).  Each
kernel derives its rows per chunk from WORKSET_BYTES and the bytes per
row of its largest temporary:

* ``vgvi.obs_per_chunk`` — the (trie nodes × observers) float64
  tangents of the viewshed sweep: 71 KB an observer at r=40, so 29
  observers a chunk;
* ``ndvi_intervals.disc_sums`` — the chord table (point, row, both
  ends, x, dy², both clip bounds: eight 8-byte columns), 32,768 chords;
* ``exposure.nearest_d2`` — the (rows × parks) int64 differences,
  4,369 rows against the 60 parks.

The budget is one core's L2 cache on the 4-core Xeon host (2 MiB).
Smaller chunks cost per-call overhead, larger ones leave the cache:
at r=40, 2,000 VGVI observers took 0.52, 0.33, 0.28 and 0.32 s in
chunks of 8, 29, 64 and 500 observers, and 1,000 of them peaked at
1.6, 5.7, 12 and 96 MB traced.
"""

from __future__ import annotations

WORKSET_BYTES = 2 << 20


def chunk_rows(row_bytes: int) -> int:
    """Rows a chunk may hold when each adds ``row_bytes`` to its
    largest temporary: WORKSET_BYTES // row_bytes, at least 1."""
    return max(1, WORKSET_BYTES // max(1, int(row_bytes)))
