"""Microbench for the vectorized driver-side solvers (VERDICT r03
'Next round #4'): times dijkstra_buckets and min_label_components at
network.DRIVER_EDGE_LIMIT directed edges, the one limit of every
driver graph solve, pure numpy (no Spark session — the solve cost is
what's being measured; the bounded fetch that feeds the solvers is
Arrow-columnar and bounded by the same limit).

Run: python tools/microbench_solvers.py
"""

import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from greenexp_r_spark.operators import network  # noqa: E402


def bench_dijkstra(n_edges: int) -> float:
    # lattice-ish graph: sqrt(n/4) per side, 4 directed edges per node
    side = int((n_edges / 4) ** 0.5)
    i = np.arange(side * side, dtype=np.int64)
    x, y = i % side, i // side
    rng = np.random.RandomState(0)
    srcs, dsts = [], []
    for dx, dy in ((1, 0), (0, 1)):
        ok = (x + dx < side) & (y + dy < side)
        srcs.append(i[ok])
        dsts.append((y[ok] + dy) * side + (x[ok] + dx))
    src = np.concatenate(srcs + dsts)
    dst = np.concatenate(dsts + srcs)
    w = 80.0 + 40.0 * rng.rand(len(src))
    seeds = rng.choice(side * side, 500, replace=False).astype(np.int64)
    ts = []
    for _ in range(3):                  # best-of-3: host stall bursts
        t0 = time.perf_counter()        # (documented in BENCH/BASELINE)
        nodes, dists = network.dijkstra_buckets(src, dst, w, seeds,
                                                8_000.0)
        ts.append(time.perf_counter() - t0)
    el = min(ts)
    print(f"dijkstra_buckets: {len(src):,} directed edges, "
          f"{len(nodes):,} settled → {el:.3f} s (best of 3)")
    return el


def bench_components(n_edges: int) -> float:
    rng = np.random.RandomState(1)
    n_nodes = n_edges // 3
    src = rng.randint(0, n_nodes, n_edges // 2).astype(np.int64)
    dst = rng.randint(0, n_nodes, n_edges // 2).astype(np.int64)
    keep = src != dst
    src, dst = src[keep], dst[keep]
    bsrc = np.concatenate([src, dst])
    bdst = np.concatenate([dst, src])
    ts = []
    for _ in range(3):
        t0 = time.perf_counter()
        nodes, labels = network.min_label_components(bsrc, bdst)
        ts.append(time.perf_counter() - t0)
    el = min(ts)
    n_comp = len(np.unique(labels))
    print(f"min_label_components: {len(bsrc):,} directed edges, "
          f"{len(nodes):,} nodes, {n_comp:,} components → {el:.3f} s "
          f"(best of 3)")
    return el


if __name__ == "__main__":
    n = network.DRIVER_EDGE_LIMIT
    d = bench_dijkstra(n)
    c = bench_components(n)
    print(f"DRIVER_EDGE_LIMIT {n:,}: dijkstra {d:.3f} s; "
          f"components {c:.3f} s")
