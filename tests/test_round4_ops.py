"""Round-4 additions: vectorized driver solvers (VERDICT r03 'What's
wrong #2') and the exhaustive all-pairs Jaccard oracle of the
near-dup tests."""

import heapq

import numpy as np
import pytest

from pyspark.sql import functions as F

from greenexp_r_spark.operators import network


# ----------------------------------------------------- solver kernels

def _heap_dijkstra(src, dst, w, seeds, max_dist):
    """Sequential reference: the exact heap Dijkstra the vectorized
    bucket solver replaced — bit-identical results required."""
    adj = {}
    for s, d, l in zip(src, dst, w):
        adj.setdefault(int(s), []).append((int(d), float(l)))
    heap = [(0.0, int(s)) for s in set(int(x) for x in seeds)]
    heapq.heapify(heap)
    dist = {}
    while heap:
        d, n = heapq.heappop(heap)
        if n in dist:
            continue
        dist[n] = d
        for m, l in adj.get(n, ()):
            nd = d + l
            if nd <= max_dist and m not in dist:
                heapq.heappush(heap, (nd, m))
    return dist


def _rand_graph(n_nodes, n_edges, seed, int_weights=False):
    rng = np.random.RandomState(seed)
    src = rng.randint(0, n_nodes, n_edges).astype(np.int64)
    dst = rng.randint(0, n_nodes, n_edges).astype(np.int64)
    keep = src != dst
    src, dst = src[keep], dst[keep]
    if int_weights:
        w = rng.randint(1, 20, len(src)).astype(np.float64) * 10.0
    else:
        w = 10.0 + 990.0 * rng.rand(len(src))
    # bidirectional, as both callers supply
    return (np.concatenate([src, dst]), np.concatenate([dst, src]),
            np.concatenate([w, w]))


@pytest.mark.parametrize("seed,int_weights", [(1, True), (2, False),
                                              (3, False)])
def test_dijkstra_buckets_matches_heap(seed, int_weights):
    src, dst, w = _rand_graph(400, 1500, seed, int_weights)
    seeds = np.array([0, 7, 13], dtype=np.int64)
    max_dist = 2500.0
    nodes, dists = network.dijkstra_buckets(src, dst, w, seeds, max_dist)
    want = _heap_dijkstra(src, dst, w, seeds, max_dist)
    got = dict(zip(nodes.tolist(), dists.tolist()))
    assert set(got) == set(want)
    for n in want:                      # bit-identical, not approx
        assert got[n] == want[n], (n, got[n], want[n])


def test_dijkstra_buckets_isolated_seed():
    src, dst, w = _rand_graph(50, 100, 4)
    # a seed that appears in no edge must still be returned at dist 0
    seeds = np.array([10_000], dtype=np.int64)
    nodes, dists = network.dijkstra_buckets(src, dst, w, seeds, 500.0)
    assert 10_000 in nodes.tolist()
    assert dists[list(nodes).index(10_000)] == 0.0


def _naive_components(src, dst):
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    for s, d in zip(src.tolist(), dst.tolist()):
        rs, rd = find(s), find(d)
        if rs != rd:
            parent[rs] = rd
    comp = {}
    for n in parent:
        comp.setdefault(find(n), []).append(n)
    return {n: min(mem) for mem in comp.values() for n in mem}


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_min_label_components_matches_union_find(seed):
    rng = np.random.RandomState(seed)
    # several sparse clusters + long chains (worst case for label prop)
    src = rng.randint(0, 3000, 1200).astype(np.int64)
    dst = src + rng.randint(1, 5, 1200)
    chain = np.arange(5000, 5400, dtype=np.int64)
    src = np.concatenate([src, chain[:-1]])
    dst = np.concatenate([dst, chain[1:]])
    bsrc = np.concatenate([src, dst])
    bdst = np.concatenate([dst, src])
    nodes, labels = network.min_label_components(bsrc, bdst)
    want = _naive_components(bsrc, bdst)
    got = dict(zip(nodes.tolist(), labels.tolist()))
    assert got == want


def test_min_label_components_empty():
    e = np.array([], dtype=np.int64)
    nodes, labels = network.min_label_components(e, e)
    assert len(nodes) == 0 and len(labels) == 0


# ------------------------------------- exhaustive all-pairs Jaccard

def all_pairs_jaccard(sh, threshold):
    """Exhaustive oracle: (doc_a, doc_b, jaccard) for every pair of
    (doc_id, sh_arr) rows with doc_a < doc_b and exact set Jaccard ≥
    threshold — a crossJoin, no LSH."""
    l = sh.select(F.col("doc_id").alias("doc_a"),
                  F.col("sh_arr").alias("sa"))
    r = sh.select(F.col("doc_id").alias("doc_b"),
                  F.col("sh_arr").alias("sb"))
    n_inter = F.size(F.array_intersect(F.col("sa"), F.col("sb")))
    jac = (n_inter.cast("double")
           / (F.size("sa") + F.size("sb") - n_inter).cast("double"))
    return (l.crossJoin(r).where(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b", jac.alias("jaccard"))
            .where(F.col("jaccard") >= threshold))
