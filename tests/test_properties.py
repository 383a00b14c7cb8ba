"""Property-based tests (hypothesis) for the geometry and dedup
kernels — SURVEY §5(d)'s invariants."""

from __future__ import annotations

import numpy as np
from hypothesis import example, given, settings, strategies as st

from greenexp_r_spark import constants as C
from greenexp_r_spark.kernels import geom as G

coords = st.floats(min_value=-1000, max_value=1000,
                   allow_nan=False, allow_infinity=False)


@settings(max_examples=60, deadline=None)
@given(st.lists(st.tuples(coords, coords), min_size=3, max_size=40))
@example(
    pts=[(0.0, 0.0),
     (1.0, 1.0),
     (2.225073858507e-311, 0.0),
     (2.225073858507e-311, -2.220446049250313e-16)],
).via('discovered failure')
def test_hull_contains_all_points(pts):
    arr = np.array(pts, dtype=float)
    hull = G.convex_hull(arr)
    if len(hull) < 3:
        return                      # degenerate (collinear) input
    inside = G.points_in_convex_polygon(arr[:, 0] , arr[:, 1], hull)
    # allow boundary tolerance by shrinking toward the hull centroid
    cx, cy = hull[:, 0].mean(), hull[:, 1].mean()
    sx = arr[:, 0] + (cx - arr[:, 0]) * 1e-9
    sy = arr[:, 1] + (cy - arr[:, 1]) * 1e-9
    inside2 = G.points_in_convex_polygon(sx, sy, hull)
    assert (inside | inside2).all()


@settings(max_examples=40, deadline=None)
@given(st.tuples(coords, coords),
       st.floats(min_value=1, max_value=300),
       st.integers(min_value=3, max_value=24),
       st.tuples(coords, coords),
       st.floats(min_value=1, max_value=300),
       st.integers(min_value=3, max_value=24))
def test_clip_area_bounded(c1, r1, k1, c2, r2, k2):
    a = G.regular_polygon(c1[0], c1[1], r1, k1)
    b = G.regular_polygon(c2[0], c2[1], r2, k2)
    inter = G.intersection_area(a, b)
    assert inter >= -1e-9
    assert inter <= abs(G.polygon_area(a)) + 1e-6
    assert inter <= abs(G.polygon_area(b)) + 1e-6
    # disjoint circumcircles → zero intersection
    d = np.hypot(c1[0] - c2[0], c1[1] - c2[1])
    if d > r1 + r2:
        assert inter == 0.0


@settings(max_examples=40, deadline=None)
@given(st.floats(min_value=10, max_value=400),
       st.floats(min_value=0.05, max_value=2.0),
       st.floats(min_value=0.5, max_value=16.0),
       st.integers(min_value=1, max_value=2))
def test_decay_weights_positive_decreasing(radius, m, b, fun):
    from greenexp_r_spark.kernels.vgvi import decay_weights
    max_d = max(2, int(radius) // 2)
    w = decay_weights(max_d, radius, fun, m, b)
    assert (w > 0).all()
    # both decay kernels are non-increasing in distance, so the
    # per-ring integrals over equal-width windows are non-increasing
    assert (np.diff(w) <= 1e-12).all()


@settings(max_examples=30, deadline=None)
@given(st.integers(min_value=0, max_value=2 ** 31 - 1),
       st.integers(min_value=0, max_value=2 ** 31 - 1))
def test_minhash_permutation_range(sh, j):
    a, b = C.MINHASH_PERMS[j % len(C.MINHASH_PERMS)]
    v = (sh * a + b) % C.P31
    assert 0 <= v < C.P31


# ----------------------------- round-4 kernels (holes, LZW, solvers)

from greenexp_r_spark.kernels import concave as CK
from greenexp_r_spark.operators import network
from greenexp_r_spark.sources import geotiff as GT


@settings(max_examples=40, deadline=None)
@given(st.binary(min_size=0, max_size=4000))
def test_lzw_roundtrip_arbitrary_bytes(data):
    assert GT._lzw_decode(GT._lzw_encode(data)) == data


@settings(max_examples=30, deadline=None)
@given(st.integers(min_value=0, max_value=2**31 - 1),
       st.integers(min_value=2, max_value=6))
def test_holed_clip_area_bounds(seed, k):
    """0 ≤ |holed ∩ clip| ≤ min(|holed|, |clip|), and subtracting a
    hole never increases the clipped area."""
    rng = np.random.RandomState(seed)
    side = 10.0
    outer = np.array([[0, 0], [side, 0], [side, side], [0, side]])
    hx, hy = rng.uniform(1, side - 3, 2)
    hole = np.array([[hx, hy], [hx + 1.5, hy],
                     [hx + 1.5, hy + 1.5], [hx, hy + 1.5]])
    clip = G.regular_polygon(rng.uniform(0, side),
                             rng.uniform(0, side),
                             rng.uniform(1, 8), 4 + k)
    rings = CK.make_valid_polygon([outer, hole])
    a_holed = CK.intersection_area_holes(rings, clip)
    a_outer = CK.intersection_area_concave(outer, clip)
    assert -1e-9 <= a_holed <= a_outer + 1e-9
    assert a_holed <= side * side - 1.5 * 1.5 + 1e-9
    assert a_holed <= abs(G.polygon_area(clip)) + 1e-9


@settings(max_examples=30, deadline=None)
@given(st.integers(min_value=0, max_value=2**31 - 1))
def test_solvers_invariant_under_edge_permutation(seed):
    """dijkstra_buckets and min_label_components must return
    bit-identical results for any edge ordering (the partition-order
    independence the distributed paths rely on)."""
    rng = np.random.RandomState(seed)
    n = 60
    src = rng.randint(0, n, 150).astype(np.int64)
    dst = rng.randint(0, n, 150).astype(np.int64)
    keep = src != dst
    src, dst = src[keep], dst[keep]
    w = rng.randint(1, 9, len(src)).astype(np.float64) * 10
    bsrc = np.concatenate([src, dst])
    bdst = np.concatenate([dst, src])
    bw = np.concatenate([w, w])
    perm = rng.permutation(len(bsrc))
    seeds = np.array([0, 3], dtype=np.int64)

    n1, d1 = network.dijkstra_buckets(bsrc, bdst, bw, seeds, 300.0)
    n2, d2 = network.dijkstra_buckets(bsrc[perm], bdst[perm], bw[perm],
                                      seeds, 300.0)
    assert dict(zip(n1.tolist(), d1.tolist())) == \
        dict(zip(n2.tolist(), d2.tolist()))

    c1 = dict(zip(*[a.tolist() for a in
                    network.min_label_components(bsrc, bdst)]))
    c2 = dict(zip(*[a.tolist() for a in
                    network.min_label_components(bsrc[perm],
                                                 bdst[perm])]))
    assert c1 == c2


@settings(max_examples=30, deadline=None)
@given(st.integers(min_value=0, max_value=2**31 - 1))
def test_points_in_rings_xor_property(seed):
    """Listing the same ring twice cancels (even-odd parity algebra),
    and ring order never matters."""
    rng = np.random.RandomState(seed)
    ring = np.array([[0, 0], [6, 0], [6, 6], [0, 6]], dtype=float)
    hole = np.array([[2, 2], [4, 2], [4, 4], [2, 4]], dtype=float)
    px = rng.uniform(-1, 7, 300)
    py = rng.uniform(-1, 7, 300)
    a = CK.points_in_rings(px, py, [ring, hole])
    b = CK.points_in_rings(px, py, [hole, ring])
    assert (a == b).all()
    cancel = CK.points_in_rings(px, py, [ring, hole, hole])
    outer_only = CK.points_in_rings(px, py, [ring])
    assert (cancel == outer_only).all()


# ------------------------------------------------------------------
# PageRank integer contract (operators/linkgraph.py) — the pure-array
# solver must equal an independent dict-based reimplementation on
# arbitrary random graphs (dangling nodes, multi-edges excluded by
# construction upstream but harmless here, hub skew, isolates).
# ------------------------------------------------------------------

@settings(max_examples=60, deadline=None)
@given(st.integers(min_value=1, max_value=14),
       st.lists(st.tuples(st.integers(0, 13), st.integers(0, 13)),
                max_size=60))
def test_pagerank_arrays_match_reference(n, raw_edges):
    from greenexp_r_spark.operators import linkgraph as LG
    edges = sorted({(a % n, b % n) for a, b in raw_edges if a % n != b % n})
    src = np.array([a for a, _ in edges], dtype=np.int64)
    dst = np.array([b for _, b in edges], dtype=np.int64)
    outdeg, pr = LG.pagerank_arrays(n, src, dst)
    # independent reference in pure python ints
    od = {v: 0 for v in range(n)}
    for a, _ in edges:
        od[a] += 1
    p = {v: LG.PR_TOTAL // n for v in range(n)}
    base = (LG.PR_BASE_NUM * (LG.PR_TOTAL // n)) // LG.PR_DEN
    for _ in range(LG.PR_ROUNDS):
        inc = {v: 0 for v in range(n)}
        for a, b in edges:
            inc[b] += p[a] // od[a]
        dang = sum(p[v] for v in range(n) if od[v] == 0)
        p = {v: base + (LG.PR_DAMP_NUM * (inc[v] + dang // n))
             // LG.PR_DEN for v in range(n)}
    for v in range(n):
        assert outdeg[v] == od[v]
        assert pr[v] == p[v]


@settings(max_examples=60, deadline=None)
@given(st.lists(st.floats(min_value=-2.0, max_value=2.0,
                          allow_nan=False), min_size=4, max_size=64))
def test_jl_projection_linear_and_exact(vec):
    from greenexp_r_spark.operators import similarity as S
    q = np.round(np.array(vec) * 1000).astype(np.int64)
    M = S.jl_sign_matrix(len(q))
    p = q @ M
    # exactness: every projected coordinate is the signed integer sum
    for j in range(M.shape[1]):
        assert p[j] == int(sum(int(q[i]) * int(M[i, j])
                               for i in range(len(q))))
    # linearity: projection of 2q is 2p (no hidden normalization)
    assert ((2 * q) @ M == 2 * p).all()
