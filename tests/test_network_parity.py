"""Network parity: weighted Dijkstra, pseudo-entrances, extended
(full-OD fallback) search, isochrones, and the size routes of the
graph solves.

Reference semantics: accessibility.R:223-247 (entrances), :343-356
(weight = edge_length Dijkstra), :352-358 (full OD matrix fallback).
"""

import pytest

from pyspark.sql import functions as F

from greenexp_r_spark import constants as C, world
from greenexp_r_spark.operators import network

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def pts(spark):
    return world.points_df(spark, SF)


def test_weighted_edges_heterogeneous(spark):
    e = world.road_edges_weighted_df(spark)
    stats = e.agg(F.min("length_m").alias("lo"),
                  F.max("length_m").alias("hi"),
                  F.countDistinct("length_m").alias("nd")).first()
    assert stats.lo >= C.WEDGE_BASE
    assert stats.hi <= C.WEDGE_BASE + C.WEDGE_SPAN - 1
    assert stats.nd > 10  # genuinely heterogeneous


def test_weighted_vs_bfs_bounds(spark, pts):
    """Weighted shortest path with lengths in [80, 140] must sit within
    [0.8, 1.4]x the uniform-100m BFS distance for every reachable node
    (same lattice, same entrance seeds)."""
    bfs = network.network_access(
        pts, world.road_edges_df(spark), world.park_entrances_df(spark))
    wgt = network.network_access(
        pts, world.road_edges_weighted_df(spark),
        world.park_entrances_df(spark))
    j = (bfs.select("point_id", F.col("network_dist").alias("d_bfs"))
         .join(wgt.select("point_id", F.col("network_dist").alias("d_w")),
               "point_id")
         .where(F.col("d_bfs").isNotNull() & (F.col("d_bfs") > 0)))
    bad = j.where((F.col("d_w") < 0.8 * F.col("d_bfs") - 1e-9)
                  | (F.col("d_w") > 1.4 * F.col("d_bfs") + 1e-9)).count()
    assert bad == 0
    assert j.count() > 0


def test_entrance_nodes_inside_dissolved_buffer(spark):
    """Every pseudo-entrance node lies within radius+20 m of some
    qualifying park; and parks large enough to contain a node
    contribute at least one."""
    en = world.park_entrance_nodes_df(spark).toPandas()
    parks = world.parks_df(spark).where(
        F.col("area_m2") > C.MIN_GREENSPACE_M2).toPandas()
    assert len(en) > 0
    n = C.ROAD_N
    for node in en.entrance_node:
        nx, ny = (node % n) * 100, (node // n) * 100
        ok = ((parks.cx - nx) ** 2 + (parks.cy - ny) ** 2
              <= (parks.radius + C.ENTRANCE_BUFFER_M) ** 2).any()
        assert ok, f"node {node} outside every park buffer"


def test_extended_agrees_with_bounded(spark, pts):
    """Where the bounded search found a distance, the extended search
    must report the identical one; where it did not, extended must be
    ≥ the bound (or null only for disconnected islands)."""
    b = network.network_access(
        pts, world.road_edges_df(spark), world.park_entrances_df(spark))
    e = network.network_access(
        pts, world.road_edges_df(spark), world.park_entrances_df(spark),
        max_dist=2000.0)
    j = (b.select("point_id", F.col("network_dist").alias("db"))
         .join(e.select("point_id", F.col("network_dist").alias("de")),
               "point_id"))
    mismatch = j.where(F.col("db").isNotNull()
                       & (F.col("db") != F.col("de"))).count()
    assert mismatch == 0
    beyond = j.where(F.col("db").isNull() & F.col("de").isNotNull())
    assert beyond.where(F.col("de") <= C.NET_MAX_DIST).count() == 0


def _py_dijkstra(edges, sources, max_dist):
    """Pure-Python multi-source Dijkstra oracle (heap-based)."""
    import heapq
    from collections import defaultdict
    adj = defaultdict(list)
    for s, d, w in edges:
        adj[s].append((d, w))
        adj[d].append((s, w))
    dist = {s: 0.0 for s in sources}
    heap = [(0.0, s) for s in sources]
    heapq.heapify(heap)
    while heap:
        du, u = heapq.heappop(heap)
        if du > dist.get(u, float("inf")):
            continue
        for v, w in adj[u]:
            nd = du + w
            if nd <= max_dist and nd < dist.get(v, float("inf")):
                dist[v] = nd
                heapq.heappush(heap, (nd, v))
    return dist


@pytest.mark.parametrize("seed", [7, 41, 1234])
def test_multi_source_dist_matches_python_dijkstra_random_graph(spark, seed):
    """The DataFrame-level driver solve vs a heap Dijkstra oracle on
    seeded random graphs (integer weights → exact float sums)."""
    import random
    rng = random.Random(seed)
    n = 60
    edges = []
    for _ in range(150):
        a, b = rng.randrange(n), rng.randrange(n)
        if a != b:
            edges.append((a, b, float(rng.randrange(5, 40))))
    sources = [rng.randrange(n) for _ in range(3)]
    max_dist = 120.0
    want = _py_dijkstra(edges, set(sources), max_dist)

    e = spark.createDataFrame(edges, "src long, dst long, length_m double")
    s = spark.createDataFrame([(x,) for x in set(sources)], "node_id long")
    got = network.multi_source_dist(
        network.bidirectional(e), s, max_dist=max_dist).toPandas()
    got_d = dict(zip(got.node_id, got.net_dist))
    assert got_d == want


def _random_graph_bidir(spark, seed):
    import random
    rng = random.Random(seed)
    edges = [(rng.randrange(500), rng.randrange(500))
             for _ in range(300)]
    df = spark.createDataFrame(edges, "src long, dst long")
    return df.union(df.select(F.col("dst").alias("src"),
                              F.col("src").alias("dst")))


def _labels(df):
    return (df.toPandas().sort_values("node_id")
            .reset_index(drop=True))


def test_component_driver_equals_distributed(spark, monkeypatch):
    """Both routes of component_labels give identical labels, on the
    road lattice and on a random multi-component graph: the default
    limit takes the driver solve, a limit below the edge count the
    distributed min-label/pointer-jumping propagation."""
    graphs = [network.bidirectional(world.road_edges_df(spark)),
              _random_graph_bidir(spark, 7)]
    drv = [_labels(network.component_labels(g)) for g in graphs]
    calls = []
    propagate = network._component_labels_distributed
    monkeypatch.setattr(network, "_component_labels_distributed",
                        lambda e: calls.append(1) or propagate(e))
    monkeypatch.setattr(network, "DRIVER_EDGE_LIMIT", 10)
    for g, want in zip(graphs, drv):
        got = _labels(network.component_labels(g))
        assert len(got) == len(want) > 0
        assert (got["node_id"].values == want["node_id"].values).all()
        assert (got["label"].values == want["label"].values).all()
    assert len(calls) == len(graphs)


def test_component_labels_decides_and_fetches_in_one_job(spark):
    """The driver route's size decision and its edge fetch are the
    same bounded collect: building the lattice's labels runs exactly
    one Spark job.  The lattice is handed over as an in-memory frame
    so that its own generator plan (two broadcast jobs) stays out of
    the count."""
    eb = spark.createDataFrame(
        network.bidirectional(world.road_edges_df(spark)).toPandas())
    sc = spark.sparkContext
    group = "component-labels-one-job"
    sc.setJobGroup(group, group)
    try:
        network.component_labels(eb)
        n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert n_jobs == 1


def test_road_graph_over_limit_raises(spark, sf_dir, monkeypatch):
    """Road graphs have one route: past DRIVER_EDGE_LIMIT the network
    operators refuse the graph, naming the limit."""
    pts = world.points_df(spark, sf_dir)
    edges = world.road_edges_df(spark)
    monkeypatch.setattr(network, "DRIVER_EDGE_LIMIT", 10)
    with pytest.raises(ValueError, match="DRIVER_EDGE_LIMIT = 10 "):
        network.network_access(pts, edges, world.park_entrances_df(spark))
    with pytest.raises(ValueError, match="DRIVER_EDGE_LIMIT = 10 "):
        network.isochrone_summary(pts, edges)
    with pytest.raises(ValueError, match="DRIVER_EDGE_LIMIT = 10 "):
        network.network_access_prefilter(
            pts, edges, world.parks_df(spark),
            world.park_entrances_df(spark))


def _py_isochrones(edges, seeds, n_layers, hop):
    """Per-source pure-Python BFS oracle: {(point_id, node): dist}."""
    from collections import defaultdict
    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    out = {}
    for pid, seed in seeds:
        seen, frontier = {seed}, [seed]
        out[(pid, seed)] = 0.0
        for layer in range(1, n_layers + 1):
            nxt = {m for n in frontier for m in adj[n]} - seen
            seen |= nxt
            frontier = nxt
            out.update({(pid, m): layer * hop for m in nxt})
    return out


def test_isochrone_nodes_match_python_bfs(spark, sf_dir):
    """The driver labeled-BFS isochrones equal a per-source pure-Python
    BFS over the same lattice and snapped seeds."""
    pts = world.points_df(spark, sf_dir).where(
        F.col("point_id") % 50 == 0)
    edges = world.road_edges_df(spark)
    got = network.isochrone_nodes(pts, edges).toPandas()
    seeds = pts.select(
        "point_id",
        (network.snap_node_expr("y") * C.ROAD_N
         + network.snap_node_expr("x")).alias("node_id")).collect()
    want = _py_isochrones(
        [(r[0], r[1]) for r in edges.select("src", "dst").collect()],
        [(r[0], r[1]) for r in seeds],
        int(C.BUFFER_M // C.NET_HOP), C.NET_HOP)
    assert len(got) == len(want) > len(seeds)
    assert dict(zip(zip(got.point_id, got.node_id), got.net_dist)) == want


@pytest.mark.parametrize("seed", [3, 99])
def test_buckets_tiny_min_edge_exact_and_bounded(seed):
    """ADVICE r04: a 0.01-length edge must not blow the bucket count
    up to max_dist/0.01 iterations.  The clamped-delta solver with
    in-bucket re-expansion must stay exact vs a heap Dijkstra AND
    finish fast."""
    import random
    import time

    import numpy as np

    rng = random.Random(seed)
    n = 400
    edges = [(a, b, w)
             for _ in range(1600)
             for a, b in [(rng.randrange(n), rng.randrange(n))]
             if a != b
             for w in [float(rng.choice(
                 [0.01, 0.02, 5.0, 17.0, 60.0, 123.0]))]]
    sources = list({rng.randrange(n) for _ in range(4)})
    max_dist = 500.0
    want = {k: v for k, v in
            _py_dijkstra(edges, set(sources), max_dist).items()
            if v <= max_dist}
    # the oracle walks edges both ways — hand the solver both arcs
    src = np.array([e[0] for e in edges]
                   + [e[1] for e in edges], dtype=np.int64)
    dst = np.array([e[1] for e in edges]
                   + [e[0] for e in edges], dtype=np.int64)
    w = np.array([e[2] for e in edges] * 2)
    t0 = time.perf_counter()
    ids, dists = network.dijkstra_buckets(
        src, dst, w, np.array(sources, dtype=np.int64), max_dist)
    elapsed = time.perf_counter() - t0
    got = dict(zip(ids.tolist(), dists.tolist()))
    assert got == want                      # bit-identical, not approx
    # 50k one-pass buckets would take seconds; the clamp caps ~2048
    assert elapsed < 5.0


def test_prefilter_variant_distinguishes_from_full_od(spark):
    """accessibility.R:326-350 loop semantics (VERDICT r04 ask #7):
    the euclidean-prefilter columns must genuinely differ from the
    full-OD ones on the world fixture — the flag is the euclidean
    test (boundary-inclusive), the distance is the min over the
    euclidean candidate set only."""
    from greenexp_r_spark.registry import build_registry
    got = build_registry()["q_accessibility_network"].spark(
        spark, SF).toPandas()
    # (a) the two flags disagree somewhere
    assert (got["prefilter_in_buffer"]
            != got["reachable_in_buffer"]).any()
    # (b) the loop can report distances beyond the buffer (the
    # network cost to a euclidean candidate is unbounded by it)
    assert ((got["prefilter_in_buffer"])
            & (got["prefilter_dist"] > C.BUFFER_M)).any()
    # (c) the documented PREFILTER_MAX_DIST bound never truncates on
    # the connected lattice: every flagged row has a distance
    assert not (got["prefilter_in_buffer"]
                & got["prefilter_dist"].isna()).any()
    # (d) restricted-set min can only exceed-or-equal the full-OD min
    both = got.dropna(subset=["network_dist", "prefilter_dist"])
    assert (both["prefilter_dist"] >= both["network_dist"]).all()
    assert len(both) > 0
