"""Network accessibility: bounded multi-source shortest paths on the
road graph, solved on the driver and broadcast back (SURVEY.md J6/A12).

Reference semantics: sfnetworks::st_network_cost Dijkstra from each
address's snapped node to park pseudo-entrances, min per address,
NA → unreachable → flag FALSE (accessibility.R:320-358).  The
reference solves the graph in memory on one node; so does this
module.

Spark mapping: the road network is a *dimension* (a country's OSM
extract is 10^7-10^8 edges, KBs-GBs) while the points table is the
fact side.  One bounded fetch (`plans.bounded.fetch_at_most`) brings
the directed edge set to the driver, a vectorized numpy solve
(`dijkstra_buckets`, `labeled_bfs_layers`) runs there, and the
distance table is broadcast back onto the points — the plan shape of
broadcasting a park dim, with no iterative shuffle round.  A road
graph of more than DRIVER_EDGE_LIMIT directed edges raises
`ValueError` naming the limit rather than taking a path no test runs
at that size.

Connected components (`component_labels`) also serve the dedup and
near-dup pair sets, whose size grows with the corpus, so they keep a
distributed min-label propagation past the same limit; the bounded
fetch picks the route.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F

from .. import constants as C
from ..dialect import SPARK
from ..plans.bounded import fetch_at_most


def bidirectional(edges: DataFrame) -> DataFrame:
    """Undirected edges stored once → directed both ways at use."""
    fwd = edges.select("src", "dst", "length_m")
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"),
                       "length_m")
    return fwd.unionByName(rev)


DRIVER_EDGE_LIMIT = 8_000_000   # directed edges that fit a driver
# solve: ~200 MB Arrow transfer; at the limit the bucket Dijkstra takes
# 2.3 s and the component solve 5.8 s on a 4-core Xeon
# (tools/microbench_solvers.py, best of 3)


def _fetch_road_graph(edges: DataFrame, cols: tuple[str, ...],
                      per_row: int = 1) -> pd.DataFrame:
    """The road graph's `cols` on the driver in one bounded job;
    `per_row` is the number of directed edges a row stands for (2 for
    a stored undirected table the caller mirrors).  Road graphs have
    no distributed route, so a larger graph raises."""
    pdf = fetch_at_most(edges.select(*cols), DRIVER_EDGE_LIMIT // per_row)
    if pdf is None:
        raise ValueError(
            f"road graph exceeds DRIVER_EDGE_LIMIT = {DRIVER_EDGE_LIMIT:,}"
            " directed edges; network solves run on the driver only")
    return pdf


def dijkstra_buckets(src: np.ndarray, dst: np.ndarray, w: np.ndarray,
                     seed_ids: np.ndarray, max_dist: float
                     ) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized multi-source Dijkstra (Dial/delta-stepping with
    delta = the minimum edge weight): pure numpy, no per-edge Python.

    With delta ≤ every edge weight, all unsettled nodes whose tentative
    distance falls in bucket [b·delta, (b+1)·delta) are final when the
    bucket is reached — an in-bucket improvement would need an edge
    shorter than delta — so each bucket settles in one vectorized
    gather + minimum.at relaxation.  Values are bit-identical to a
    heap Dijkstra: every node's distance is the same source→node
    prefix sum of doubles, and min over equal candidates is
    order-independent.

    Returns (node_ids, dists) for nodes with dist ≤ max_dist.
    """
    # hash-based id compaction: pd.factorize measured ~10× faster than
    # sort-based np.unique(return_inverse) at this scale (no global
    # sort, one hash pass); compact order is first-appearance, which
    # is irrelevant here — distances map back through `nodes`
    inv, nodes = pd.factorize(np.concatenate([src, dst, seed_ids]))
    s_c = inv[:len(src)]
    d_c = inv[len(src):len(src) + len(dst)]
    seed_c = np.unique(inv[len(src) + len(dst):])
    nodes = np.asarray(nodes, dtype=np.int64)
    order = np.argsort(s_c, kind="stable")
    s_s, d_s, w_s = s_c[order], d_c[order], w[order]
    indptr = np.searchsorted(s_s, np.arange(len(nodes) + 1))
    n = len(nodes)
    dist = np.full(n, np.inf)
    dist[seed_c] = 0.0
    min_w = float(w_s.min()) if len(w_s) else 1.0
    if min_w <= 0:
        raise ValueError("non-positive edge weight")
    # delta clamped from BELOW (ADVICE r04): with delta = min edge
    # weight, a road graph with a 0.01 m shortest edge runs
    # max_dist/0.01 Python iterations of O(n) flatnonzero.  Classic
    # delta-stepping allows delta > min edge provided nodes improved
    # WITHIN the current bucket are re-expanded, which the
    # `expanded_at` array below does — each node re-relaxes only when
    # its distance strictly improved since its last expansion, so the
    # result is still exact Dijkstra (and bit-identical: every final
    # distance is the same prefix sum of doubles along the same
    # shortest path; ties resolve through order-independent minima).
    _MAX_BUCKETS = 2048
    delta = max(min_w, float(max_dist) / _MAX_BUCKETS)
    # when min_w already gives few buckets, the re-expansion test
    # never fires (no edge shorter than the bucket span) and this is
    # exactly the one-pass Dial solver it replaces
    expanded_at = np.full(n, np.inf)

    def relax(cur: np.ndarray) -> None:
        starts, cnt = indptr[cur], indptr[cur + 1] - indptr[cur]
        total = int(cnt.sum())
        if total == 0:
            return
        eidx = (np.repeat(starts, cnt)
                + (np.arange(total) - np.repeat(np.cumsum(cnt) - cnt, cnt)))
        cand = np.repeat(dist[cur], cnt) + w_s[eidx]
        ok = cand <= max_dist
        np.minimum.at(dist, d_s[eidx[ok]], cand[ok])

    n_buckets = int(float(max_dist) / delta) + 2
    for b in range(n_buckets):
        lo, hi = b * delta, (b + 1) * delta
        if lo > max_dist:
            break
        while True:
            cur = np.flatnonzero((dist >= lo) & (dist < hi)
                                 & (dist <= max_dist)
                                 & (dist < expanded_at))
            if not len(cur):
                break
            expanded_at[cur] = dist[cur]
            relax(cur)
    keep = (dist <= max_dist) & np.isfinite(dist)
    return nodes[keep], dist[keep]


def multi_source_dist(edges_bidir: DataFrame, sources: DataFrame,
                      max_dist: float = C.NET_MAX_DIST) -> DataFrame:
    """(node_id, net_dist): min network distance from any `sources`
    node_id, for every node within max_dist — one bounded edge fetch,
    the vectorized `dijkstra_buckets` solve on the driver (a ~2M-edge
    lattice solves in ~0.2 s), and the table handed back as a local
    DataFrame for the caller to broadcast."""
    spark = edges_bidir.sparkSession
    pdf = _fetch_road_graph(edges_bidir, ("src", "dst", "length_m"))
    seeds = np.array(
        [r[0] for r in sources.select("node_id").distinct().collect()],
        dtype=np.int64)
    node_ids, dists = dijkstra_buckets(
        pdf["src"].to_numpy(dtype=np.int64),
        pdf["dst"].to_numpy(dtype=np.int64),
        pdf["length_m"].to_numpy(dtype=np.float64),
        seeds, max_dist)
    return spark.createDataFrame(
        pd.DataFrame({"node_id": node_ids, "net_dist": dists}),
        "node_id long, net_dist double")


def snap_node_expr(coord: str):
    """Snap a coordinate to the nearest lattice index (exact — lattice
    spacing 100 m, coordinates integer meters)."""
    last = C.ROAD_N - 1
    idx = F.floor((F.col(coord) + 50.0) / 100.0).cast("long")
    return F.least(F.greatest(idx, F.lit(0)), F.lit(last))


def network_access(points: DataFrame, edges: DataFrame,
                   entrances: DataFrame,
                   buffer_m: float = C.BUFFER_M,
                   max_dist: float = C.NET_MAX_DIST) -> DataFrame:
    """(point_id, network_dist, reachable_in_buffer): bounded network
    distance from each point's snapped node to the nearest park
    entrance; NA→FALSE semantics of accessibility.R:345-349.

    Edge weights are `length_m` — the reference's
    `weight = edge_length()` Dijkstra (accessibility.R:343-356), so the
    heterogeneous-weight lattice and the uniform one take the same
    solve.  With max_dist = EXT_MAX_DIST (≥ the world's max finite
    shortest path) this is the full-OD fallback (accessibility.R:
    352-358, golden Max 27,532 m): distances are exact for every
    connected node and only disconnected islands stay null."""
    dist = multi_source_dist(
        bidirectional(edges),
        entrances.select(F.col("entrance_node").alias("node_id")),
        max_dist=max_dist)
    return _attach_points(points, dist, buffer_m)


def _attach_points(points: DataFrame, dist: DataFrame,
                   buffer_m: float) -> DataFrame:
    snapped = points.select(
        "point_id",
        (snap_node_expr("y") * C.ROAD_N + snap_node_expr("x"))
        .alias("node_id"))
    out = snapped.join(F.broadcast(dist), "node_id", "left")
    return out.select(
        "point_id",
        F.col("net_dist").alias("network_dist"),
        # strict < with NA->FALSE: accessibility.R:357 full-OD flag is
        # rowSums(dist < buffer) > 0; unreachable (Inf/NA) -> FALSE
        (F.col("net_dist").isNotNull()
         & (F.col("net_dist") < buffer_m)).alias("reachable_in_buffer"))


PREFILTER_MAX_DIST = 1000.0   # per-park search horizon for the
# euclidean-prefilter variant: a euclid<=BUFFER_M candidate on the
# 100 m lattice is at most L1<=sqrt(2)*300 + 2*50 snap slack away by
# network, far under 1000 — the bound provably never truncates on a
# connected lattice (asserted in tests), and it is part of the
# operator's documented contract (the ORACLE applies the same bound)


def network_access_prefilter(points: DataFrame, edges: DataFrame,
                             parks: DataFrame, entrances: DataFrame,
                             buffer_m: float = C.BUFFER_M,
                             max_dist: float = PREFILTER_MAX_DIST
                             ) -> DataFrame:
    """The reference's entrances_within_buffer=TRUE loop
    (accessibility.R:326-350), exact semantics (VERDICT r04 ask #7):

      per address: euclidean buffer ∩ greenspace points → candidate
      parks (boundary-INCLUSIVE d<=buffer, st_intersection semantics
      — deliberately different from the full-OD flag's strict-<);
      network cost computed ONLY to flagged candidates; the reported
      distance is the min over that restricted set (it may exceed
      buffer_m, and it may exceed the full-OD minimum when the
      network-nearest park lies outside the euclidean buffer); NA and
      flag=FALSE when no candidate exists — the flag reflects the
      EUCLIDEAN test, not the network one.

    Output: (point_id, prefilter_dist, prefilter_in_buffer).

    Scale shape: the per-(address, candidate) network cost factors
    through per-PARK bounded distance tables — parks are a dimension,
    so k bounded SSSP solves on the driver (each a radius-max_dist
    ball, ~ms on the lattice) broadcast back; the candidate join is a
    broadcast equi-join refined by exact integer d².  No per-address
    loop anywhere (the reference iterates addresses one by one with a
    progress bar — 7.2/sec; this is three joins)."""
    spark = points.sparkSession
    qualifying = parks.where(F.col("area_m2") > C.MIN_GREENSPACE_M2) \
        .select("park_id", "cx", "cy")
    # per-park bounded distance tables, driver-solved (dimension-sized);
    # collect the stored (undirected) edges once and mirror numpy-side
    # — half the Arrow transfer of collecting bidirectional()
    epdf = _fetch_road_graph(edges, ("src", "dst", "length_m"), per_row=2)
    s1 = epdf["src"].to_numpy(dtype=np.int64)
    d1 = epdf["dst"].to_numpy(dtype=np.int64)
    w1 = epdf["length_m"].to_numpy(dtype=np.float64)
    src = np.concatenate([s1, d1])
    dst = np.concatenate([d1, s1])
    w = np.concatenate([w1, w1])
    ent = entrances.select("park_id", "entrance_node").toPandas()
    # a node farther than max_dist by NETWORK is farther by Chebyshev
    # too (every lattice edge moves 100 m in one axis at cost >=
    # length), so each park's solve only needs the edges inside its
    # max_dist ball — 60 solves of ~1k edges instead of 60 full-graph
    # factorizations
    n_lat = C.ROAD_N
    si, sj = src % n_lat, src // n_lat
    # each lattice edge advances one cell at cost >= min weight →
    # more than ceil(max_dist/min_w) cells away is unreachable
    # (weights don't change across entrances: reduce once, not per park)
    min_w = float(w.min()) if len(w) else 1.0
    reach_cells = int(np.ceil(max_dist / max(min_w, 1e-9))) + 1
    rows = []
    for pid, node in zip(ent["park_id"], ent["entrance_node"]):
        ei, ej = int(node) % n_lat, int(node) // n_lat
        m = ((np.abs(si - ei) <= reach_cells)
             & (np.abs(sj - ej) <= reach_cells))
        ids, ds = dijkstra_buckets(
            src[m], dst[m], w[m],
            np.array([node], dtype=np.int64), max_dist)
        rows.append(pd.DataFrame({
            "park_id": np.int64(pid), "node_id": ids, "net_dist": ds}))
    pdist = spark.createDataFrame(
        pd.concat(rows, ignore_index=True) if rows else
        pd.DataFrame({"park_id": [], "node_id": [], "net_dist": []}),
        "park_id long, node_id long, net_dist double")
    # euclidean candidates through the broadcast cell→park index
    # (equi-join on cell_id + exact integer d² refine — the north_rule
    # join shape, no nested loop even at 10^12 points)
    from .pages_ops import cell_membership_index
    r2 = int(buffer_m) ** 2
    idx = cell_membership_index(
        qualifying.withColumn("radius", F.lit(float(buffer_m))))
    pts_c = points.select(
        "point_id", "x", "y",
        (F.floor(F.col("x") / C.CELL_SIZE).cast("long") * C.CELL_SHIFT
         + F.floor(F.col("y") / C.CELL_SIZE).cast("long"))
        .alias("cell_id"))
    cand = pts_c.join(F.broadcast(idx), "cell_id").where(
        F.expr(f"{SPARK.dist2('x', 'y', 'cx', 'cy')} <= {r2}"))
    snapped = points.select(
        "point_id",
        (snap_node_expr("y") * C.ROAD_N + snap_node_expr("x"))
        .alias("node_id"))
    got = (cand.select("point_id", "park_id")
           .join(snapped, "point_id")
           .join(F.broadcast(pdist), ["park_id", "node_id"], "left")
           .groupBy("point_id")
           .agg(F.min("net_dist").alias("prefilter_dist")))
    # flag = euclidean candidates EXIST (accessibility.R:349's is.na
    # test: min over an all-Inf candidate cost row is Inf, not NA, so
    # the flag is TRUE whenever the euclidean intersection is
    # non-empty — even if no candidate is reachable within the bound)
    got = got.withColumn("prefilter_in_buffer", F.lit(True))
    return (points.select("point_id").join(got, "point_id", "left")
            .select("point_id", "prefilter_dist",
                    F.coalesce("prefilter_in_buffer", F.lit(False))
                    .alias("prefilter_in_buffer")))


def labeled_bfs_layers(src: np.ndarray, dst: np.ndarray,
                       seed_pids: np.ndarray, seed_nodes: np.ndarray,
                       n_layers: int, hop: float
                       ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Per-source bounded BFS on a uniform-weight bidirectional edge
    set, vectorized per layer (the driver-side isochrone solve).
    Returns (point_ids, node_ids, dists) — one row per (source,
    reached node)."""
    inv, nodes = pd.factorize(np.concatenate([src, dst, seed_nodes]))
    s_c = inv[:len(src)]
    d_c = inv[len(src):len(src) + len(dst)]
    seeds_c = inv[len(src) + len(dst):]
    nodes = np.asarray(nodes, dtype=np.int64)
    order = np.argsort(s_c, kind="stable")
    s_s, d_s = s_c[order], d_c[order]
    indptr = np.searchsorted(s_s, np.arange(len(nodes) + 1))
    out_p, out_n, out_d = [], [], []
    for pid, seed in zip(seed_pids, seeds_c):
        seen = np.zeros(len(nodes), dtype=bool)
        seen[seed] = True
        frontier = np.array([seed], dtype=np.int64)
        out_p.append(np.full(1, pid))
        out_n.append(nodes[frontier])
        out_d.append(np.zeros(1))
        for layer in range(1, n_layers + 1):
            starts = indptr[frontier]
            cnt = indptr[frontier + 1] - starts
            total = int(cnt.sum())
            if not total:
                break
            eidx = (np.repeat(starts, cnt)
                    + (np.arange(total)
                       - np.repeat(np.cumsum(cnt) - cnt, cnt)))
            nxt = np.unique(d_s[eidx])
            nxt = nxt[~seen[nxt]]
            if not len(nxt):
                break
            seen[nxt] = True
            frontier = nxt
            out_p.append(np.full(len(nxt), pid))
            out_n.append(nodes[nxt])
            out_d.append(np.full(len(nxt), layer * hop))
    return (np.concatenate(out_p), np.concatenate(out_n),
            np.concatenate(out_d))


def isochrone_nodes(points_sample: DataFrame, edges: DataFrame,
                    max_dist: float = C.BUFFER_M,
                    hop: float = C.NET_HOP) -> DataFrame:
    """Per-source isochrone node sets (A12, ndvi_calc.R:204-211):
    (point_id, node_id, net_dist) for every node within max_dist of
    each sample point's snapped node.  One bounded edge fetch +
    per-source vectorized BFS layers on the driver (uniform weights →
    net_dist = layer·hop)."""
    spark = edges.sparkSession
    pdf = _fetch_road_graph(bidirectional(edges), ("src", "dst"))
    seeds = points_sample.select(
        "point_id",
        (snap_node_expr("y") * C.ROAD_N + snap_node_expr("x"))
        .alias("node_id")).distinct().toPandas()
    p, n, d = labeled_bfs_layers(
        pdf["src"].to_numpy(dtype=np.int64),
        pdf["dst"].to_numpy(dtype=np.int64),
        seeds["point_id"].to_numpy(dtype=np.int64),
        seeds["node_id"].to_numpy(dtype=np.int64),
        int(max_dist // hop), hop)
    return spark.createDataFrame(
        pd.DataFrame({"point_id": p, "node_id": n, "net_dist": d}),
        "point_id long, node_id long, net_dist double")


def isochrone_summary(points_sample: DataFrame, edges: DataFrame,
                      max_dist: float = C.BUFFER_M) -> DataFrame:
    """A12 node count + total network distance + P5 convex-hull area
    in ONE isochrone computation (ndvi_calc.R:204-236) — the r5
    slot-consolidation of q_isochrone_nodes + q_isochrone_hull: both
    shapes shared isochrone_nodes, so one applyInPandas pass now
    emits every per-source summary column.
    Output: (point_id, n_nodes, total_dist, hull_area_m2).

    Exactness: net_dist values are multiples of the lattice hop
    (100 m), so the per-group float sum is exact under any order —
    the oracle's SUM(net_dist) matches bit-for-bit."""
    from pyspark.sql.types import (DoubleType, LongType, StructField,
                                   StructType)
    from ..kernels import geom as G

    iso = isochrone_nodes(points_sample, edges, max_dist)
    nodes = iso.select(
        "point_id", "net_dist",
        (F.col("node_id") % C.ROAD_N).cast("double").alias("nx"),
        F.floor(F.col("node_id") / C.ROAD_N).cast("double").alias("ny"))

    schema = StructType([
        StructField("point_id", LongType()),
        StructField("n_nodes", LongType()),
        StructField("total_dist", DoubleType()),
        StructField("hull_area_m2", DoubleType()),
    ])

    def summarize(key, pdf: pd.DataFrame) -> pd.DataFrame:
        pts = pdf[["nx", "ny"]].to_numpy() * C.ROAD_SPACING
        h = G.convex_hull(pts)
        area = abs(G.polygon_area(h)) if len(h) >= 3 else 0.0
        return pd.DataFrame({"point_id": [key[0]],
                             "n_nodes": [len(pdf)],
                             "total_dist": [float(pdf["net_dist"].sum())],
                             "hull_area_m2": [area]})

    return nodes.groupBy("point_id").applyInPandas(summarize, schema)


def min_label_components(src: np.ndarray, dst: np.ndarray
                         ) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized connected components (Shiloach–Vishkin-style
    min-label propagation with pointer jumping): pure numpy, no
    per-edge Python (VERDICT r03 'What's wrong #2').

    Requires a bidirectional edge set (both callers pass one).  Each
    outer round takes the per-node min of incident labels via ONE
    sorted reduceat (buffered ufunc — ~10× faster than minimum.at),
    then pointer-jumps label←label[label] to a fixpoint, collapsing
    chains exponentially; converges in O(log diameter) rounds.  The
    fixpoint is an arbitrary-but-consistent per-component
    representative (compact codes are hash-order); a final segment-min
    remap turns it into the minimum member id — the same canonical
    label as the distributed propagation.

    Returns (node_ids, labels) over every node in the edge set.
    """
    # hash-based compaction (see dijkstra_buckets): compact codes are
    # in FIRST-APPEARANCE order, not id order, so the propagation's
    # min-compact-code fixpoint is an arbitrary-but-consistent
    # component representative; the true min MEMBER ID is restored by
    # one segment-min remap at the end
    inv, uniques = pd.factorize(np.concatenate([src, dst]))
    nodes = np.asarray(uniques, dtype=np.int64)
    if not len(nodes):
        return nodes, nodes
    s_c, d_c = inv[:len(src)], inv[len(src):]
    order = np.argsort(d_c, kind="stable")
    d_sorted, s_sorted = d_c[order], s_c[order]
    # group starts via neighbor-difference flags (O(n), avoids a
    # second sort-based unique)
    firsts = np.empty(len(d_sorted), dtype=bool)
    firsts[0] = True
    np.not_equal(d_sorted[1:], d_sorted[:-1], out=firsts[1:])
    starts = np.flatnonzero(firsts)
    uniq_d = d_sorted[starts]
    label = np.arange(len(nodes), dtype=np.int64)
    while True:
        prev = label
        nbr_min = np.minimum.reduceat(label[s_sorted], starts)
        label = label.copy()
        label[uniq_d] = np.minimum(label[uniq_d], nbr_min)
        while True:                      # pointer jumping
            jumped = label[label]
            if np.array_equal(jumped, label):
                break
            label = jumped
        if np.array_equal(label, prev):
            break
    # remap each component's representative to its minimum MEMBER id
    # (compact order is first-appearance, so min compact ≠ min id)
    rep_min = np.full(len(nodes), np.iinfo(np.int64).max)
    np.minimum.at(rep_min, label, nodes)
    return nodes, rep_min[label]


COMPONENT_MAX_ROUNDS = 64   # distributed propagation's round cap;
# pointer jumping needs O(log diameter) rounds


def component_labels(edges_bidir: DataFrame) -> DataFrame:
    """(node_id, label): connected-component labels, label = the
    minimum node_id of the component (stable canonical
    representative).  Shared by A10 (largest component) and the dedup
    and near-dup capstones (clusters → canonical doc).

    Size-routed by one bounded fetch: an edge set of at most
    DRIVER_EDGE_LIMIT rows (candidate pairs, a road graph) arrives in
    that same job and is solved by `min_label_components` on the
    driver; a larger one takes the distributed min-label propagation.
    Labels are identical either way (tests/test_network_parity.py)."""
    pdf = fetch_at_most(edges_bidir.select("src", "dst"), DRIVER_EDGE_LIMIT)
    if pdf is None:
        return _component_labels_distributed(edges_bidir)
    node_ids, labels = min_label_components(
        pdf["src"].to_numpy(dtype=np.int64),
        pdf["dst"].to_numpy(dtype=np.int64))
    return edges_bidir.sparkSession.createDataFrame(
        pd.DataFrame({"node_id": node_ids, "label": labels}),
        "node_id long, label long")


def _component_labels_distributed(edges_bidir: DataFrame) -> DataFrame:
    """Min-label propagation with pointer jumping, to fixpoint, for
    corpus-sized edge sets.  The edge set is re-read every round, so
    it is checkpointed first; pointer jumping collapses label chains
    exponentially (O(log diameter) rounds instead of O(diameter))."""
    edges_bidir = edges_bidir.select("src", "dst").localCheckpoint(eager=True)
    nodes = (edges_bidir.select(F.col("src").alias("node_id"))
             .union(edges_bidir.select(F.col("dst").alias("node_id")))
             .distinct())
    labels = nodes.withColumn("label", F.col("node_id"))
    for it in range(COMPONENT_MAX_ROUNDS):
        # neighbor min (label propagation step)
        nbr = (labels.join(edges_bidir,
                           labels["node_id"] == edges_bidir["src"])
               .select(F.col("dst").alias("node_id"), "label"))
        # pointer jump: label[label[v]]
        lmap = labels.select(F.col("node_id").alias("label"),
                             F.col("label").alias("jump"))
        jumped = (labels.join(lmap, "label")
                  .select("node_id", F.col("jump").alias("label")))
        prop = (nbr.unionByName(labels).unionByName(jumped)
                .groupBy("node_id").agg(F.min("label").alias("label")))
        prop = prop.localCheckpoint(eager=True)
        # convergence is checked from the fourth round on
        done = it >= 3 and (prop.alias("p").join(labels.alias("l"), "node_id")
                            .where(F.col("p.label") != F.col("l.label"))
                            .limit(1).count()) == 0
        labels = prop
        if done:
            break
    return labels


def largest_component_size(edges_bidir: DataFrame) -> DataFrame:
    """Size of the largest connected component (A10,
    ndvi_calc.R:151-171).  Returns a 1-row DataFrame
    (component_size BIGINT)."""
    labels = component_labels(edges_bidir)
    return (labels.groupBy("label").agg(F.count(F.lit(1)).alias("n"))
            .agg(F.max("n").alias("component_size")))
