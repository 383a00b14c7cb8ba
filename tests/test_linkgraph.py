"""Link-graph + PageRank centrality (operators/linkgraph.py).

Covers: pure-python reference parity of the integer PageRank
contract, driver-path ≡ distributed-path bit-equality, dangling-mass
redistribution, href-extraction parity with the DuckDB oracle
rendering, and the no-self-loop construction of the augmented arms.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from greenexp_r_spark import world
from greenexp_r_spark.dialect import DUCK
from greenexp_r_spark.operators import linkgraph as LG


def _mk(spark, edges, extra_nodes=()):
    hosts = sorted({s for s, _ in edges} | {d for _, d in edges}
                   | set(extra_nodes))
    nodes = spark.createDataFrame([(h,) for h in hosts], "host string")
    e = spark.createDataFrame(edges, "src string, dst string")
    return nodes, e


def _reference_pagerank(hosts, edges, rounds=LG.PR_ROUNDS,
                        total=LG.PR_TOTAL):
    """Dict-based reimplementation of the documented integer
    contract, independent of numpy/Spark."""
    n = len(hosts)
    outdeg = {h: 0 for h in hosts}
    for s, _ in edges:
        outdeg[s] += 1
    pr = {h: total // n for h in hosts}
    base = (LG.PR_BASE_NUM * (total // n)) // LG.PR_DEN
    for _ in range(rounds):
        inc = {h: 0 for h in hosts}
        for s, d in edges:
            inc[d] += pr[s] // outdeg[s]
        dang = sum(pr[h] for h in hosts if outdeg[h] == 0)
        pr = {h: base + (LG.PR_DAMP_NUM * (inc[h] + dang // n))
              // LG.PR_DEN for h in hosts}
    return pr, outdeg


EDGES = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"),
         ("d", "c"), ("d", "hub"), ("e", "hub"), ("a", "hub")]


def test_pagerank_matches_pure_python(spark):
    nodes, e = _mk(spark, EDGES, extra_nodes=["lonely"])
    got = {r["host"]: (r["outdeg"], r["pagerank_micro"])
           for r in LG.pagerank(nodes, e).collect()}
    hosts = sorted({s for s, _ in EDGES} | {d for _, d in EDGES}
                   | {"lonely"})
    pr, outdeg = _reference_pagerank(hosts, EDGES)
    assert set(got) == set(hosts)
    for h in hosts:
        assert got[h] == (outdeg[h], pr[h]), h


def _random_host_graph(seed, n_hosts=40, n_edges=120):
    import random
    rng = random.Random(seed)
    return sorted({(f"h{a}", f"h{b}")
                   for a, b in ((rng.randrange(n_hosts),
                                 rng.randrange(n_hosts))
                                for _ in range(n_edges)) if a != b})


def _lattice_host_graph(spark):
    """The road lattice as a host graph: one host per node, both
    directions of every road edge as links."""
    from greenexp_r_spark.operators import network
    e = (network.bidirectional(world.road_edges_df(spark))
         .select(F.col("src").cast("string").alias("src"),
                 F.col("dst").cast("string").alias("dst")))
    nodes = (e.select(F.col("src").alias("host"))
             .unionByName(e.select(F.col("dst").alias("host"))).distinct())
    return nodes, e


def test_distributed_equals_driver(spark, monkeypatch):
    """Both routes of pagerank give identical rows: the default limit
    takes the driver solve, a limit below the edge count the
    distributed power iteration — on the fixed graph, a seeded random
    graph and the road lattice."""
    from greenexp_r_spark.operators import network
    graphs = [_mk(spark, EDGES, extra_nodes=["lonely"]),
              _mk(spark, _random_host_graph(7), extra_nodes=["lonely"]),
              _lattice_host_graph(spark)]
    drv = [sorted(map(tuple, LG.pagerank(n, e).collect()))
           for n, e in graphs]
    calls = []
    distributed = LG._pagerank_distributed
    monkeypatch.setattr(LG, "_pagerank_distributed",
                        lambda *a: calls.append(1) or distributed(*a))
    monkeypatch.setattr(network, "DRIVER_EDGE_LIMIT", 3)
    for (n, e), want in zip(graphs, drv):
        assert sorted(map(tuple, LG.pagerank(n, e).collect())) == want
    assert len(calls) == len(graphs)


def test_dangling_receives_rank(spark):
    # 'hub' has only in-links, 'lonely' neither: both get base +
    # their share of the redistributed dangling mass; the hub gets
    # strictly more (it has in-links on top).
    nodes, e = _mk(spark, EDGES, extra_nodes=["lonely"])
    got = {r["host"]: r["pagerank_micro"]
           for r in LG.pagerank(nodes, e).collect()}
    assert got["lonely"] > 0
    assert got["hub"] > got["lonely"]


def test_extraction_matches_duckdb_oracle(spark, sf_dir):
    pts = world.points_df(spark, sf_dir)
    got = sorted(map(tuple,
                     LG.page_links(pts).select("src", "dst").collect()))
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')")
    want = sorted(map(tuple, con.execute(
        f"WITH points AS ({world.points_sql(DUCK)}) "
        + LG.edges_sql(DUCK)).fetchall()))
    assert got == want and len(got) > 0


def test_arms_never_self_loop_and_every_host_links(spark, sf_dir):
    pts = world.points_df(spark, sf_dir)
    edges = LG.page_links(pts).localCheckpoint(eager=True)
    assert edges.where(F.col("src") == F.col("dst")).count() == 0
    n_hosts = (pts.select(F.regexp_extract("url", LG.SRC_RE, 1))
               .distinct().count())
    n_src = edges.select("src").distinct().count()
    # the hub arm provably never self-loops, so every page host emits
    assert n_src == n_hosts


def test_gate_rank_join_covers_every_domain(spark, sf_dir):
    # every q_domain_stats row must carry a non-null rank: page hosts
    # are nodes by construction
    from greenexp_r_spark.registry_geo2 import _q_domain_stats
    out = _q_domain_stats(spark, sf_dir)
    assert out.where(F.col("pagerank_micro").isNull()).count() == 0
    assert out.where(F.col("outdeg") <= 0).count() == 0
