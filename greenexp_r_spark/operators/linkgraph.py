"""Host-level web link graph + PageRank centrality (the Common-Crawl
host-ranking quality signal).

Common Crawl publishes a host-level web graph and ranks hosts by
centrality; CCNet/RefinedWeb-style corpus pipelines use that ranking
as a document quality prior (link-respected hosts are kept, isolated
spam farms are down-weighted).  This module is that step over the
input_hint pages table:

  1. href extraction — a REAL regex parser over the page markup
     (``regexp_extract_all``, JVM-side, whole-stage codegen).  The
     synthetic corpus text carries no anchors, so the gate runs the
     parser over deterministically AUGMENTED markup (three ``<a
     href=...>`` anchors keyed off doc_id — the pii.augmented_text /
     dedup.augmented_corpus precedent).  Two "random" arms give the
     graph spread; a hub arm (every page links to one of five hub
     hosts) plants the realistic in-degree skew.
  2. host graph — one distinct-aggregate to (src_host, dst_host)
     edges.  Hosts are DIMENSION-sized relative to the corpus (the
     domain_stats grouping), so the graph itself is small even when
     the scan is 100 TB.
  3. PageRank — damping 85/100, uniform dangling-mass redistribution,
     ``PR_ROUNDS`` fixed power-iteration rounds in INTEGER micro-unit
     arithmetic (idiv): every step is exact BIGINT math, so a SQL
     oracle replays the whole iteration bit-for-bit (the Lloyd
     k-means / NB-classifier train→apply precedent).

Size-routing (the network.component_labels rule): one bounded fetch
of at most ``network.DRIVER_EDGE_LIMIT`` edges both picks the route
and hands the driver path its edges.  Edge sets within the limit
solve on the driver with vectorized numpy (int64 ``np.add.at``
scatter per round); larger graphs run the distributed path — per
round one edges⋈ranks join, one dst aggregate, one broadcast 1-row
dangling aggregate, ranks localCheckpointed EVERY round so no round
replays the previous join tree.  Values are bit-identical across the
two paths (tests/test_linkgraph.py).

100 TB posture: the corpus is touched ONCE (href explode + distinct);
everything after runs on the host dimension.  At 10^8 hosts the
distributed path is a per-round shuffle on host — the classic
web-graph PageRank shape.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..dialect import Dialect
from ..plans.bounded import fetch_at_most
from . import network

# --- augmentation + extraction contract ---------------------------
HOST_MOD = 1000           # matches world.points_sql's site{id%1000} hosts
LINK_ARMS = ((7, 101), (13, 407))   # h = (doc*m + a) % HOST_MOD
HUB_BASE, HUB_MOD = 17, 5           # hub arm: site{17 + doc%5}
# proof sketch (see tests): no arm can self-loop — arm0/arm1 reduce to
# 6d ≡ -101, 12d ≡ -407 (mod 1000), both unsolvable by gcd parity;
# the hub arm needs doc%5 = (17..21)%5 - shifted, also unsolvable.
HREF_RE = '<a href="https?://([^/"]+)/'
SRC_RE = "^https?://([^/]+)/"

# --- PageRank integer contract -------------------------------------
PR_TOTAL = 10**12         # total rank mass, micro-ish units
PR_ROUNDS = 5
PR_DAMP_NUM, PR_BASE_NUM, PR_DEN = 85, 15, 100


def anchors_sql(doc: str = "doc_id") -> str:
    """Shared SQL text (Spark F.expr ≡ DuckDB verbatim) appending the
    three deterministic anchors to a page's markup."""
    arms = []
    for m, a in LINK_ARMS:
        arms.append(
            f"'<a href=\"https://site' || "
            f"CAST((({doc}) * {m} + {a}) % {HOST_MOD} AS STRING) || "
            f"'.example/page/l\">x</a>'")
    arms.append(
        f"'<a href=\"https://site' || "
        f"CAST({HUB_BASE} + (({doc}) % {HUB_MOD}) AS STRING) || "
        f"'.example/page/l\">x</a>'")
    return " || ".join(arms)


def markup_sql(doc: str = "doc_id", text: str = "text") -> str:
    return f"({text} || {anchors_sql(doc)})"


def page_links(points: DataFrame, doc: str = "point_id") -> DataFrame:
    """(src, dst): DISTINCT host-level link edges, self-loops dropped.

    One corpus scan: markup augmentation, the real href regex, a host
    regex on the url, explode, then a distinct aggregate whose shuffle
    carries only (src, dst) host pairs — O(edges), never O(corpus
    bytes)."""
    hrefs = F.expr(
        f"regexp_extract_all({markup_sql(doc)}, '{HREF_RE}', 1)")
    src = F.regexp_extract(F.col("url"), SRC_RE, 1)
    return (points.select(src.alias("src"), F.explode(hrefs).alias("dst"))
            .where(F.col("src") != F.col("dst"))
            .distinct())


def graph_nodes(points: DataFrame, edges: DataFrame) -> DataFrame:
    """(host,): page hosts ∪ link-target hosts.  Dst-only hosts are
    genuine graph nodes (they accumulate rank, emit none — the
    dangling set)."""
    page_hosts = points.select(
        F.regexp_extract(F.col("url"), SRC_RE, 1).alias("host")).distinct()
    return (page_hosts
            .unionByName(edges.select(F.col("dst").alias("host")))
            .distinct())


# ------------------------------------------------------------------
def pagerank(nodes: DataFrame, edges: DataFrame,
             rounds: int = PR_ROUNDS, total: int = PR_TOTAL) -> DataFrame:
    """(host, outdeg, pagerank_micro) after ``rounds`` exact integer
    power-iteration steps:

        base      = (15 * (total DIV n)) DIV 100
        contrib_e = pr[src] DIV outdeg[src]
        dang      = SUM(pr[v]) over outdeg-0 nodes
        pr'[v]    = base + (85 * (inc[v] + dang DIV n)) DIV 100

    All operands non-negative BIGINT, so Spark DIV ≡ DuckDB ``//`` ≡
    Python ``//`` ≡ numpy int64 division — the driver, distributed and
    SQL-oracle paths agree bit-for-bit.

    `nodes` is collected on the driver route, so a caller whose nodes
    derive from `edges` should localCheckpoint `edges` first: the
    extraction scan then runs once."""
    ep = fetch_at_most(edges.select("src", "dst"), network.DRIVER_EDGE_LIMIT)
    if ep is None:
        return _pagerank_distributed(nodes, edges, rounds, total)
    return _pagerank_driver(nodes, ep, rounds, total)


def pagerank_arrays(n: int, src_i: np.ndarray, dst_i: np.ndarray,
                    rounds: int = PR_ROUNDS,
                    total: int = PR_TOTAL) -> tuple:
    """The pure integer contract over index arrays: returns
    (outdeg, pr) int64 vectors.  Factored out so property tests can
    hammer it against an independent reference without Spark."""
    outdeg = np.zeros(n, dtype=np.int64)
    np.add.at(outdeg, src_i, 1)
    pr = np.full(n, total // n, dtype=np.int64)
    base = (PR_BASE_NUM * (total // n)) // PR_DEN
    linked = outdeg > 0
    for _ in range(rounds):
        contrib = pr[src_i] // outdeg[src_i]
        inc = np.zeros(n, dtype=np.int64)
        np.add.at(inc, dst_i, contrib)
        dang = int(pr[~linked].sum())
        pr = base + (PR_DAMP_NUM * (inc + dang // n)) // PR_DEN
    return outdeg, pr


def _pagerank_driver(nodes: DataFrame, ep: pd.DataFrame,
                     rounds: int, total: int) -> DataFrame:
    """Dimension-sized graphs solve on the driver: factorized host
    index, int64 scatter-add per round.  Bit-identical to the
    distributed path (test-pinned)."""
    spark = nodes.sparkSession
    hosts = [r[0] for r in nodes.select("host").collect()]
    n = len(hosts)
    if n == 0:
        return spark.createDataFrame(
            [], schema="host string, outdeg bigint, pagerank_micro bigint")
    idx = pd.Index(hosts)
    src_i = idx.get_indexer(ep["src"].to_numpy())
    dst_i = idx.get_indexer(ep["dst"].to_numpy())
    # contract: edges ⊆ nodes × nodes (graph_nodes guarantees it);
    # a silent -1 from get_indexer would scatter into the last row
    if len(ep) and (src_i.min() < 0 or dst_i.min() < 0):
        raise ValueError("pagerank: edge endpoint missing from nodes")
    outdeg, pr = pagerank_arrays(n, src_i, dst_i, rounds, total)
    out = pd.DataFrame({"host": hosts,
                        "outdeg": outdeg,
                        "pagerank_micro": pr})
    return spark.createDataFrame(
        out, schema="host string, outdeg bigint, pagerank_micro bigint")


def _pagerank_distributed(nodes: DataFrame, edges: DataFrame,
                          rounds: int, total: int) -> DataFrame:
    """Corpus-scale host graphs: per round one edges⋈ranks equi-join +
    one dst hash-aggregate + one broadcast 1-row dangling aggregate.
    Ranks are localCheckpointed EVERY round (iterative-plan doctrine:
    anything less replays the whole prior join tree)."""
    nodes = nodes.localCheckpoint(eager=True)
    edges = edges.localCheckpoint(eager=True)
    n = nodes.count()
    if n == 0:
        return nodes.sparkSession.createDataFrame(
            [], schema="host string, outdeg bigint, pagerank_micro bigint")
    outd = (edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
            .localCheckpoint(eager=True))
    base = (PR_BASE_NUM * (total // n)) // PR_DEN
    pr = (nodes.withColumn("pr", F.lit(total // n))
          .localCheckpoint(eager=True))
    for _ in range(rounds):
        contrib = (edges.join(pr, edges["src"] == pr["host"])
                   .join(outd, "src")
                   .select(F.col("dst").alias("host"),
                           F.expr("pr DIV outdeg").alias("c")))
        inc = contrib.groupBy("host").agg(
            F.sum("c").cast("long").alias("inc"))
        dang = (pr.join(outd, pr["host"] == outd["src"], "left")
                .where(F.col("outdeg").isNull())
                .agg(F.coalesce(F.sum("pr"), F.lit(0))
                     .cast("long").alias("dang")))
        pr = (nodes.join(inc, "host", "left")
              .crossJoin(F.broadcast(dang))
              .select("host",
                      (F.lit(base) + F.expr(
                          f"({PR_DAMP_NUM} * (coalesce(inc, CAST(0 AS"
                          f" BIGINT)) + (dang DIV {n}))) DIV {PR_DEN}"))
                      .cast("long").alias("pr")))
        pr = pr.localCheckpoint(eager=True)
    return (pr.join(outd, pr["host"] == outd["src"], "left")
            .select(pr["host"],
                    F.coalesce(F.col("outdeg"), F.lit(0))
                    .cast("long").alias("outdeg"),
                    F.col("pr").alias("pagerank_micro")))


# ------------------------------------------------------------- SQL
def edges_sql(d: Dialect, points: str = "points",
              doc: str = "point_id") -> str:
    """DuckDB rendering of page_links (unnest ≡ explode)."""
    return f"""
SELECT DISTINCT src, dst FROM (
  SELECT regexp_extract(url, '{SRC_RE}', 1) AS src,
         unnest(regexp_extract_all({markup_sql(doc)}, '{HREF_RE}', 1))
             AS dst
  FROM {points}
) _e WHERE src <> dst
"""


def pagerank_ctes(d: Dialect, points: str = "points",
                  doc: str = "point_id",
                  rounds: int = PR_ROUNDS, total: int = PR_TOTAL) -> str:
    """CTE chain replaying the exact integer iteration; append after
    a `points` CTE.  Exposes `lg_outd(src, outdeg)` and
    `lg_pr{rounds}(host, pr)`."""
    base = d.idiv(f"{PR_BASE_NUM} * ({d.idiv(str(total), 'lg_n.n')})",
                  str(PR_DEN))
    parts = [
        f"lg_edges AS ({edges_sql(d, points, doc)})",
        f"""lg_nodes AS (
  SELECT DISTINCT regexp_extract(url, '{SRC_RE}', 1) AS host
  FROM {points}
  UNION
  SELECT DISTINCT dst AS host FROM lg_edges)""",
        """lg_outd AS (
  SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg
  FROM lg_edges GROUP BY src)""",
        "lg_n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM lg_nodes)",
        f"""lg_pr0 AS (
  SELECT host, CAST({d.idiv(str(total), 'lg_n.n')} AS BIGINT) AS pr
  FROM lg_nodes CROSS JOIN lg_n)""",
    ]
    for t in range(rounds):
        contrib = d.idiv("p.pr", "o.outdeg")
        step = d.idiv(
            f"{PR_DAMP_NUM} * (COALESCE(i.inc, 0) +"
            f" {d.idiv('dg.dang', 'lg_n.n')})", str(PR_DEN))
        parts.append(f"""lg_dang{t} AS (
  SELECT CAST(COALESCE(SUM(p.pr), 0) AS BIGINT) AS dang
  FROM lg_pr{t} p LEFT JOIN lg_outd o ON o.src = p.host
  WHERE o.src IS NULL)""")
        parts.append(f"""lg_inc{t} AS (
  SELECT e.dst AS host, CAST(SUM({contrib}) AS BIGINT) AS inc
  FROM lg_edges e
  JOIN lg_pr{t} p ON p.host = e.src
  JOIN lg_outd o ON o.src = e.src
  GROUP BY e.dst)""")
        parts.append(f"""lg_pr{t + 1} AS (
  SELECT nd.host,
         CAST(({base}) + ({step}) AS BIGINT) AS pr
  FROM lg_nodes nd
  CROSS JOIN lg_n
  CROSS JOIN lg_dang{t} dg
  LEFT JOIN lg_inc{t} i ON i.host = nd.host)""")
    return ",\n".join(parts)
