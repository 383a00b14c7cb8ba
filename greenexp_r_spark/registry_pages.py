"""Gate queries over the input_hint pages table (url, warc_ts,
html, text, lang): snapshot dedup + byte-identical extraction, the
url-keyed exposure join (the north-star shape), and the cell-bucketed
spatial-join stats.

Oracles are built from the same shared-SQL pages fragment
(sources/pages.pages_sql) and the world CTEs, so the value hashes are
bit-identical — including the extracted ``text`` column itself, which
makes the hash compare a per-row byte-identity proof for the
extraction invariant.
"""

from __future__ import annotations

from . import constants as C
from . import world
from .dialect import DUCK, Dialect
from .operators import accessibility, availability, pages_ops
from .registry import QSpec, _ndvi_ctes, _near_cte
from .sources import pages as P


def _snap_ctes(d: Dialect) -> str:
    """pages + latest-capture CTEs (shared by all three oracles)."""
    return f"""pages AS ({P.pages_sql(d)}),
latest AS (SELECT url, MAX(warc_ts) AS warc_ts FROM pages GROUP BY url),
snap AS (
  SELECT p.url, p.warc_ts, {P.text_sql(d, 'p.html')} AS text, p.lang
  FROM pages p JOIN latest l
    ON p.url = l.url AND p.warc_ts = l.warc_ts
)"""


def _geo_cte(d: Dialect) -> str:
    x, y = world.xy_sql("point_id")
    return f"""geo AS (
  SELECT url, warc_ts, point_id, {x} AS x, {y} AS y,
         CAST(length(text) AS BIGINT) AS n_chars
  FROM (SELECT url, warc_ts, text, {P.page_id_sql()} AS point_id
        FROM snap) _p
)"""


def _oracle_pages_snapshot(d: Dialect) -> str:
    """Snapshot + CDC columns: the delta CTEs (conditional MAX as-of
    the day-23 cutoff + text-equality status) join the snap CTE on
    url.  The engine computes both from ONE aggregate; the oracle's
    status compares the STORED text where the engine compares the
    EXTRACTED text — byte-identical by construction, and the same
    query's hash over the text column proves exactly that."""
    return f"""
WITH {_snap_ctes(d)},{pages_ops.snapshot_delta_sql(d, C.SNAP_CUTOFF_US)}
SELECT s.url, s.warc_ts, s.text, s.lang,
       CAST(length(s.text) AS BIGINT) AS n_chars,
       dl.old_ts, dl.status
FROM snap s JOIN delta dl ON s.url = dl.url
"""


def _oracle_exposure_pages(d: Dialect) -> str:
    """Keyed per url, also where urls share a page id."""
    return f"""
WITH {_snap_ctes(d)},
{_geo_cte(d)},
parks AS ({world.parks_sql(d)}),
{_ndvi_ctes(d, "url", "SELECT url, x, y FROM geo")},
{_near_cte(d, "url", "geo")}
SELECT g.url, g.warc_ts, g.x, g.y, g.n_chars,
       {", ".join(availability.ndvi_sql())},
       {", ".join(accessibility.nearest_sql())}
FROM geo g JOIN agg a ON g.url = a.url
           JOIN near n ON g.url = n.url
"""


def _oracle_cell_stats(d: Dialect, cell: int = C.CELL_SIZE) -> str:
    d2 = d.dist2("g.x", "g.y", "p.cx", "p.cy")
    return f"""
WITH {_snap_ctes(d)},
{_geo_cte(d)},
parks AS ({world.parks_sql(d)}),
flag AS (
  SELECT url,
         {d.floori(f'x / {cell}')} AS cell_i,
         {d.floori(f'y / {cell}')} AS cell_j,
         CASE WHEN EXISTS (
           SELECT 1 FROM parks p
           WHERE {d2} <= CAST(p.radius * p.radius AS BIGINT)
         ) THEN 1 ELSE 0 END AS in_park
  FROM geo g
)
SELECT cell_i, cell_j, COUNT(*) AS n_pages,
       CAST(SUM(in_park) AS BIGINT) AS n_in_park
FROM flag
GROUP BY cell_i, cell_j
"""


def build_pages_registry() -> dict[str, QSpec]:
    d = DUCK
    return {
        # hash-exact text column = per-row byte-identity of extraction;
        # + the as-of-cutoff CDC columns (old_ts, status) from the SAME
        # single aggregate (r5: snapshot_delta gate-consolidated here)
        "q_pages_snapshot": QSpec(
            pages_ops.pages_snapshot_delta, _oracle_pages_snapshot(d)),
        # the north-star exposure join keyed by url
        "q_exposure_pages": QSpec(
            pages_ops.exposure_over_pages, _oracle_exposure_pages(d)),
        # cell bucketing + broadcast cell→polygon PIP index
        "q_pages_cells": QSpec(
            pages_ops.cell_page_stats, _oracle_cell_stats(d)),
    }
