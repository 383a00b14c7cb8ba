"""Crawl snapshot delta / CDC (pages_ops.snapshot_delta)."""
from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from greenexp_r_spark import constants as C
from greenexp_r_spark.dialect import DUCK
from greenexp_r_spark.operators import pages_ops
from greenexp_r_spark.sources import pages as P

from . import oracle_harness
from .conftest import SF_TEST

# ~23 days into 2024 (constants.SNAP_CUTOFF_US): first captures land
# at s0 = (doc_id*7919+101) % YEAR_S, which for small test corpora
# only reaches ~46 days in, so a cutoff inside that window exercises
# all three statuses (a mid-year cutoff sees every url already
# crawled → no 'added')
CUTOFF_US = C.SNAP_CUTOFF_US


def _delta_sql(cutoff_us: int) -> str:
    return (f"WITH pages AS ({P.pages_sql(DUCK)}),"
            f"{pages_ops.snapshot_delta_sql(DUCK, cutoff_us)} "
            f"SELECT url, old_ts, new_ts, status FROM delta")


def _pages(spark, rows):
    """A pages table of (url, warc_ts, text) captures: html is the
    wrapped text, as in every pages table."""
    return spark.createDataFrame(
        [(u, ts, bytearray((P.HTML_PRE + tx + P.HTML_POST).encode()), tx,
          "en") for u, ts, tx in rows],
        "url string, warc_ts timestamp, html binary, "
        "text string, lang string")


def test_matches_duckdb_oracle(spark):
    df = pages_ops.snapshot_delta(P.pages_df(spark, SF_TEST), CUTOFF_US)
    df = df.select("url", "old_ts", F.col("warc_ts").alias("new_ts"),
                   "status")
    oracle_harness.compare(df, _delta_sql(CUTOFF_US), SF_TEST)


def test_statuses_nontrivial(spark):
    """The day-23 cutoff must exercise added, unchanged AND
    recrawled_same on the synthetic schedule (recrawls carry identical
    payloads, so 'changed' cannot occur here — covered below)."""
    got = {r.status: r["count"] for r in
           pages_ops.snapshot_delta(P.pages_df(spark, SF_TEST),
                                    CUTOFF_US)
           .groupBy("status").count().collect()}
    assert set(got) == {"added", "unchanged", "recrawled_same"}
    assert all(v > 0 for v in got.values())


def test_changed_status_on_mutated_recrawl(spark):
    """A recrawl with a DIFFERENT payload must classify 'changed'."""
    base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    rows = [
        ("u1", base, "old text"),
        ("u1", base + dt.timedelta(days=300), "new text"),
        ("u2", base, "same"),
        ("u2", base + dt.timedelta(days=300), "same"),
        ("u3", base + dt.timedelta(days=300), "late"),
        ("u4", base, "only old"),
    ]
    pg = _pages(spark, rows)
    cutoff = int((base + dt.timedelta(days=180)).timestamp() * 1_000_000)
    got = {r.url: r.status
           for r in pages_ops.snapshot_delta(pg, cutoff).collect()}
    assert got == {"u1": "changed", "u2": "recrawled_same",
                   "u3": "added", "u4": "unchanged"}


def test_equal_timestamp_tiebreak_matches_sql(spark):
    """Two captures with the SAME warc_ts: the engine's struct max
    falls through to the lexicographically-largest text; the SQL
    rendering's GROUP BY + MAX(text) must pick the same row and emit
    exactly one delta row per url."""
    import duckdb

    base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    later = base + dt.timedelta(days=300)
    rows = [
        ("u1", base, "A"), ("u1", base, "B"),
        ("u1", later, "B"),   # recrawl matches the winner
        ("u2", base, "A"),
        ("u2", later, "Z"), ("u2", later, "A"),
    ]
    pg = _pages(spark, rows)
    cutoff = int((base + dt.timedelta(days=180)).timestamp() * 1_000_000)
    got = sorted(pages_ops.snapshot_delta(pg, cutoff)
                 .select("url", "status").collect())
    # u1: old winner 'B', new 'B' → recrawled_same;
    # u2: old 'A', new winner 'Z' → changed
    assert [(r.url, r.status) for r in got] == \
        [("u1", "recrawled_same"), ("u2", "changed")]
    con = duckdb.connect()
    vals = ",".join(
        f"('{u}', TIMESTAMP '{ts:%Y-%m-%d %H:%M:%S}', '{tx}')"
        for u, ts, tx in rows)
    sql = (f"WITH pages AS (SELECT * FROM (VALUES {vals})"
           f" _t(url, warc_ts, text)),"
           f"{pages_ops.snapshot_delta_sql(DUCK, cutoff)} "
           f"SELECT url, status FROM delta ORDER BY url")
    assert con.sql(sql).fetchall() == \
        [("u1", "recrawled_same"), ("u2", "changed")]


def test_single_aggregate_plan(spark):
    """The delta is ONE url-keyed aggregate — no self-join of the
    capture log (the conditional-struct-max shape)."""
    df = pages_ops.snapshot_delta(P.pages_df(spark, SF_TEST), CUTOFF_US)
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in phys
