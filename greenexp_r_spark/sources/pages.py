"""The input_hint pages table: Common-Crawl-style web captures.

Schema is EXACTLY the BASELINE.json input_hint shape:

    url:string, warc_ts:timestamp, html:binary, text:string, lang:string

synthesised deterministically from the driver's ``documents`` parquet
(no external data): every document is one crawl capture; a quarter of
the urls are re-crawled once and a sixteenth twice (recrawls carry the
same content, later ``warc_ts`` — the Common-Crawl dedup-by-latest
fixture).  ``html`` is the UTF-8 payload ``<html><body>{text}
</body></html>``; extracting it back must yield the byte-identical
``text`` (the input_hint per-row invariant, checked hash-exactly by
q_pages_snapshot).

One text per formula: the url, the capture time, the html wrap and the
text extraction are shared-SQL fragments (``url_sql``, ``capture_ts_sql``,
``html_sql``, ``text_sql``, ``page_id_sql``).  ``pages_sql(d)`` embeds
them in the oracle's UNION ALL of three capture scans; ``pages_df``
renders the same fragments with ``selectExpr`` over one exploded scan.

All capture-time arithmetic is BIGINT; timestamps are constructed from
epoch microseconds (timestamp_micros / make_timestamp), which the two
engines agree on bit-for-bit under the session's UTC timezone.

Scale notes (100 TB posture): the table is a pure narrow map over
documents (1-3 output rows per input row, no shuffle); at production
scale this source is a partitioned table scan and every downstream
operator treats (url, warc_ts) as the natural key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .. import constants as C
from ..dialect import SPARK, Dialect

# capture-schedule constants (deterministic, integer-exact)
EPOCH_2024_S = C.EPOCH_2024_S         # 2024-01-01T00:00:00Z (single
                                      # source: constants.py — the
                                      # snapshot-delta cutoff derives
                                      # from the same value)
YEAR_S = 31_536_000
TS0_MUL, TS0_ADD = 7_919, 101
RE1_MOD = 4                            # every 4th url is re-crawled
RE1_MUL, RE1_ADD, RE1_SPAN = 104_729, 7, 8_000_000
RE2_MOD = 16                           # every 16th url twice
RE2_MUL, RE2_ADD, RE2_SPAN = 15_485_863, 3, 8_000_000
RE2_BASE = 9_000_000                   # > 1 + RE1_SPAN → capture order
                                       # is strictly 0 < 1 < 2, no ties

HTML_PRE = "<html><body>"              # 12 chars
HTML_POST = "</body></html>"           # 14 chars
WRAP_LEN = len(HTML_PRE) + len(HTML_POST)

URL_ID_RE = "page/([0-9]+)$"           # url → doc id (geocoding key)

# the driver's documents table, declared so that building a query over
# it runs no schema-inference job
DOCUMENTS_SCHEMA = ("doc_id BIGINT, text STRING, lang STRING, "
                    "source STRING, n_chars BIGINT")


def documents_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The driver's ``documents`` parquet under DOCUMENTS_SCHEMA, the
    one reader of it.  A column stored with another type is not
    detected while the plan is built; reading it raises
    FAILED_READ_FILE (tests/test_pages.py)."""
    return spark.read.schema(DOCUMENTS_SCHEMA).parquet(
        f"{sf_dir}/documents.parquet")


# the three capture generations: (offset seconds, keep predicate) over
# the documents row; generation 0 captures every document
_CAPTURES = (
    ("0", "true"),
    (f"1 + {Dialect.lcg('doc_id', RE1_MUL, RE1_ADD, RE1_SPAN)}",
     f"doc_id % {RE1_MOD} = 0"),
    (f"{RE2_BASE} + {Dialect.lcg('doc_id', RE2_MUL, RE2_ADD, RE2_SPAN)}",
     f"doc_id % {RE2_MOD} = 0"),
)


def url_sql(doc: str = "doc_id") -> str:
    return (f"'https://site' || CAST({doc} % 1000 AS STRING)"
            f" || '.example/page/' || CAST({doc} AS STRING)")


def capture_ts_sql(d: Dialect, off: str, doc: str = "doc_id") -> str:
    """Capture time of document ``doc`` at ``off`` seconds after its
    first capture, built from BIGINT epoch microseconds."""
    s0 = Dialect.lcg(doc, TS0_MUL, TS0_ADD, YEAR_S)
    return d.ts_micros(f"({EPOCH_2024_S} + {s0} + {off}) * 1000000")


def html_sql(d: Dialect, text: str = "text") -> str:
    """The UTF-8 html payload wrapping ``text``."""
    return d.s2b(f"'{HTML_PRE}' || {text} || '{HTML_POST}'")


def text_sql(d: Dialect, html: str = "html") -> str:
    """The text extracted back out of an html payload: decode UTF-8,
    strip the fixed wrapper by position (never by search)."""
    s = d.b2s(html)
    return f"substring({s}, {len(HTML_PRE) + 1}, length({s}) - {WRAP_LEN})"


def page_id_sql(url: str = "url") -> str:
    """The page id of a url (the geocoding key); null for a url
    without one."""
    return f"TRY_CAST(regexp_extract({url}, '{URL_ID_RE}', 1) AS BIGINT)"


def pages_sql(d: Dialect) -> str:
    """Shared-SQL body of the pages table (UNION ALL of the three
    capture generations over ``documents``)."""
    return "\nUNION ALL\n".join(
        f"SELECT {url_sql()} AS url, {capture_ts_sql(d, off)} AS warc_ts, "
        f"{html_sql(d)} AS html, text, lang FROM documents WHERE {keep}"
        for off, keep in _CAPTURES)


def _pages_from_docs(doc: DataFrame) -> DataFrame:
    """Single-scan capture expansion: the three capture generations
    are an exploded (offset, keep) array, not a UNION ALL of three
    re-reads — at 100 TB the documents table is scanned ONCE (the
    shared-SQL rendering keeps UNION ALL for oracle clarity; results
    are row-identical, tests/test_pages.py multiplicity check)."""
    caps = ", ".join(f"named_struct('off', CAST({off} AS BIGINT), "
                     f"'keep', {keep})" for off, keep in _CAPTURES)
    return (doc.selectExpr("doc_id", "text", "lang",
                           f"explode(array({caps})) AS c")
            .where("c.keep")
            .selectExpr(f"{url_sql()} AS url",
                        f"{capture_ts_sql(SPARK, 'c.off')} AS warc_ts",
                        f"{html_sql(SPARK)} AS html", "text", "lang"))


def pages_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-side pages table (exact input_hint schema) from the
    driver's documents parquet."""
    from ..plans.widen import widen
    return _pages_from_docs(widen(documents_df(spark, sf_dir)))


def synthetic_pages(spark: SparkSession, n: int,
                    partitions: int | None = None) -> DataFrame:
    """Scale-testing pages table: the same capture schedule applied to
    spark.range ids with a synthetic text body — lets the bench grow
    the pages side arbitrarily (BASELINE.md two-parallelism scaling
    protocol) with the html/text payload weight included."""
    rng = (spark.range(0, n, 1, partitions) if partitions
           else spark.range(n))
    body = F.concat(
        F.lit("synthetic page body "),
        F.col("id").cast("string"), F.lit(" "),
        F.repeat(F.concat(F.lit("tok"),
                          (F.col("id") % 97).cast("string"), F.lit(" ")),
                 20))
    doc = rng.select(F.col("id").alias("doc_id"), body.alias("text"),
                     F.lit("en").alias("lang"))
    return _pages_from_docs(doc)
