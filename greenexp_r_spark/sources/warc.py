"""WARC/1.0 container source + sink for the input_hint pages table.

Common Crawl — the corpus the input_hint table models — ships its
captures as ``.warc.gz`` files in which EVERY record is an
independent gzip member, plus a side index (CDX) mapping each capture
to ``(filename, offset, length)``.  That layout is what makes the
corpus random-accessible: a reader issues one ranged GET per record
and gunzips the member in isolation, never scanning the file.  This
module reproduces that contract end-to-end:

  * ``pages_to_warc(pages, out_dir)`` — distributed sink: one
    ``.warc.gz`` per partition written inside ``mapInPandas`` (the
    task appends gzip members and records their offsets), and the
    returned index is persisted as ``<out_dir>/index`` parquet with
    ``(path, offset, length, url, warc_us)`` — the CDX analog.
  * ``read_warc(spark, out_dir)`` — distributed source: scans ONLY
    the index, fans the ``(path, offset, length)`` triples across
    tasks, does a ranged read + per-member gunzip + WARC/HTTP parse
    per record, and reconstructs the EXACT input_hint schema
    ``(url, warc_ts, html, text, lang)``; ``text`` is re-extracted
    from the html bytes JVM-side with the extraction fragment
    ``pages.text_sql`` that ``pages_ops.extract_text`` and the oracles
    use, so the byte-identical-text invariant holds by construction.
  * ``read_warc_record(buf)`` — parse one raw member slice (the
    ranged-GET unit) independently of any file handle.

Record shape (WARC/1.0, ISO 28500): ``WARC-Type: response`` with an
``application/http; msgtype=response`` payload whose body is the html
bytes; ``lang`` rides in the HTTP ``Content-Language`` header and the
capture time in ``WARC-Date`` (written with microsecond precision —
a WARC/1.1 extension noted here because the pages table's
``warc_ts`` is micro-resolution).  Record IDs are deterministic
(md5 of url+timestamp) so the sink is replay-stable.

Scale notes (100 TB posture): the sink is embarrassingly parallel
(one file per task, no shuffle; production would stage + rename per
the icetable commit pattern to survive task retries).  The source's
work unit is the index row, NOT the file — parallelism is
independent of file sizes, a skewed 40 GB warc costs no more per
record than a small one, and pruning (url predicate, time range) can
be pushed onto the index parquet before any payload byte is read.

Reference parity: GreenExp_R takes geocoded address CSVs as input
(README.md example data); the graft replaces those with Common-Crawl
pages, and this module supplies the missing container format so the
pages table can be ingested from genuine WARC bytes rather than only
synthesised (BASELINE.json north_star: "Common-Crawl-style pages").
"""

from __future__ import annotations

import gzip
import hashlib
import os
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (BinaryType, LongType, StringType,
                               StructField, StructType)

from ..dialect import SPARK
from .pages import text_sql

_CRLF = b"\r\n"

INDEX_SCHEMA = StructType([
    StructField("path", StringType()),
    StructField("offset", LongType()),
    StructField("length", LongType()),
    StructField("url", StringType()),
    StructField("warc_us", LongType()),
])

_RAW_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("warc_us", LongType()),
    StructField("html", BinaryType()),
    StructField("lang", StringType()),
])


# --------------------------------------------------------------- write

def _warc_date(ts_us: int) -> str:
    dt = datetime.fromtimestamp(ts_us / 1_000_000, tz=timezone.utc)
    # exact micros (integer remainder, not float-formatted)
    return dt.strftime("%Y-%m-%dT%H:%M:%S") + f".{ts_us % 1_000_000:06d}Z"


def _parse_warc_date(s: str) -> int:
    parts = s.rstrip("Z").split(".")
    frac = int(parts[1].ljust(6, "0")[:6]) if len(parts) == 2 else 0
    dt = datetime.strptime(parts[0], "%Y-%m-%dT%H:%M:%S") \
                 .replace(tzinfo=timezone.utc)
    return int(dt.timestamp()) * 1_000_000 + frac


def build_record(url: str, ts_us: int, html: bytes, lang: str) -> bytes:
    """One uncompressed WARC/1.0 response record (headers + HTTP
    payload + the spec's two-CRLF record separator)."""
    http = (b"HTTP/1.1 200 OK\r\n"
            b"Content-Type: text/html; charset=utf-8\r\n"
            b"Content-Language: " + lang.encode("ascii") + _CRLF +
            b"Content-Length: " + str(len(html)).encode("ascii") +
            _CRLF + _CRLF + html)
    rid = hashlib.md5(f"{url}\x00{ts_us}".encode()).hexdigest()
    head = (b"WARC/1.0\r\n"
            b"WARC-Type: response\r\n"
            b"WARC-Record-ID: <urn:uuid:" + rid.encode("ascii") + b">\r\n"
            b"WARC-Date: " + _warc_date(ts_us).encode("ascii") + _CRLF +
            b"WARC-Target-URI: " + url.encode("ascii") + _CRLF +
            b"Content-Type: application/http; msgtype=response\r\n"
            b"Content-Length: " + str(len(http)).encode("ascii") +
            _CRLF + _CRLF)
    return head + http + _CRLF + _CRLF


def compress_member(rec: bytes) -> bytes:
    """One standalone gzip member (mtime pinned to 0 so identical
    records compress to identical bytes — replay-stable sink)."""
    return gzip.compress(rec, 6, mtime=0)


def pages_to_warc(pages: DataFrame, out_dir: str,
                  codec_batch: int = 4096) -> DataFrame:
    """Distributed WARC sink.  Writes ``part-NNNNN.warc.gz`` per
    partition under ``out_dir`` plus the CDX-analog index parquet at
    ``<out_dir>/index``; returns the index DataFrame (re-read from
    parquet, so the write job has materialized exactly once)."""
    os.makedirs(out_dir, exist_ok=True)
    spark = pages.sparkSession
    src = pages.select(
        "url", F.unix_micros("warc_ts").alias("warc_us"), "html", "lang")

    def write_part(batches):
        from pyspark import TaskContext
        import pandas as pd
        pid = TaskContext.get().partitionId()
        path = os.path.join(out_dir, f"part-{pid:05d}.warc.gz")
        f, off, idx = None, 0, []
        for b in batches:
            if f is None and len(b):
                f = open(path, "wb")
            for url, us, html, lang in zip(
                    b["url"], b["warc_us"], b["html"], b["lang"]):
                member = compress_member(
                    build_record(url, int(us), bytes(html), lang))
                f.write(member)
                idx.append((path, off, len(member), url, int(us)))
                off += len(member)
        if f is not None:
            f.close()
        if idx:
            yield pd.DataFrame(idx, columns=[c.name for c in INDEX_SCHEMA])

    idx = src.mapInPandas(write_part, INDEX_SCHEMA)
    idx.write.mode("overwrite").parquet(os.path.join(out_dir, "index"))
    return spark.read.parquet(os.path.join(out_dir, "index"))


# ---------------------------------------------------------------- read

def read_warc_record(buf: bytes):
    """Parse one raw (already gunzipped) record → (url, ts_us, html,
    lang).  The unit a ranged GET returns, decodable in isolation."""
    hdr_end = buf.index(_CRLF + _CRLF)
    headers = {}
    lines = buf[:hdr_end].split(_CRLF)
    if lines[0] != b"WARC/1.0":
        raise ValueError(f"not a WARC/1.0 record: {lines[0]!r}")
    for ln in lines[1:]:
        k, _, v = ln.partition(b":")
        headers[k.strip().lower()] = v.strip()
    clen = int(headers[b"content-length"])
    http = buf[hdr_end + 4:hdr_end + 4 + clen]
    http_hdr_end = http.index(_CRLF + _CRLF)
    http_headers = {}
    for ln in http[:http_hdr_end].split(_CRLF)[1:]:
        k, _, v = ln.partition(b":")
        http_headers[k.strip().lower()] = v.strip()
    body_len = int(http_headers[b"content-length"])
    html = http[http_hdr_end + 4:http_hdr_end + 4 + body_len]
    if len(html) != body_len:
        raise ValueError("truncated HTTP payload")
    return (headers[b"warc-target-uri"].decode("ascii"),
            _parse_warc_date(headers[b"warc-date"].decode("ascii")),
            html,
            http_headers.get(b"content-language", b"").decode("ascii"))


def read_member(path: str, offset: int, length: int):
    """Ranged read of one gzip member → parsed record tuple."""
    with open(path, "rb") as f:
        f.seek(offset)
        raw = f.read(length)
    return read_warc_record(gzip.decompress(raw))


def read_warc(spark: SparkSession, out_dir: str,
              index: DataFrame | None = None,
              n_partitions: int | None = None) -> DataFrame:
    """Distributed WARC source → the exact input_hint pages schema.

    Work is driven by the index (CDX analog), not file listings: each
    task performs ranged reads of its index rows, gunzips members
    independently, and parses WARC + HTTP.  ``text`` is re-extracted
    from html with the extraction fragment of ``pages_ops.extract_text``
    (``pages.text_sql``) — never trusted from a side channel —
    so the input_hint byte-identity invariant is structural."""
    if index is None:
        index = spark.read.parquet(os.path.join(out_dir, "index"))
    if n_partitions:
        index = index.repartition(n_partitions)

    def fetch(batches):
        import pandas as pd
        handles = {}
        try:
            for b in batches:
                rows = []
                for path, off, ln in zip(b["path"], b["offset"],
                                         b["length"]):
                    f = handles.get(path)
                    if f is None:
                        f = handles[path] = open(path, "rb")
                    f.seek(int(off))
                    raw = f.read(int(ln))
                    url, us, html, lang = read_warc_record(
                        gzip.decompress(raw))
                    rows.append((url, us, html, lang))
                yield pd.DataFrame(
                    rows, columns=[c.name for c in _RAW_SCHEMA])
        finally:
            for f in handles.values():
                f.close()

    raw = index.select("path", "offset", "length") \
               .mapInPandas(fetch, _RAW_SCHEMA)
    return raw.selectExpr("url", "timestamp_micros(warc_us) AS warc_ts",
                          "html", f"{text_sql(SPARK)} AS text", "lang")
