"""URL canonicalization — the FineWeb /
CCNet-style normalization every web-corpus pipeline runs before any
URL-keyed dedup: the same page arrives from the crawler as
``HTTP://Site.Example.org:80/a/?utm_source=x#frag`` and
``http://site.example.org/a`` and must collapse to one key.

Canonical form (RFC 3986-lite, the aggressive-but-safe subset):

  1. strip the fragment (``#...`` — never sent to the server);
  2. lowercase the scheme+authority head (case-insensitive per RFC);
  3. drop the scheme's default port (``:80`` http, ``:443`` https);
  4. strip one trailing ``/`` from the path (``/a/`` ≡ ``/a``,
     ``/`` ≡ empty — the root-slash convention);
  5. drop tracking query parameters (``utm_*``, ``gclid``,
     ``fbclid``, ``ref``) and empty params, preserving the relative
     order of the rest; drop ``?`` when nothing survives.

Engineering shape: the WHOLE transform is ONE shared SQL text
(dialect.py) evaluated as ``F.expr`` on the Spark side and rendered
verbatim for the DuckDB oracle — pure string/array built-ins (no
regex backreferences: Java ``$1`` vs RE2 ``\\1`` is a portability
trap; no LIKE: ``_`` in ``utm_`` would be a wildcard), so it is a
zero-shuffle all-JVM projection, bit-identical cross-engine by
construction (the bm25 contrib_sql precedent).  One honest caveat:
the tracking-param ``filter`` lambda is a higher-order function,
which Spark interprets rather than codegens — fine for an
ingestion-side op over per-url-tiny arrays (a codegen-able regex
rewrite would need lookahead or replacement backrefs, both
cross-engine traps); the plan shape is pinned in
tests/test_plan_shapes.py.

Reference analog: none in GreenExp_R (LLM-pipeline brief); semantics
follow the common-crawl canonicalization conventions.
"""

from __future__ import annotations

from ..dialect import Dialect

TRACKING_PREFIXES = ("utm_", "gclid=", "fbclid=", "ref=")


def canonical_url_sql(d: Dialect, u: str = "url") -> str:
    """One-expression canonical form of URL expression ``u``."""
    defrag = f"split_part({u}, '#', 1)"
    pq = f"split_part({defrag}, '?', 1)"
    # query = everything after the first '?' of the defragmented url
    q = (f"CASE WHEN length({defrag}) > length({pq}) "
         f"THEN substr({defrag}, length({pq}) + 2) ELSE '' END")
    # scheme + authority head (group 0 match; [^/]* stops at the path)
    head = (f"regexp_extract({pq}, "
            f"'^[A-Za-z][A-Za-z0-9+.-]*://[^/]*', 0)")
    tail = f"substr({pq}, length({head}) + 1)"
    lhead = f"lower({head})"
    port_stripped = (
        f"CASE WHEN {d.starts(lhead, escape('https://'))} "
        f"AND {d.ends(lhead, escape(':443'))} "
        f"THEN left({lhead}, length({lhead}) - 4) "
        f"WHEN {d.starts(lhead, escape('http://'))} "
        f"AND {d.ends(lhead, escape(':80'))} "
        f"THEN left({lhead}, length({lhead}) - 3) "
        f"ELSE {lhead} END")
    path = (f"CASE WHEN {d.ends(tail, escape('/'))} "
            f"THEN left({tail}, length({tail}) - 1) ELSE {tail} END")
    drop = " OR ".join(
        d.starts("x", escape(p)) for p in TRACKING_PREFIXES)
    kept = d.afilter(d.split(q, "'&'"), "x",
                     f"NOT ({drop}) AND length(x) > 0")
    qs = d.ajoin(kept, "'&'")
    return (f"concat({port_stripped}, {path}, "
            f"CASE WHEN length({qs}) > 0 "
            f"THEN concat('?', {qs}) ELSE '' END)")


def escape(lit: str) -> str:
    return "'" + lit.replace("'", "''") + "'"


def augment_url_sql(d: Dialect, u: str = "url",
                    doc: str = "doc_id") -> str:
    """Deterministic messy-crawl variants for tests/gates: the corpus
    urls are synthetically clean (canonicalization would be the
    identity), so — the pii/C4 augmented-corpus precedent — each row
    gets a variant chosen by ``doc % 4``, built from the SAME shared
    expression on both engines:

      0: unchanged;  1: UPPERCASED head + fragment;
      2: explicit :443 port + trailing slash;
      3: tracking params around one real param (id=7 survives).

    Canonicalizing a variant must reproduce the canonical form of the
    original — that equivalence is what the parity tests and the gate
    hash actually check."""
    head = (f"regexp_extract({u}, "
            f"'^[A-Za-z][A-Za-z0-9+.-]*://[^/]*', 0)")
    tail = f"substr({u}, length({head}) + 1)"
    up = f"concat(upper({head}), {tail}, '#sec2')"
    ported = (f"concat({head}, ':443', {tail}, '/')")
    tracked = f"concat({u}, '?utm_source=x&id=7&utm_medium=y')"
    return (f"CASE ({doc}) % 4 WHEN 1 THEN {up} "
            f"WHEN 2 THEN {ported} WHEN 3 THEN {tracked} "
            f"ELSE {u} END")
