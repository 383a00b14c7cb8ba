"""Deterministic mixture sampling — domain-weighted corpus rates.

Training mixtures up/down-weight sources ("domains"): each source
gets a sampling rate, each document an independent deterministic
keep/drop draw.  Production pipelines implement the draw as a hash of
a stable key against the rate threshold so reruns and resumes are
reproducible — the same shape here, with the repo's portable integer
hashes so the Spark expression and the DuckDB oracle agree bit-exactly
(no engine-native hash functions, which differ across engines).

Pure column expressions (zero shuffle, whole-stage codegen); the
per-source rate table is implicit in the hash, so nothing joins —
folded into the q_corpus_select single pass at zero slot cost.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from .. import constants as C
from ..functions import text as T

# rate_pm = RATE_BASE_PM + (source_hash % RATE_SPREAD_PM), in
# per-mille: every source keeps 25.0%..94.9% of its documents
RATE_BASE_PM = 250
RATE_SPREAD_PM = 700
# the per-document draw: an affine hash of doc_id mod 1000.  The
# multiplier is MINSTD's 48271, small enough that doc_id * DRAW_MUL
# stays inside BIGINT for doc_ids up to ~1.9e14 — DuckDB raises on
# BIGINT overflow while Spark wraps, so staying in range is a
# cross-engine correctness requirement, not a style choice.
DRAW_MUL = 48271
DRAW_ADD = 40503


def _source_hash(source: Column) -> Column:
    # the repo's shared portable hash (functions/text.py) — one formula,
    # one place
    return T.word_hash(source)


def sample_cols(doc_id: Column | None = None,
                source: Column | None = None) -> list:
    """[sample_rate_pm, sampled] — the mixture-sampling column pair."""
    doc_id = F.col("doc_id") if doc_id is None else doc_id
    source = F.col("source") if source is None else source
    rate = (RATE_BASE_PM
            + _source_hash(source) % RATE_SPREAD_PM).cast("long")
    draw = (doc_id * DRAW_MUL + DRAW_ADD) % 1000
    return [rate.alias("sample_rate_pm"),
            (draw < rate).alias("sampled")]


def sample_sql(doc_id: str = "doc_id", source: str = "source") -> tuple:
    """(rate_sql, sampled_sql) — the DuckDB rendering, byte-identical
    semantics to :func:`sample_cols`."""
    sh = T.word_hash_sql(source)
    rate = f"CAST({RATE_BASE_PM} + {sh} % {RATE_SPREAD_PM} AS BIGINT)"
    draw = f"(({doc_id} * {DRAW_MUL} + {DRAW_ADD}) % 1000)"
    return rate, f"{draw} < ({rate})"
