"""Sequence packing (operators/packing.py) and mixture sampling
(operators/sampling.py)."""
from __future__ import annotations

from pyspark.sql import functions as F

from greenexp_r_spark.operators import packing, sampling


def _seq_reference(rows, seq_len):
    """Flat sequential semantics: concatenate in doc_id order."""
    out, offset = {}, 0
    for did, text in sorted(rows):
        n = len(text.split(" ")) + 1
        first, last = offset // seq_len, (offset + n - 1) // seq_len
        out[did] = (n, offset, first, last, last - first + 1,
                    last > first)
        offset += n
    return out


def test_seq_pack_matches_sequential_reference(spark):
    rows = [(i * 7 % 101, f"doc {i} " + "tok " * (i % 37))
            for i in range(60)]
    rows = [(d, t.strip()) for d, t in rows]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in packing.seq_pack(
        df, seq_len=16, bucket_span=8).collect()}
    want = _seq_reference(rows, 16)
    assert len(got) == len(want)
    for did, (n, off, first, last, npk, cross) in want.items():
        r = got[did]
        assert (r["n_tokens"], r["tok_offset"], r["pack_first"],
                r["pack_last"], r["n_packs"],
                r["crosses_boundary"]) == (n, off, first, last,
                                           npk, cross), did


def test_seq_pack_two_phase_equals_one_bucket(spark):
    """The bucketed decomposition must equal the single-bucket (fully
    sequential) plan bit-for-bit."""
    rows = [(i, "w " * (i % 11 + 1)) for i in range(40)]
    rows = [(d, t.strip()) for d, t in rows]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = packing.seq_pack(df, seq_len=32, bucket_span=4) \
        .orderBy("doc_id").collect()
    b = packing.seq_pack(df, seq_len=32, bucket_span=10 ** 9) \
        .orderBy("doc_id").collect()
    assert a == b


def test_seq_pack_offsets_are_gapless(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = packing.seq_pack(docs).orderBy("doc_id").toPandas()
    # the stream is gapless: each offset = previous offset + n_tokens
    nxt = (out.tok_offset + out.n_tokens).iloc[:-1].reset_index(drop=True)
    assert (out.tok_offset.iloc[1:].reset_index(drop=True) == nxt).all()
    assert out.tok_offset.iloc[0] == 0
    assert (out.n_packs >= 1).all()
    assert out.crosses_boundary.any()


def test_sampling_rates_and_determinism(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = docs.select("doc_id", "source",
                      *sampling.sample_cols()).toPandas()
    lo = sampling.RATE_BASE_PM
    hi = lo + sampling.RATE_SPREAD_PM
    assert out.sample_rate_pm.between(lo, hi - 1).all()
    # same rate for every doc of a source
    assert (out.groupby("source").sample_rate_pm.nunique() == 1).all()
    # empirical keep rate tracks the declared per-mille rate
    g = out.groupby("sample_rate_pm").sampled.mean()
    for rate_pm, frac in g.items():
        assert abs(frac - rate_pm / 1000.0) < 0.15
    # deterministic across evaluations
    again = docs.select("doc_id", *sampling.sample_cols()).toPandas()
    assert (out.sort_values("doc_id").sampled.values
            == again.sort_values("doc_id").sampled.values).all()
