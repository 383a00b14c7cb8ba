"""SimHash near-duplicates: signatures computed from text in one Arrow
pass, the JVM-only block self-join verify, and what building and
planning them costs (no job, no Python task after the block exchange).
"""

from __future__ import annotations

import numpy as np
import pytest

from greenexp_r_spark import constants as C
from greenexp_r_spark.operators import dedup
from tests.conftest import SF_TEST

PYTHON_NODES = ("MapInPandas", "MapInArrow", "ArrowEvalPython",
                "BatchEvalPython", "FlatMapGroupsInPandas")


def _ref_simhash(shingles) -> int:
    """Per-bit majority over a distinct shingle set, one shingle and
    one bit at a time."""
    sig = 0
    for b, (a, c) in enumerate(C.SIMHASH_BIT_PERMS[:C.SIMHASH_BITS]):
        ones = sum(((int(x) * a + c) % C.P31) & 1 for x in shingles)
        if 2 * ones > len(shingles):
            sig |= 1 << b
    return sig


def _ref_signatures(docs) -> dict:
    return {r.doc_id: _ref_simhash(r.sh_arr)
            for r in dedup.shingle_arrays(docs).collect()}


def _docs(spark, texts):
    return spark.createDataFrame(list(enumerate(texts)),
                                 "doc_id long, text string")


def _words(rng, n):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    return ["".join(rng.choice(letters, rng.randint(2, 9)))
            for _ in range(n)]


def _hot_block_texts():
    """~300 identical documents (one hot bucket in every block), their
    one-word edits and drops, unrelated documents with a few edited
    twins, and the short / empty / non-ASCII edge cases."""
    rng = np.random.RandomState(17)
    hot = _words(rng, 40)
    texts = [" ".join(hot)] * 300
    for i in range(40):
        w = list(hot)
        if i % 2:
            w[rng.randint(len(w))] = _words(rng, 1)[0]
        else:
            del w[rng.randint(len(w))]
        texts.append(" ".join(w))
    for _ in range(100):
        w = _words(rng, rng.randint(8, 50))
        texts.append(" ".join(w))
        if rng.rand() < 0.2:
            w[rng.randint(len(w))] = _words(rng, 1)[0]
            texts.append(" ".join(w))
    accented = "café naïve façade crème brûlée über straße ﬁn 日本 語"
    texts += ["single", "", accented, accented + " extra"]
    return texts


def _brute_pairs(sigs: dict) -> set:
    """Every pair sharing ≥ 1 15-bit block with hamming ≤ 3."""
    ids = np.array(sorted(sigs), dtype=np.int64)
    sig = np.array([sigs[i] for i in ids], dtype=np.int64)
    x = sig[:, None] ^ sig[None, :]
    lut = np.array([bin(i).count("1") for i in range(256)], dtype=np.int64)
    ham = lut[x.view(np.uint8).reshape(*x.shape, 8)].sum(axis=-1)
    mask = (1 << C.SIMHASH_BLOCK_BITS) - 1
    share = np.zeros(x.shape, dtype=bool)
    for k in range(C.SIMHASH_BLOCKS):
        share |= ((x >> (C.SIMHASH_BLOCK_BITS * k)) & mask) == 0
    ii, jj = np.nonzero(share & (ham <= C.SIMHASH_MAX_HAMMING))
    keep = ii < jj
    return {(int(ids[i]), int(ids[j]), int(ham[i, j]))
            for i, j in zip(ii[keep], jj[keep])}


def test_signatures_from_text_match_shingle_arrays_and_table(spark):
    texts = ["a b c a b", "hello world hello", "x", "", "one two",
             "pad  double  spaces", " lead", "trail ", "Ww yY zZ a",
             "naïve café au lait, s'il vous plaît", "日本 語 の 文"]
    docs = _docs(spark, texts)
    got = {r.doc_id: r.simhash
           for r in dedup.simhash_signatures(docs).collect()}
    table = {r.doc_id: r.simhash
             for r in dedup.shingle_table(docs).collect()}
    assert got == _ref_signatures(docs) == table
    # the one-word doc and the empty text have no shingle: dropped
    assert 2 not in got and 3 not in got and len(got) == len(texts) - 2
    # a batch of short documents only yields no signature, no error
    short = _docs(spark, ["x", "", "word", "é"])
    assert dedup.simhash_signatures(short).count() == 0


@pytest.mark.parametrize("with_table", [False, True])
def test_simhash_pairs_match_brute_force_on_hot_block(spark, with_table):
    docs = _docs(spark, _hot_block_texts())
    sigs = _ref_signatures(docs)
    sh = dedup.shingle_table(docs) if with_table else None
    got = [tuple(r) for r in dedup.simhash_pairs(docs, sh=sh).collect()]
    want = _brute_pairs(sigs)
    assert len(got) == len(set(got))
    assert set(got) == want
    assert len(want) > 300 * 299 // 2       # the hot bucket's pairs


def test_building_simhash_pairs_runs_no_job(spark):
    sc = spark.sparkContext
    aug = dedup.augmented_corpus(
        spark.read.parquet(f"{SF_TEST}/documents.parquet"))
    group = "simhash-build"
    sc.setJobGroup(group, group)
    try:
        dedup.simhash_pairs(aug)
        dedup.simhash_pairs(aug, sh=dedup.shingle_table(aug))
        n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert n_jobs == 0


def _python_nodes(node):
    """Python node names of an adaptive plan's query stages, a cached
    relation's own plan excluded."""
    name = node.nodeName()
    if "QueryStage" in name:
        return _python_nodes(node.plan())
    out = [name] if any(p in name for p in PYTHON_NODES) else []
    kids = node.children()
    for i in range(kids.size()):
        out += _python_nodes(kids.apply(i))
    return out


def test_simhash_pairs_run_one_signature_pass(spark):
    """The block buckets go to bucket_verify: over a cached input the
    plan is one signature pass, one bucket shuffle and one verify pass,
    with no join (a block self-join ran the signature pass once per
    join side there)."""
    aug = dedup.augmented_corpus(
        spark.read.parquet(f"{SF_TEST}/documents.parquet")).persist()
    try:
        aug.count()
        df = dedup.simhash_pairs(aug)
        df.collect()
        final = df._jdf.queryExecution().executedPlan().executedPlan()
        assert sorted(_python_nodes(final)) == ["MapInArrow", "MapInPandas"]
        assert "Join" not in final.toString()
    finally:
        aug.unpersist()
