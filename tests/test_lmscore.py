"""Hashed-bigram LM quality bucketing (operators/lmscore.py)."""
from __future__ import annotations

from greenexp_r_spark import constants as C
from greenexp_r_spark.operators import lmscore


def _wh(w: str) -> int:
    p = w + "_"
    return (ord(p[0]) * C.WORDHASH_P1 + ord(p[1]) * C.WORDHASH_P2
            + len(w))


def _bg(w1: str, w2: str) -> int:
    return (_wh(w1) * C.SHINGLE_MUL + _wh(w2)) % C.P31 % C.LM_BUCKETS


def _py_lm(texts: dict[int, str]):
    """Pure-python reference of lm_buckets."""
    def in_domain(t):
        ws = t.split(" ")
        return (sum(w in C.STOPWORDS_EN for w in ws) * C.LM_STOP_NUM
                >= len(ws))

    cnt_bg: dict[int, int] = {}
    cnt_pre: dict[int, int] = {}
    for t in (t for t in texts.values() if in_domain(t)):
        ws = t.split(" ")
        for i in range(len(ws) - 1):
            cnt_bg[_bg(ws[i], ws[i + 1])] = \
                cnt_bg.get(_bg(ws[i], ws[i + 1]), 0) + 1
            k = _wh(ws[i]) % C.LM_BUCKETS
            cnt_pre[k] = cnt_pre.get(k, 0) + 1
    out = {}
    for d, t in texts.items():
        ws = t.split(" ")
        if len(ws) < 2:
            out[d] = (0, -1, "tail")
            continue
        s = 0
        for i in range(len(ws) - 1):
            s += (C.NB_SCALE * (cnt_bg.get(_bg(ws[i], ws[i + 1]), 0) + 1)
                  ) // (cnt_pre.get(_wh(ws[i]) % C.LM_BUCKETS, 0)
                        + C.LM_SMOOTH)
        score = s // (len(ws) - 1)
        bucket = ("head" if score >= C.LM_HEAD_PM
                  else "middle" if score >= C.LM_TAIL_PM else "tail")
        out[d] = (len(ws) - 1, score, bucket)
    return out


FIX = {
    1: "the cat sat on the mat and the dog sat too",
    2: "the cat sat on the mat and the dog sat too",
    3: "zzz qqq xxx www kkk jjj",
    4: "the cat sat quietly",
    5: "word",
    6: "of the and a of the and a of the",
}


def test_matches_pure_python_reference(spark):
    docs = spark.createDataFrame(list(FIX.items()),
                                 "doc_id long, text string")
    got = {r.doc_id: (r.n_bigrams, r.lm_score_pm, r.ppl_bucket)
           for r in lmscore.lm_buckets(docs).collect()}
    assert got == _py_lm(FIX)


def test_in_domain_scores_above_oov(spark):
    """A doc made of trained bigrams must outscore pure-OOV salad."""
    docs = spark.createDataFrame(list(FIX.items()),
                                 "doc_id long, text string")
    s = {r.doc_id: r.lm_score_pm
         for r in lmscore.lm_buckets(docs).collect()}
    assert s[1] > s[3]


def test_short_doc_sentinel(spark):
    docs = spark.createDataFrame(list(FIX.items()),
                                 "doc_id long, text string")
    row = {r.doc_id: r for r in lmscore.lm_buckets(docs).collect()}[5]
    assert (row.n_bigrams, row.lm_score_pm, row.ppl_bucket) \
        == (0, -1, "tail")


def test_model_joins_are_broadcast(spark):
    """Both MODEL joins (bigram + prefix counts) must be broadcast;
    the only sort-merge join allowed is the final corpus×corpus
    doc_id left join (both sides corpus-sized — SMJ is the right
    plan there)."""
    docs = spark.createDataFrame(list(FIX.items()),
                                 "doc_id long, text string")
    phys = lmscore.lm_buckets(docs) \
        ._jdf.queryExecution().executedPlan().toString()
    assert phys.count("BroadcastHashJoin") >= 2
    for line in phys.splitlines():
        if "SortMergeJoin" in line:
            assert "doc_id#" in line, line
