"""Seeded input generators for the benchmark workloads.

Every table is a pure function of the seed: the same seed writes
byte-identical parquet files.  The engine only ever sees these files.

* ``zipf_documents`` - a documents table (the test-data schema: doc_id,
  text, lang, source, n_chars) whose words follow a Zipf law over a
  synthetic vocabulary, with lognormal lengths and planted exact and
  near duplicates.  Doc ids start at an offset derived from the seed,
  so every seed also geocodes to a different set of address points.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = np.array(["en", "zh", "es", "fr", "de"])
STOPWORDS = ["the", "of", "and", "a", "to", "in", "is", "that", "for", "it"]
LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))
VOCAB = 20_000          # distinct words
ZIPF_A = 1.1            # word-rank exponent
SIGMA = 0.8             # lognormal sigma of the document lengths
EXACT_FRAC = 0.05       # documents that copy an original verbatim
NEAR_FRAC = 0.10        # documents that copy one with a word changed
# bump when the generated tables change for the same seed and sizes, so
# inputs cached by an earlier version are written again
VERSION = 1

def id_offset(seed: int) -> int:
    """First doc id for a seed: distinct per seed, and small enough that
    the engine's 64-bit geocoding arithmetic cannot overflow."""
    return (seed % 997) * 100_000


def _vocabulary(rng: np.random.Generator) -> np.ndarray:
    """Stopwords first (the most frequent ranks, as in real text), then
    distinct random lowercase words of 2-11 letters."""
    words = dict.fromkeys(STOPWORDS)
    while len(words) < VOCAB:
        lens = rng.integers(2, 12, size=VOCAB)
        for ln in lens:
            words[''.join(rng.choice(LETTERS, size=ln))] = None
            if len(words) == VOCAB:
                break
    return np.array(list(words), dtype=object)


def zipf_documents(seed: int, n_docs: int, mean_bytes: int) -> pd.DataFrame:
    """Documents with Zipfian words and lognormal byte lengths whose
    total is fixed at ``n_docs * mean_bytes`` (so every seed carries the
    same text volume).  ``EXACT_FRAC`` of the documents copy an earlier
    original verbatim; ``NEAR_FRAC`` copy one with a single word
    replaced."""
    rng = np.random.default_rng([seed, n_docs, mean_bytes])
    words = _vocabulary(rng)
    wlen = np.array([len(w) for w in words]) + 1          # + separator
    p = 1.0 / np.arange(1, VOCAB + 1) ** ZIPF_A
    p /= p.sum()

    target = rng.lognormal(0.0, SIGMA, size=n_docs)
    target = np.maximum(40, np.round(target / target.sum()
                                     * n_docs * mean_bytes)).astype(np.int64)
    n_stream = int(target.sum() / float(p @ wlen) * 1.1) + 64
    stream = rng.choice(VOCAB, size=n_stream, p=p)
    cum = np.cumsum(wlen[stream])
    ends = np.searchsorted(cum, np.cumsum(target)) + 1
    starts = np.concatenate(([0], ends[:-1]))
    texts = [" ".join(words[stream[a:b]]) for a, b in zip(starts, ends)]

    # planted duplicates copy originals (never other copies)
    order = rng.permutation(np.arange(1, n_docs))
    n_exact, n_near = int(n_docs * EXACT_FRAC), int(n_docs * NEAR_FRAC)
    for i in order[:n_exact]:
        texts[i] = texts[rng.integers(0, i)]
    for i in order[n_exact:n_exact + n_near]:
        ws = texts[rng.integers(0, i)].split(" ")
        k = int(rng.integers(0, len(ws)))
        ws[k] = ws[k] + "x"
        texts[i] = " ".join(ws)

    ids = id_offset(seed) + np.arange(n_docs, dtype=np.int64)
    return pd.DataFrame({
        "doc_id": ids,
        "text": texts,
        "lang": LANGS[rng.integers(0, len(LANGS), size=n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def exact_groups(docs: pd.DataFrame) -> pd.DataFrame:
    """Ground truth for ``dedup.exact_duplicates``: one row per document
    whose text occurs more than once, (dup_group_min, doc_id,
    group_size), sorted."""
    g = docs.groupby("text")["doc_id"]
    out = docs.assign(dup_group_min=g.transform("min"),
                      group_size=g.transform("size"))
    out = out[out["group_size"] > 1]
    return (out[["dup_group_min", "doc_id", "group_size"]]
            .astype("int64").sort_values(["dup_group_min", "doc_id"])
            .reset_index(drop=True))


def write_table(df: pd.DataFrame, path: str) -> None:
    """One row group, fixed compression: byte-identical per input."""
    t = pa.Table.from_pandas(df, preserve_index=False)
    pq.write_table(t, path, compression="snappy",
                   row_group_size=max(1, len(df)))


def prepare(workload: str, seed: int, root: str, sizes: dict) -> dict:
    """Write the inputs of ``workload`` for ``seed`` under ``root`` and
    return their description: ``{"dir", "n_docs", "text_bytes",
    "made_by"}``.  ``meta.json``, written last, records completion and
    what made the files (sizes and generator version); inputs made by
    other sizes or another version are written again."""
    out = os.path.join(root, f"{workload}-{seed}")
    meta_path = os.path.join(out, "meta.json")
    made_by = {"version": VERSION, **sizes}
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            meta = json.load(f)
        if meta.get("made_by") == made_by:
            return meta
        os.remove(meta_path)
    os.makedirs(out, exist_ok=True)
    docs = zipf_documents(seed, **sizes)
    write_table(docs, os.path.join(out, "documents.parquet"))
    write_table(exact_groups(docs), os.path.join(out, "exact_truth.parquet"))
    meta = {"dir": out, "n_docs": int(len(docs)),
            "text_bytes": int(docs["text"].str.len().sum()),
            "made_by": made_by}
    with open(meta_path + ".tmp", "w") as f:
        json.dump(meta, f)
    os.replace(meta_path + ".tmp", meta_path)
    return meta
