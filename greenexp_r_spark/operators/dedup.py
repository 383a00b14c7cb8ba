"""Deduplication operators for the training-data pipeline:
exact (hash-first groupBy), MinHash+LSH, SimHash with block LSH.

Corpus: the driver's documents are all distinct, so dedup queries run
over an *augmented corpus* with deterministically planted duplicates —
exact copies (doc_id+1_000_000 for every 10th doc) and near-dups with
the last word dropped (doc_id+2_000_000 for every 7th doc).  The same
construction is embedded in the oracle SQL.

Scale notes (the 100 TB shapes):
  * exact dedup is two-phase: phase 1 shuffles only (xxhash64(text),
    doc_id) to find candidate hash groups; phase 2 semi-joins the
    corpus down to those candidates and groups the *surviving slice*
    by text (exact — collisions can't merge distinct texts).  Full
    documents are never shuffled corpus-wide.
  * MinHash signatures are 100% row-local: the distinct shingle set
    and all 8 permutation mins come from one Arrow-batched numpy pass
    — zero shuffle before the band stage.  One groupBy on (band, h1,
    h2) gathers each bucket's members with their shingle arrays, and
    `bucket_verify` scores the bucket's pairs with exact Jaccard in
    blocks of BUCKET_CAP members, so a hot bucket costs time, not
    memory.
  * SimHash signatures are row-local too (per-bit majority over the
    shingle set, one numpy pass).  60-bit signature, pigeonhole blocking
    on 4 × 15-bit blocks: a pair within hamming ≤ 3 damages ≤ 3
    blocks, so it must agree on ≥ 1 — an equi-join with a 32_768-value
    keyspace per block (vs 16 for the round-1 nibble scheme, whose
    n/16-sized buckets made candidate volume quadratic in the corpus).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .. import constants as C

EXACT_DUP_MOD = 10
NEAR_DUP_MOD = 7


def augmented_corpus(docs: DataFrame) -> DataFrame:
    """documents ∪ exact copies ∪ last-word-dropped near-dups."""
    base = docs.select("doc_id", "text")
    exact = (base.where(F.col("doc_id") % EXACT_DUP_MOD == 0)
             .select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text"))
    # drop last word: substr(text, 1, len - instr(reverse(text), ' '))
    trimmed = F.expr(
        "substr(text, 1, length(text) - instr(reverse(text), ' '))")
    near = (base.where(F.col("doc_id") % NEAR_DUP_MOD == 0)
            .select((F.col("doc_id") + 2_000_000).alias("doc_id"),
                    trimmed.alias("text")))
    return base.unionByName(exact).unionByName(near)


def corpus_sql() -> str:
    """The identical corpus as a SQL fragment (both dialects)."""
    return f"""
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, text FROM documents
    WHERE doc_id % {EXACT_DUP_MOD} = 0
    UNION ALL
    SELECT doc_id + 2000000 AS doc_id,
           substr(text, 1, length(text) - instr(reverse(text), ' ')) AS text
    FROM documents WHERE doc_id % {NEAR_DUP_MOD} = 0
    """


def exact_duplicates(corpus: DataFrame) -> DataFrame:
    """Exact dedup groups: one row per duplicated document,
    (dup_group_min, doc_id, group_size), group key = min doc_id of the
    identical-text group.

    Two-phase hash-first plan: the corpus-wide shuffle carries only
    (xxhash64(text), doc_id); full text is shuffled solely for the
    candidate slice whose hash repeats (the actual duplicates), where
    the exact text groupBy settles collisions.
    """
    hashed = corpus.select("doc_id", "text",
                           F.xxhash64("text").alias("h"))
    cand_h = (hashed.groupBy("h")
              .agg(F.count(F.lit(1)).alias("n"))
              .where(F.col("n") > 1)
              .select("h"))
    slice_ = hashed.join(cand_h, "h", "left_semi")
    groups = (slice_
              .groupBy("text")
              .agg(F.min("doc_id").alias("dup_group_min"),
                   F.count(F.lit(1)).alias("group_size"))
              .where(F.col("group_size") > 1))
    return (slice_.join(groups, "text")
            .select("dup_group_min", "doc_id", "group_size"))


def word_hashes_np(text: str):
    """int64 word-hash array for one document — the numpy twin of
    functions.text.word_hash over split(' ') (empties kept): wh =
    ascii(first char of w||'_')·P1 + ascii(second char of w||'_')·P2 +
    len(w).  Byte-vectorized for ASCII; per-word ord() fallback for
    non-ASCII (Spark ascii() is codepoint-of-first-char and length()
    is chars, not bytes)."""
    import numpy as np
    try:
        b = np.frombuffer(text.encode("ascii"), dtype=np.uint8)
    except UnicodeEncodeError:
        ws = text.split(" ")
        return np.array(
            [ord((w + "_")[0]) * C.WORDHASH_P1
             + (ord((w + "_")[1]) if len(w + "_") >= 2 else 0)
             * C.WORDHASH_P2 + len(w) for w in ws], dtype=np.int64)
    sp = np.flatnonzero(b == 32)
    starts = np.empty(len(sp) + 1, dtype=np.int64)
    starts[0] = 0
    starts[1:] = sp + 1
    ends = np.empty(len(sp) + 1, dtype=np.int64)
    ends[:-1] = sp
    ends[-1] = len(b)
    lens = ends - starts
    safe = max(len(b) - 1, 0)
    i1 = np.minimum(starts, safe)
    i2 = np.minimum(starts + 1, safe)
    bb = b if len(b) else np.zeros(1, dtype=np.uint8)
    c1 = np.where(lens >= 1, bb[i1], 95).astype(np.int64)
    c2 = np.where(lens >= 2, bb[i2],
                  np.where(lens == 1, 95, 0)).astype(np.int64)
    return c1 * C.WORDHASH_P1 + c2 * C.WORDHASH_P2 + lens


def batch_word_hashes(texts):
    """(word hashes, owning document index) of every word of a batch of
    documents: `word_hashes_np` of each text, concatenated, computed in
    one pass over the batch's joined characters.  Joined by single
    spaces, the batch splits into exactly its documents' words; the
    characters are bytes for an ASCII batch, else code points (UTF-32),
    which is what Spark's ascii() and length() read."""
    import numpy as np
    texts = list(texts)
    if not texts:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    joined = " ".join(texts)
    try:
        cp = np.frombuffer(joined.encode("ascii"), dtype=np.uint8)
    except UnicodeEncodeError:
        cp = np.frombuffer(joined.encode("utf-32-le", "surrogatepass"),
                           dtype=np.uint32)
    sp = np.flatnonzero(cp == 32)
    starts = np.concatenate(([0], sp + 1))
    lens = np.concatenate((sp, [len(cp)])) - starts
    safe = max(len(cp) - 1, 0)
    cc = cp if len(cp) else np.zeros(1, dtype=cp.dtype)
    c1 = np.where(lens >= 1, cc[np.minimum(starts, safe)], 95) \
        .astype(np.int64)
    c2 = np.where(lens >= 2, cc[np.minimum(starts + 1, safe)],
                  np.where(lens == 1, 95, 0)).astype(np.int64)
    doc_start = np.zeros(len(texts), np.int64)
    np.cumsum(np.fromiter((len(t) + 1 for t in texts[:-1]), np.int64,
                          len(texts) - 1), out=doc_start[1:])
    owner = np.searchsorted(doc_start, starts, side="right") - 1
    return c1 * C.WORDHASH_P1 + c2 * C.WORDHASH_P2 + lens, owner


def _doc_shingles_np(text: str):
    """One document's word-bigram shingle stream (pre-distinct):
    shingle = (wh_i·MUL + wh_{i+1}) mod P31 over `word_hashes_np`.
    Returns None when the doc has < 2 words."""
    wh = word_hashes_np(text)
    if len(wh) < 2:
        return None
    return (wh[:-1] * C.SHINGLE_MUL + wh[1:]) % C.P31


def shingle_arrays(corpus: DataFrame) -> DataFrame:
    """(doc_id, sh_arr): the distinct word-bigram shingle hash set per
    document as a row-local array — zero shuffle.

    r6: one Arrow-batched numpy pass (`_doc_shingles_np`) instead of
    the JVM sequence/transform/element_at expression tree — HOF
    lambdas are interpreted (no codegen) and this was the single
    biggest cost inside every dedup query (4.8 s per compute at
    sf1.0, recomputed by each of the four q_dedup_neardup arms).
    Distinct keeps FIRST-OCCURRENCE order (pd.unique), matching
    array_distinct exactly."""
    import pandas as pd
    from collections.abc import Iterator
    from pyspark.sql.types import (ArrayType, LongType, StructField,
                                   StructType)

    schema = StructType([StructField("doc_id", LongType()),
                         StructField("sh_arr", ArrayType(LongType()))])

    def shingle(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, arrs = _doc_shingle_sets(pdf)
            if not ids:
                continue      # an all-short-docs batch: empty typed
                              # frames trip Arrow's NumPyConverter
            yield pd.DataFrame({"doc_id": pd.Series(ids, dtype="int64"),
                                "sh_arr": pd.Series(arrs,
                                                    dtype="object")})

    from ..plans.widen import widen
    # several sequential dedup-arm jobs re-read the persisted result:
    # widen()'s ~512 KB of source per task keeps scheduling overhead
    # small (A/B: q_dedup_neardup 4.6 s vs 5.3 s at sf1.0)
    return widen(corpus.select("doc_id", "text")) \
        .mapInPandas(shingle, schema)


def shingle_table(corpus: DataFrame) -> DataFrame:
    """(doc_id, sh_arr, mh0..mh7, simhash) in ONE Arrow pass — the
    shingle stream is already flattened per batch, so the MinHash
    permutation mins and the per-bit SimHash majorities ride the same
    reduceat sweep instead of two more Python round trips over the
    persisted array table (r6: the dedup union ran 4 passes)."""
    import numpy as np
    import pandas as pd
    from collections.abc import Iterator
    from pyspark.sql.types import (ArrayType, LongType, StructField,
                                   StructType)

    schema = StructType(
        [StructField("doc_id", LongType()),
         StructField("sh_arr", ArrayType(LongType()))]
        + [StructField(f"mh{j}", LongType())
           for j in range(len(C.MINHASH_PERMS))]
        + [StructField("simhash", LongType())])

    def kern(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, arrs = _doc_shingle_sets(pdf)
            if not ids:
                continue
            flat, offs, sizes = _flat_shingles(arrs)
            out = {"doc_id": pd.Series(ids, dtype="int64"),
                   "sh_arr": pd.Series(arrs, dtype="object")}
            for j, (a, b) in enumerate(C.MINHASH_PERMS):
                out[f"mh{j}"] = np.minimum.reduceat(
                    (flat * a + b) % C.P31, offs)
            out["simhash"] = _simhash_majority(flat, offs, sizes)
            yield pd.DataFrame(out)

    from ..plans.widen import widen
    return widen(corpus.select("doc_id", "text")) \
        .mapInPandas(kern, schema)


def _doc_shingle_sets(pdf):
    """(doc_ids, distinct shingle arrays) of a batch's documents with
    ≥ 2 words (`_doc_shingles_np`); the distinct keeps FIRST-OCCURRENCE
    order (pd.unique), matching array_distinct exactly."""
    import pandas as pd
    ids, arrs = [], []
    for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
        sh = _doc_shingles_np(text)
        if sh is not None:
            ids.append(doc_id)
            arrs.append(pd.unique(sh))
    return ids, arrs


def _flat_shingles(arrs):
    """Flatten a batch's shingle arrays → (flat int64 array, doc
    offsets for np.*.reduceat, per-doc sizes)."""
    import numpy as np
    sizes = np.fromiter((len(a) for a in arrs), dtype=np.int64,
                        count=len(arrs))
    flat = np.concatenate([np.asarray(a, dtype=np.int64) for a in arrs]) \
        if len(arrs) else np.empty(0, dtype=np.int64)
    offs = np.zeros(len(arrs), dtype=np.int64)
    np.cumsum(sizes[:-1], out=offs[1:])
    return flat, offs, sizes


def _simhash_majority(flat, offs, sizes, bits: int = C.SIMHASH_BITS):
    """SimHash per document of a flattened batch: bit b is set iff more
    than half of the document's distinct shingles have parity 1 under
    the affine rehash SIMHASH_BIT_PERMS[b] (one add.reduceat per bit)."""
    import numpy as np
    sim = np.zeros(len(offs), dtype=np.int64)
    for b, (a, bb) in enumerate(C.SIMHASH_BIT_PERMS[:bits]):
        ones = ((flat * a + bb) % C.P31) & 1
        cb = np.add.reduceat(ones, offs)
        sim += np.where(cb * 2 > sizes, np.int64(1) << b, 0)
    return sim


# Members per scoring block of an LSH bucket.  A bucket of n members
# is scored one block pair at a time, so a pair kernel's working set
# is O(BUCKET_CAP²) however hot the bucket: a 13,746-member MinHash
# bucket of a Zipfian corpus, scored whole, took its Python worker
# past 4.8 GB.
BUCKET_CAP = 128


def bucket_verify(members: DataFrame, pair_kernel, threshold: float,
                  names: tuple[str, str, str]) -> DataFrame:
    """Exact pair verify inside LSH buckets: the one route of the
    MinHash, incremental and embedding near-dup operators.

    `members` has one row per (bucket, member): a `bucket` key column,
    then the member columns, one of them `id`.  Each bucket arrives in
    Python once as the sorted list of its members (payload included),
    ordered by the member columns in turn, so the leading column
    decides which member of a pair comes first.  Member rows x before
    y of one bucket are emitted as (id_x, id_y, score) iff the
    kernel's score ≥ threshold, once however many buckets they share
    (`_verify_buckets` has the kernel protocol).  Building the plan
    runs no job."""
    from functools import partial
    from pyspark.sql.types import (DoubleType, LongType, StructField,
                                   StructType)

    cols = [c for c in members.columns if c != "bucket"]
    buckets = (members.groupBy("bucket")
               .agg(F.sort_array(F.collect_list(F.struct(*cols)))
                    .alias("m"))
               .where(F.size("m") >= 2)
               .select("m"))
    schema = StructType([StructField(names[0], LongType()),
                         StructField(names[1], LongType()),
                         StructField(names[2], DoubleType())])
    verify = partial(_verify_buckets, cols=cols, pair_kernel=pair_kernel,
                     threshold=threshold, names=names, cap=BUCKET_CAP)
    return buckets.mapInArrow(verify, schema).distinct()


def _verify_buckets(batches, cols, pair_kernel, threshold, names, cap):
    """The `bucket_verify` task: Arrow batches of member lists in,
    batches of verified (id_x, id_y, score) pairs out.

    `pair_kernel(fields, cap)` takes a batch's flattened member columns
    (name → Arrow array) and returns `score(a0, a1, b0, b1)`: the score
    matrix of member rows [a0, a1) × [b0, b1), NaN where it rules a
    pair out, or None when it rules out the whole block pair.  A
    bucket is scored in blocks of `cap` members, one block pair at a
    time, and verified pairs leave Python once cap²/4 of them are
    held, so no working set grows with a hot bucket's square."""
    import numpy as np

    out, n_out = [], 0
    for rb in batches:
        m = rb.column(0)
        fields = dict(zip(cols, m.values.flatten()))
        ids = fields["id"].to_numpy()
        score = pair_kernel(fields, cap)
        offs = m.offsets.to_numpy().tolist()
        for lo, hi in zip(offs[:-1], offs[1:]):
            for a0 in range(lo, hi, cap):
                a1 = min(a0 + cap, hi)
                for b0 in range(a0, hi, cap):
                    s = score(a0, a1, b0, min(b0 + cap, hi))
                    if s is None:
                        continue
                    keep = s >= threshold
                    if a0 == b0:
                        keep = np.triu(keep, 1)
                    ii, jj = np.nonzero(keep)
                    if not len(ii):
                        continue
                    out.append((ids[a0 + ii], ids[b0 + jj], s[ii, jj]))
                    n_out += len(ii)
                    if n_out >= cap * cap // 4:
                        yield _pairs_batch(out, names)
                        out, n_out = [], 0
    if out:
        yield _pairs_batch(out, names)


def _pairs_batch(out, names):
    """One Arrow batch from a list of (id_x, id_y, score) arrays."""
    import numpy as np
    import pyarrow as pa
    return pa.RecordBatch.from_arrays(
        [pa.array(np.concatenate(c)) for c in zip(*out)],
        names=list(names))


def _jaccard_kernel(fields, cap):
    """`bucket_verify` kernel: exact Jaccard of the members' distinct
    `sh_arr` sets.  With a `side` member column only pairs across the
    two sides are scored (NaN within a side)."""
    import numpy as np
    sh = fields["sh_arr"]
    offs = sh.offsets.to_numpy()
    vals = sh.values.to_numpy()
    lens = np.diff(offs)
    side = fields["side"].to_numpy() if "side" in fields else None

    def score(a0, a1, b0, b1):
        if side is not None:
            cross = side[a0:a1, None] != side[None, b0:b1]
            if not cross.any():
                return None
        inter = _block_intersections(vals, offs, a0, a1, b0, b1, cap)
        jac = inter / (lens[a0:a1, None] + lens[None, b0:b1] - inter)
        if side is not None:
            jac[~cross] = np.nan
        return jac

    return score


def _block_intersections(vals, offs, a0, a1, b0, b1, cap):
    """|A ∩ B| for member rows [a0, a1) × [b0, b1) of a flattened batch
    of distinct-element sets (`vals` cut at `offs`): 0/1 incidence
    GEMMs over the elements both blocks hold, `cap` element columns at
    a time.  Counts are exact (float32 sums of at most `cap` ones); the
    working set is O(cap²) plus the two blocks' own elements."""
    import numpy as np
    same = a0 == b0
    ea = vals[offs[a0]:offs[a1]]
    ra = np.repeat(np.arange(a1 - a0), np.diff(offs[a0:a1 + 1]))
    if same:
        # within one block an element held by a single member is in
        # no pair's intersection
        _, ia, cnt = np.unique(ea, return_inverse=True,
                               return_counts=True)
        shared = cnt >= 2
        ib, rb = ia, ra
    else:
        eb = vals[offs[b0]:offs[b1]]
        rb = np.repeat(np.arange(b1 - b0), np.diff(offs[b0:b1 + 1]))
        u, inv = np.unique(np.concatenate([ea, eb]), return_inverse=True)
        ia, ib = inv[:len(ea)], inv[len(ea):]
        shared = ((np.bincount(ia, minlength=len(u)) > 0)
                  & (np.bincount(ib, minlength=len(u)) > 0))
    col = np.cumsum(shared) - 1
    ka, kb = shared[ia], shared[ib]
    ca, ra = col[ia[ka]], ra[ka]
    cb, rb = col[ib[kb]], rb[kb]
    inter = np.zeros((a1 - a0, b1 - b0))
    for c0 in range(0, int(shared.sum()), cap):
        A = _incidence(ra, ca - c0, a1 - a0, cap)
        B = A if same else _incidence(rb, cb - c0, b1 - b0, cap)
        inter += A @ B.T
    return inter


def _incidence(rows, cols, n, cap):
    """(n, cap) float32 0/1 matrix of the (row, col) entries whose col
    falls in [0, cap)."""
    import numpy as np
    keep = (cols >= 0) & (cols < cap)
    M = np.zeros((n, cap), dtype=np.float32)
    M[rows[keep], cols[keep]] = 1
    return M


def _signatures_with_arrays(sh: DataFrame) -> DataFrame:
    """(doc_id, mh0..mh7, sh_arr): the MinHash signature (min over the
    shingles of 8 affine permutations, one Arrow-batched numpy pass)
    with the shingle array riding along for the bucket verify."""
    import numpy as np
    import pandas as pd
    from collections.abc import Iterator
    from pyspark.sql.types import (ArrayType, LongType, StructField,
                                   StructType)

    schema = StructType(
        [StructField("doc_id", LongType())]
        + [StructField(f"mh{j}", LongType())
           for j in range(len(C.MINHASH_PERMS))]
        + [StructField("sh_arr", ArrayType(LongType()))])

    def sig(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if not len(pdf):
                continue
            flat, offs, _ = _flat_shingles(pdf["sh_arr"].to_numpy())
            out = {"doc_id": pdf["doc_id"].to_numpy()}
            for j, (a, b) in enumerate(C.MINHASH_PERMS):
                h = (flat * a + b) % C.P31
                out[f"mh{j}"] = np.minimum.reduceat(h, offs)
            out["sh_arr"] = pdf["sh_arr"]
            yield pd.DataFrame(out)

    return sh.mapInPandas(sig, schema)


def _band_members(sh: DataFrame, *lead) -> DataFrame:
    """(bucket, *lead, id, sh_arr): one row per document and MinHash
    band, bucket = (band, h1, h2), the `bucket_verify` input."""
    sig = sh if "mh0" in sh.columns else _signatures_with_arrays(sh)
    n_bands = len(C.MINHASH_PERMS) // C.MINHASH_BAND_ROWS
    bands = F.array(*[
        F.struct(F.lit(b).alias("band"),
                 F.col(f"mh{2 * b}").alias("h1"),
                 F.col(f"mh{2 * b + 1}").alias("h2"))
        for b in range(n_bands)])
    return sig.select(F.explode(bands).alias("bucket"), *lead,
                      F.col("doc_id").alias("id"), "sh_arr")


def minhash_lsh_pairs(corpus: DataFrame,
                      jaccard_threshold: float = C.JACCARD_THRESHOLD,
                      sh: DataFrame | None = None) -> DataFrame:
    """Near-dup pairs via banded MinHash-LSH + exact Jaccard verify.

    Plan: row-local shingle sets and signatures → one row per (band,
    h1, h2) key with the shingle array riding along → one groupBy on
    the key, the corpus-sized shuffle → `bucket_verify` scores each
    bucket's pairs with exact shingle-set Jaccard.  A pair is emitted
    iff it shares ≥ 1 band key AND its Jaccard ≥ threshold (a
    hash-collision bucket scores low and drops).
    Output: (doc_a, doc_b, jaccard), doc_a < doc_b.
    """
    if sh is None:
        # plain shingle_arrays: the combined shingle_table would also
        # sweep the 60 simhash bit permutations this caller never uses
        sh = shingle_arrays(corpus)
    return bucket_verify(_band_members(sh), _jaccard_kernel,
                         jaccard_threshold, ("doc_a", "doc_b", "jaccard"))


def incremental_pairs(base: DataFrame, new: DataFrame,
                      jaccard_threshold: float = C.JACCARD_THRESHOLD,
                      sh_b: DataFrame | None = None,
                      sh_n: DataFrame | None = None) -> DataFrame:
    """Incremental (cross-corpus) near-dedup: match a NEW crawl batch
    against an EXISTING kept corpus — the dump-over-dump dedup step of
    CC-style pipelines (each new dump is deduped against all previous
    dumps' keep-set, not just itself).

    Each side computes its own row-local signatures; band buckets
    carry both sides' members tagged by side (base first), and the
    verify emits base × new pairs only — within-side pairs are masked
    and a block pair all on one side is skipped.  At scale the base side's signatures are
    the precomputed artifact of earlier runs — only `new` pays the
    signature scan per increment.  Output: (doc_a = base keeper,
    doc_b = new doc, jaccard ≥ threshold).

    The gate entry (q_dedup_neardup method='incremental') proves the
    two-table banding ≡ the cross-split slice of the self-join
    semantics via the shared DuckDB oracle.
    """
    if sh_b is None:
        sh_b = shingle_arrays(base)
    if sh_n is None:
        sh_n = shingle_arrays(new)
    members = _band_members(sh_b, F.lit(0).alias("side")).unionByName(
        _band_members(sh_n, F.lit(1).alias("side")))
    return bucket_verify(members, _jaccard_kernel, jaccard_threshold,
                         ("doc_a", "doc_b", "jaccard"))


def dedup_groups(corpus: DataFrame) -> DataFrame:
    """The dedup capstone: exact-duplicate pairs ∪ MinHash near-dup
    pairs → connected components → one row per clustered document,
    (group_id, doc_id, group_size), group_id = min doc_id of the
    cluster (the canonical keeper a training pipeline retains).
    Components via the same min-label propagation + pointer jumping
    as the road-network A10 operator (operators/network.py)."""
    from . import network

    exact = (exact_duplicates(corpus)
             .select(F.col("dup_group_min").alias("a"),
                     F.col("doc_id").alias("b")))
    near = (minhash_lsh_pairs(corpus)
            .select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b")))
    e = exact.unionByName(near).where(F.col("a") != F.col("b"))
    eb = (e.select(F.col("a").alias("src"), F.col("b").alias("dst"))
          .unionByName(
              e.select(F.col("b").alias("src"), F.col("a").alias("dst")))
          .distinct())
    labels = network.component_labels(eb)
    sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("group_size"))
    return (labels.join(sizes, "label")
            .select(F.col("label").alias("group_id"),
                    F.col("node_id").alias("doc_id"), "group_size"))


def corpus_select(docs: DataFrame,
                  docs_raw: DataFrame | None = None) -> DataFrame:
    """End-to-end training-corpus selection composing the pipeline:
    keep documents that (a) pass the quality threshold, (b) have a
    confirmed language ID, and (c) are either unclustered or the
    canonical keeper (min doc_id) of their dedup group; plus the
    deterministic mixture-sampling draw (operators/sampling.py, r5
    late) — rate from the source-domain hash, keep/drop from the
    doc_id hash — plus the leakage-free held-out `split`
    (operators/splits.py): every kept document is its own dedup-
    cluster keeper (non-keepers were just dropped), so keying the
    split on doc_id IS keying it on the canonical cluster id — a
    dropped near-twin can never resurface in a different split.
    Output: (doc_id, quality, predicted_lang, sample_rate_pm,
    sampled, split) for the kept set — the one-query version of a
    filter+dedup+mixture+split data pipeline."""
    from . import sampling, splits, textqa

    q = textqa.quality_score(docs).select("doc_id", "quality")
    lid = textqa.lang_id(docs).select("doc_id", "predicted_lang",
                                      "lang_match")
    smp = docs.select("doc_id", *sampling.sample_cols())
    groups = dedup_groups(augmented_corpus(
        docs if docs_raw is None else docs_raw))
    drop = (groups.where(F.col("doc_id") != F.col("group_id"))
            .select("doc_id").distinct())
    return (q.join(lid, "doc_id")
            .where((F.col("quality") > 0.3) & F.col("lang_match"))
            .join(drop, "doc_id", "left_anti")
            .join(smp, "doc_id")
            .select("doc_id", "quality", "predicted_lang",
                    "sample_rate_pm", "sampled",
                    splits.split_col(F.col("doc_id")).alias("split")))


def simhash_signatures(corpus: DataFrame,
                       bits: int = C.SIMHASH_BITS,
                       sh: DataFrame | None = None) -> DataFrame:
    """(doc_id, simhash): per bit, majority vote over the shingle set.
    Bit b of a shingle is the parity of an affine rehash
    (SIMHASH_BIT_PERMS), so every signature bit is a fair coin and
    every 15-bit block key is uniformly distributed.  Documents with
    fewer than 2 words have no shingle and no signature.

    With `sh` (a `shingle_table`), its simhash column.  Otherwise one
    Arrow-batched numpy pass from text: shingle, then sweep the bits
    over the flattened batch (`_simhash_majority`, shared with
    `shingle_table`) in the same Python task, so each task starts one
    Python worker, not one per chained pass.  Identical integers to
    the SQL oracle; zero shuffle."""
    import pandas as pd
    from collections.abc import Iterator
    from pyspark.sql.types import LongType, StructField, StructType

    if sh is not None:
        return sh.select("doc_id", "simhash")
    schema = StructType([StructField("doc_id", LongType()),
                         StructField("simhash", LongType())])

    def sig(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, arrs = _doc_shingle_sets(pdf)
            if not ids:
                continue
            flat, offs, sizes = _flat_shingles(arrs)
            yield pd.DataFrame({
                "doc_id": pd.Series(ids, dtype="int64"),
                "simhash": _simhash_majority(flat, offs, sizes, bits)})

    from ..plans.widen import widen
    return widen(corpus.select("doc_id", "text")) \
        .mapInPandas(sig, schema)


def simhash_pairs(corpus: DataFrame,
                  max_hamming: int = C.SIMHASH_MAX_HAMMING,
                  sh: DataFrame | None = None) -> DataFrame:
    """Pairs with simhash hamming distance ≤ 3, found by pigeonhole
    block LSH: a pair differing in ≤3 of 60 bits damages ≤3 of the
    4 15-bit blocks, so it must agree on ≥1 — a bucket per (block,
    value), 32_768 values per block (candidate volume stays
    O(n·dup_rate), not O(n²/16) like round 1's nibbles).

    The buckets go to `bucket_verify` with a popcount kernel: the
    signature pass feeds one bucket shuffle, so it runs once also over
    a cached input (a self-join ran it once per join side there), and
    a hot block is scored in blocks like the other near-dup operators'
    buckets.  Building the plan runs no job.
    Output: (doc_a, doc_b, hamming INT), doc_a < doc_b."""
    from functools import partial

    sig = simhash_signatures(corpus, sh=sh)
    blk_arr = F.array(*[
        F.struct(F.lit(k).alias("bk"),
                 F.shiftright(F.col("simhash"), C.SIMHASH_BLOCK_BITS * k)
                 .bitwiseAND((1 << C.SIMHASH_BLOCK_BITS) - 1).alias("bv"))
        for k in range(C.SIMHASH_BLOCKS)])
    members = sig.select(F.explode(blk_arr).alias("bucket"),
                         F.col("doc_id").alias("id"), "simhash")
    pairs = bucket_verify(members,
                          partial(_hamming_kernel, max_hamming=max_hamming),
                          0.0, ("doc_a", "doc_b", "hamming"))
    return pairs.where(F.col("doc_a") < F.col("doc_b")).select(
        "doc_a", "doc_b", F.col("hamming").cast("int").alias("hamming"))


def _hamming_kernel(fields, cap, max_hamming):
    """`bucket_verify` kernel: the hamming distance of the members'
    64-bit simhashes, NaN above ``max_hamming``."""
    import numpy as np
    sim = fields["simhash"].to_numpy().view(np.uint64)
    ones = np.unpackbits(np.arange(256, dtype=np.uint8)[:, None],
                         axis=1).sum(axis=1)

    def score(a0, a1, b0, b1):
        x = sim[a0:a1, None] ^ sim[None, b0:b1]
        ham = ones[x[..., None].view(np.uint8)].sum(axis=-1)
        return np.where(ham <= max_hamming, ham, np.nan)

    return score
