"""Similarity search over the embeddings table: brute-force cosine
top-k (correctness baseline) and an IVF-partitioned variant (the
scale path), plus embedding-cosine near-duplicate detection.

Determinism doctrine: embeddings are quantized to integer milli-units
(round(v*1000)) so every dot product / norm is an exact BIGINT sum —
bit-identical across engines, partition orders, and retries.  Floats
appear only in the final cos = dot/(|a||b|) expression.

All vector math runs through Spark higher-order functions
(zip_with/aggregate) — JVM-side, no Python.  The Arrow/numpy batched
variant for throughput lives in bench.py's hot path.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, Window, functions as F

from .. import constants as C

NEARDUP_SHIFT = 3          # planted near-dup: every element + 3 milli-units
NEARDUP_MOD = 10



# float64 GEMM is exact for these integer matrices as long as every
# dot product stays below 2^53: products and partial sums are then
# integers, exactly representable at every step in any summation
# order (FMA included).  Milli-unit embeddings are |q| <= ~5e3 and
# JL projections |p| <= ~3.2e5; the guard bound keeps dim*maxq^2
# comfortably under 2^53 (64 * (4e6)^2 ~= 1e15 < 9.007e15).
_F64_EXACT_MAX = 4_000_000


def _exact_gemm(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """A @ B with BLAS dgemm when exactness is guaranteed (integer
    inputs small enough that float64 arithmetic is exact), falling
    back to the slow int64 loop-matmul otherwise.  numpy's int64
    matmul bypasses BLAS entirely (~10x slower) — this was the
    dominant per-task cost of the bucket verify and IVF kernels."""
    if (abs(A).max(initial=0) < _F64_EXACT_MAX
            and abs(B).max(initial=0) < _F64_EXACT_MAX):
        return A.astype(np.float64) @ B.astype(np.float64)
    return A @ B


def quantized(embeddings: DataFrame) -> DataFrame:
    """(vec_id, q: array<long>, norm2: long) — milli-unit quantization."""
    q = F.transform(F.col("embedding"),
                    lambda v: F.round(v.cast("double") * 1000).cast("long"))
    df = embeddings.select("vec_id", q.alias("q"))
    norm2 = F.aggregate(
        F.zip_with(F.col("q"), F.col("q"), lambda a, b: a * b),
        F.lit(0).cast("long"), lambda acc, x: acc + x)
    return df.select("vec_id", "q", norm2.alias("norm2"))


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0).cast("long"), lambda acc, x: acc + x)


def _cos(dot, na, nb):
    return (dot.cast("double")
            / (F.sqrt(na.cast("double")) * F.sqrt(nb.cast("double"))))


def brute_force_topk(embeddings: DataFrame, k: int = C.ANN_K,
                     n_queries: int = C.ANN_QUERIES) -> DataFrame:
    """Exact cosine top-k for the first `n_queries` vectors.
    Output: (query_id, rank, neighbor_id, cos_sim)."""
    qv = quantized(embeddings)
    queries = (qv.where(F.col("vec_id") < n_queries)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("q").alias("qq"), F.col("norm2").alias("qn")))
    cand = (queries.join(F.broadcast(qv), F.col("vec_id") != F.col("query_id"))
            .select("query_id", F.col("vec_id").alias("neighbor_id"),
                    _cos(_dot(F.col("qq"), F.col("q")),
                         F.col("qn"), F.col("norm2")).alias("cos_sim")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc())
    return (cand.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "rank", "neighbor_id", "cos_sim"))


def _collect_centroid_arrays(cent: DataFrame,
                             qcol: str = "cq", ncol: str = "cn"):
    """Collect a (small, dimension-bounded) centroid table to numpy:
    (list_ids asc, C matrix int64, sqrt(norm) float64).  list_ids are
    sorted ASCENDING so that a first-max argmax over the columns
    reproduces the window tie-break (cos DESC, list_id ASC)."""
    rows = cent.orderBy("list_id").collect()
    lids = np.array([r.list_id for r in rows], dtype=np.int64)
    Cm = np.array([r[qcol] for r in rows], dtype=np.int64)
    cn = np.array([r[ncol] for r in rows], dtype=np.float64)
    return lids, Cm, np.sqrt(cn)


def _assign_gemm(qv: DataFrame, lids: np.ndarray, Cm: np.ndarray,
                 sqrt_cn: np.ndarray) -> DataFrame:
    """Max-cosine centroid assignment as ONE int64 GEMM per Arrow
    batch against the broadcast centroid matrix — replaces the
    (n·n_cent)-row interpreted-HOF scoring + Window.partitionBy(vec_id)
    shuffle (O(n²/MOD) rows each dragging the full q array) that
    dominated q_ann_topk at sf1.0 (58 s per assignment pass, ×4 passes).

    Bit-exact with the window formulation: dot products are exact
    int64; cos = dot / (sqrt(norm2)·sqrt(cn)) in the same IEEE order;
    np.argmax returns the FIRST max (ties → min list_id, columns are
    list_id-ascending) and the first NaN when one occurs — both
    matching Spark's NaN-greatest ordering + list_id ASC tie-break.
    Output: (vec_id, q, norm2, list_id) — no shuffle, no window."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql.types import (ArrayType, LongType, StructField,
                                   StructType)

    sc = qv.sparkSession.sparkContext
    bc = sc.broadcast((lids, Cm, sqrt_cn))
    schema = StructType([
        StructField("vec_id", LongType()),
        StructField("q", ArrayType(LongType())),
        StructField("norm2", LongType()),
        StructField("list_id", LongType()),
    ])

    def assign(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, M, sn = bc.value
        for pdf in it:
            if not len(pdf):
                continue
            Q = np.stack(pdf["q"].to_numpy()).astype(np.int64)
            n2 = pdf["norm2"].to_numpy().astype(np.float64)
            cos = (_exact_gemm(Q, M.T)
                   / (np.sqrt(n2)[:, None] * sn[None, :]))
            out = pdf[["vec_id", "q", "norm2"]].copy()
            out["list_id"] = ids[np.argmax(cos, axis=1)]
            yield out

    return qv.mapInPandas(assign, schema)


def ivf_assign(qv: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Centroids = every IVF_CENTROID_MOD-th vector; assign each vector
    to its max-cosine centroid (deterministic tie-break on centroid id)
    via the broadcast-GEMM kernel (`_assign_gemm`).
    Returns (centroids, assignments(vec_id, q, norm2, list_id))."""
    cent = (qv.where(F.col("vec_id") % C.IVF_CENTROID_MOD == 0)
            .select(F.col("vec_id").alias("list_id"),
                    F.col("q").alias("cq"), F.col("norm2").alias("cn")))
    assign = _assign_gemm(qv, *_collect_centroid_arrays(cent))
    return cent, assign


def ivf_topk(embeddings: DataFrame, k: int = C.ANN_K,
             n_queries: int = C.ANN_QUERIES,
             nprobe: int = C.IVF_NPROBE,
             qv: DataFrame | None = None,
             cent_rows: list | None = None) -> DataFrame:
    """IVF approximate top-k: probe the `nprobe` nearest centroid lists
    only.  At scale the lists are Iceberg partitions → the search is
    partition-pruned instead of a full scan.
    Output: (query_id, rank, neighbor_id, cos_sim)."""
    if qv is None:
        qv = quantized(embeddings)
    if cent_rows is None:
        cent, assign = ivf_assign(qv)
    else:
        # precollected sampled centroids (shared with the kmeans
        # variant — both start from the same every-MOD-th rows)
        cent = _cent_df_from_rows(embeddings.sparkSession, cent_rows)
        assign = _assign_gemm(qv, *_arrays_from_rows(cent_rows))
    queries = (qv.where(F.col("vec_id") < n_queries)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("q").alias("qq"), F.col("norm2").alias("qn")))
    probe_scored = (queries.join(F.broadcast(cent))
                    .select("query_id", "qq", "qn", "list_id",
                            _cos(_dot(F.col("qq"), F.col("cq")),
                                 F.col("qn"), F.col("cn")).alias("cos_c")))
    wp = Window.partitionBy("query_id").orderBy(
        F.col("cos_c").desc(), F.col("list_id").asc())
    probes = (probe_scored.withColumn("rn", F.row_number().over(wp))
              .where(F.col("rn") <= nprobe)
              .select("query_id", "qq", "qn", "list_id"))
    cand = (probes.join(assign, "list_id")
            .where(F.col("vec_id") != F.col("query_id"))
            .select("query_id", F.col("vec_id").alias("neighbor_id"),
                    _cos(_dot(F.col("qq"), F.col("q")),
                         F.col("qn"), F.col("norm2")).alias("cos_sim")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc())
    return (cand.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "rank", "neighbor_id", "cos_sim"))


def _partial_sums_gemm(qv: DataFrame, lids: np.ndarray, Cm: np.ndarray,
                       sqrt_cn: np.ndarray) -> DataFrame:
    """One Lloyd half-step: per-Arrow-batch GEMM argmax assignment
    (same arithmetic as `_assign_gemm`) folded directly into per-list
    partial sums — (list_id, cnt, sums: array<long>) per (task batch,
    list).  Integer sums are order-independent, so batch boundaries
    cannot change the result.  Output is tiny (≤ batches·n_cent rows)
    — the mean/round/requantize stays in Spark SQL so the rounding is
    literally the same F.round expression as before."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql.types import (ArrayType, LongType, StructField,
                                   StructType)

    sc = qv.sparkSession.sparkContext
    bc = sc.broadcast((lids, Cm, sqrt_cn))
    schema = StructType([
        StructField("list_id", LongType()),
        StructField("cnt", LongType()),
        StructField("sums", ArrayType(LongType())),
    ])

    def psums(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, M, sn = bc.value
        for pdf in it:
            if not len(pdf):
                continue
            Q = np.stack(pdf["q"].to_numpy()).astype(np.int64)
            n2 = pdf["norm2"].to_numpy().astype(np.float64)
            cos = (_exact_gemm(Q, M.T)
                   / (np.sqrt(n2)[:, None] * sn[None, :]))
            idx = np.argmax(cos, axis=1)
            uniq, inv = np.unique(idx, return_inverse=True)
            cnt = np.bincount(inv)
            sums = np.zeros((len(uniq), Q.shape[1]), dtype=np.int64)
            np.add.at(sums, inv, Q)
            yield pd.DataFrame({"list_id": ids[uniq],
                                "cnt": cnt.astype(np.int64),
                                "sums": list(sums)})

    return qv.mapInPandas(psums, schema)


def _lloyd_update(partials: DataFrame) -> DataFrame:
    """Merge per-batch partial sums into the next centroid table.
    mv = Σv/Σcnt (exact: integer sums are exactly representable in
    double at these magnitudes, so this equals the previous
    posexplode+AVG formulation bit-for-bit), then the SAME
    round/requantize expressions as the original Lloyd step."""
    upd = (partials.select("list_id", "cnt",
                           F.posexplode(F.col("sums")).alias("pos", "v"))
           .groupBy("list_id", "pos")
           .agg((F.sum("v") / F.sum("cnt")).alias("mv"))
           .groupBy("list_id")
           .agg(F.transform(
               F.array_sort(F.collect_list(
                   F.struct(F.col("pos"), F.col("mv")))),
               lambda s: F.round(s["mv"]).cast("long")).alias("cq")))
    cn = F.aggregate(
        F.zip_with(F.col("cq"), F.col("cq"), lambda a, b: a * b),
        F.lit(0).cast("long"), lambda acc, x: acc + x)
    return upd.select("list_id", "cq", cn.alias("cn"))


def _cent_df_from_rows(spark, rows) -> DataFrame:
    from pyspark.sql.types import (ArrayType, LongType, StructField,
                                   StructType)
    schema = StructType([
        StructField("list_id", LongType()),
        StructField("cq", ArrayType(LongType())),
        StructField("cn", LongType()),
    ])
    return spark.createDataFrame(
        [(r.list_id, list(r.cq), r.cn) for r in rows], schema)


def _arrays_from_rows(rows):
    lids = np.array([r.list_id for r in rows], dtype=np.int64)
    Cm = np.array([r.cq for r in rows], dtype=np.int64)
    sqrt_cn = np.sqrt(np.array([r.cn for r in rows], dtype=np.float64))
    return lids, Cm, sqrt_cn


def _train_kmeans_arrays(embeddings: DataFrame, iters: int = 2,
                         qv: DataFrame | None = None,
                         cent0_rows: list | None = None):
    """Run `iters` Lloyd iterations; return (qv, lids, Cm, sqrt_cn,
    rows) where rows are the final centroid Rows (list_id, cq, cn).
    Each iteration is ONE GEMM scan of the corpus emitting tiny
    partial sums — no per-(vector, centroid) rows, no window shuffle
    (the r5 shape materialized n·n_cent rows per iteration)."""
    if qv is None:
        qv = quantized(embeddings)
    if cent0_rows is None:
        cent0 = (qv.where(F.col("vec_id") % C.IVF_CENTROID_MOD == 0)
                 .select(F.col("vec_id").alias("list_id"),
                         F.col("q").alias("cq"),
                         F.col("norm2").alias("cn")))
        rows = cent0.orderBy("list_id").collect()
    else:
        rows = cent0_rows
    for _ in range(iters):
        rows = (_lloyd_update(_partial_sums_gemm(
                    qv, *_arrays_from_rows(rows)))
                .orderBy("list_id").collect())
    lids, Cm, sqrt_cn = _arrays_from_rows(rows)
    return qv, lids, Cm, sqrt_cn, rows


def ivf_topk_trained(embeddings: DataFrame, k: int = C.ANN_K,
                     n_queries: int = C.ANN_QUERIES,
                     nprobe: int = C.IVF_NPROBE,
                     iters: int = 2,
                     qv: DataFrame | None = None,
                     cent_rows: list | None = None) -> DataFrame:
    """ivf_topk over k-means-trained lists (better recall than the
    sampled-centroid gate variant; not SQL-expressible → rows-only
    gate + pytest invariants).  Output like ivf_topk."""
    qv, lids, Cm, sqrt_cn, rows = _train_kmeans_arrays(
        embeddings, iters, qv=qv, cent0_rows=cent_rows)
    cent = _cent_df_from_rows(embeddings.sparkSession, rows)
    assign = _assign_gemm(qv, lids, Cm, sqrt_cn)
    queries = (qv.where(F.col("vec_id") < n_queries)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("q").alias("qq"), F.col("norm2").alias("qn")))
    probe_scored = (queries.join(F.broadcast(cent))
                    .select("query_id", "qq", "qn", "list_id",
                            _cos(_dot(F.col("qq"), F.col("cq")),
                                 F.col("qn"), F.col("cn")).alias("cos_c")))
    wp = Window.partitionBy("query_id").orderBy(
        F.col("cos_c").desc(), F.col("list_id").asc())
    probes = (probe_scored.withColumn("rn", F.row_number().over(wp))
              .where(F.col("rn") <= nprobe)
              .select("query_id", "qq", "qn", "list_id"))
    cand = (probes.join(assign, "list_id")
            .where(F.col("vec_id") != F.col("query_id"))
            .select("query_id", F.col("vec_id").alias("neighbor_id"),
                    _cos(_dot(F.col("qq"), F.col("q")),
                         F.col("qn"), F.col("norm2")).alias("cos_sim")))
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc())
    return (cand.withColumn("rank", F.row_number().over(w2))
            .where(F.col("rank") <= k)
            .select("query_id", "rank", "neighbor_id", "cos_sim"))


def neardup_groups(embeddings: DataFrame,
                   threshold: float = 0.99) -> DataFrame:
    """Embedding near-dup CLUSTERS: LSH pairs → connected components →
    (group_id, vec_id, group_size), group_id = min vec_id (the
    canonical keeper).  Same component operator as the text dedup
    capstone and the road network A10."""
    from . import network

    pairs = neardup_pairs(embeddings, threshold) \
        .select("vec_id_a", "vec_id_b")
    eb = (pairs.select(F.col("vec_id_a").alias("src"),
                       F.col("vec_id_b").alias("dst"))
          .unionByName(pairs.select(F.col("vec_id_b").alias("src"),
                                    F.col("vec_id_a").alias("dst")))
          .distinct())
    labels = network.component_labels(eb)
    sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("group_size"))
    return (labels.join(sizes, "label")
            .select(F.col("label").alias("group_id"),
                    F.col("node_id").alias("vec_id"), "group_size"))


def brute_force_topk_numpy(embeddings: DataFrame, k: int = C.ANN_K,
                           n_queries: int = C.ANN_QUERIES,
                           qv: DataFrame | None = None) -> DataFrame:
    """Arrow-batched variant of brute_force_topk: the (small) query
    matrix rides to every task as a Spark broadcast; each Arrow batch
    of candidates is scored with ONE numpy int64 matmul against all
    queries, emitting per-batch partial top-k; a final window takes
    the global top-k.  Same quantized-integer dot products → results
    identical to the JVM-expression path (tested).

    This is the 100 TB shape for similarity search when the built-in
    higher-order functions become the bottleneck: compute moves to
    BLAS-backed batch matmul, shuffle carries only (query, candidate,
    score) partials capped at k per (batch, query).

    `qv` overrides the default milli-unit quantization with any
    pre-computed (vec_id, q: array<long>, norm2: long) frame — the
    JL-projected space plugs in here (jl_topk)."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql.types import (DoubleType, LongType, StructField,
                                   StructType)

    if qv is None:
        qv = quantized(embeddings)
    qrows = qv.where(F.col("vec_id") < n_queries) \
              .orderBy("vec_id").collect()
    qids = np.array([r.vec_id for r in qrows], dtype=np.int64)
    qmat = np.array([r.q for r in qrows], dtype=np.int64)
    qnorm = np.sqrt(np.array([r.norm2 for r in qrows], dtype=np.float64))
    sc = embeddings.sparkSession.sparkContext
    bq = sc.broadcast((qids, qmat, qnorm))

    schema = StructType([
        StructField("query_id", LongType()),
        StructField("neighbor_id", LongType()),
        StructField("cos_sim", DoubleType()),
    ])

    def score(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, Q, Qn = bq.value
        for pdf in it:
            if not len(pdf):
                continue
            cand = np.stack(pdf["q"].to_numpy()).astype(np.int64)
            cn = np.sqrt(pdf["norm2"].to_numpy().astype(np.float64))
            # exact: integer dot products, float only at the end
            dots = _exact_gemm(cand, Q.T)            # (batch, n_q)
            cos = dots / (cn[:, None] * Qn[None, :])
            cids = pdf["vec_id"].to_numpy()
            out_q, out_n, out_c = [], [], []
            for j, qid in enumerate(ids):
                col = cos[:, j]
                mask = cids != qid
                mcol = col[mask]
                mcid = cids[mask]
                # per-batch partial top-k under the FINAL total order
                # (cos DESC with NaN greatest — Spark/DuckDB ordering —
                # then neighbor_id ASC): the global top-k restricted to
                # a batch is always within the batch top-k under the
                # same order, so k rows per (batch, query) suffice for
                # ANY partitioning.  (r5 cut ties by batch row order,
                # which was only correct while scan batches arrived
                # vec_id-sorted — widen()'s round-robin broke that.)
                key = np.where(np.isnan(mcol), -np.inf, -mcol)
                sel = np.lexsort((mcid, key))[:k]
                out_q.extend([qid] * len(sel))
                out_n.extend(mcid[sel])
                out_c.extend(mcol[sel])
            yield pd.DataFrame({"query_id": out_q, "neighbor_id": out_n,
                                "cos_sim": out_c})

    partials = qv.mapInPandas(score, schema)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc())
    return (partials.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "rank", "neighbor_id", "cos_sim"))


# ------------------------------------------------------------------
# Johnson–Lindenstrauss random projection (dimensionality reduction)
# ------------------------------------------------------------------
JL_DIMS = 16                       # projected dimensionality
JL_A, JL_B, JL_C = 48_271, 16_807, 12_345   # sign-hash mixing


def jl_sign_matrix(d_in: int, d_out: int = JL_DIMS) -> np.ndarray:
    """Deterministic ±1 projection matrix (Achlioptas 2001 form):
    s[i,j] = 1 - 2·(((i·A + j·B + C) mod P31) & 1).  The same formula
    renders in SQL, so the projection is cross-engine exact."""
    i = np.arange(d_in, dtype=np.int64)[:, None]
    j = np.arange(d_out, dtype=np.int64)[None, :]
    return (1 - 2 * (((i * JL_A + j * JL_B + JL_C) % C.P31) & 1)
            ).astype(np.int64)


def project_jl(embeddings: DataFrame,
               d_out: int = JL_DIMS,
               qv: DataFrame | None = None) -> DataFrame:
    """(vec_id, q, norm2) in the PROJECTED space: p = q_milli @ S with
    the deterministic sign matrix — one int64 GEMM per Arrow batch, so
    every projected coordinate is an exact BIGINT (|p_j| ≤ d_in·|q|max
    ≈ 64k milli-units: no overflow anywhere near int64).

    The training-pipeline role: cut embedding width (e.g. 1536→16)
    BEFORE the expensive similarity stages — the projected table is
    d_in/d_out× smaller to shuffle and GEMM, and JL guarantees
    pairwise distances are preserved within (1±ε).  Composes with any
    downstream consumer of quantized() (brute/IVF/LSH take `qv=`)."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql.types import (ArrayType, LongType, StructField,
                                   StructType)

    schema = StructType([
        StructField("vec_id", LongType()),
        StructField("q", ArrayType(LongType())),
        StructField("norm2", LongType()),
    ])

    def proj(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        S = None
        for pdf in it:
            if not len(pdf):
                continue
            Q = np.stack(pdf["q"].to_numpy()).astype(np.int64)
            if S is None or S.shape[0] != Q.shape[1]:
                S = jl_sign_matrix(Q.shape[1], d_out)
            P = _exact_gemm(Q, S).astype(np.int64)
            yield pd.DataFrame({
                "vec_id": pdf["vec_id"].to_numpy(),
                "q": list(P),
                "norm2": (P * P).sum(axis=1)})

    src = qv if qv is not None else quantized(embeddings)
    return src.mapInPandas(proj, schema)


def jl_topk(embeddings: DataFrame, k: int = C.ANN_K,
            n_queries: int = C.ANN_QUERIES,
            d_out: int = JL_DIMS,
            qv: DataFrame | None = None) -> DataFrame:
    """Top-k by cosine in the JL-projected space (the reduced-width
    approximation of brute_force_topk — rank fidelity is the JL
    distance-preservation guarantee, arithmetic is exact BIGINT so
    the result is deterministic and SQL-replayable)."""
    return brute_force_topk_numpy(embeddings, k, n_queries,
                                  qv=project_jl(embeddings, d_out, qv=qv))


# Recall contract (review finding, round 2): sign-bit LSH recall is
# probabilistic IN GENERAL — a pair exactly at the 0.99 threshold has
# per-bit agreement ~0.955 and would miss all 8 bands w.p. ~1e-3.  On
# THIS corpus the nearest pairs sit at cos ≥ 0.9996 (per-bit ~0.991,
# miss ≈ 1.3e-8 with 8 bands) and the keys are deterministic, so the
# result is exact and stable — asserted against the all-pairs oracle
# at sf0.01 AND sf0.1 (tests + gate).  Production guidance for a real
# 0.99-boundary workload: more bands / multiprobe, or an exact verify
# sweep over a slightly lower LSH threshold.
NEARDUP_LSH_BANDS = 8      # miss prob per true pair = (1 - p^r)^b
NEARDUP_LSH_BITS = 12


def _hyperplanes(dim: int) -> np.ndarray:
    """Deterministic ±1 hyperplane matrix (bands·bits, dim): sign =
    one mixed bit of an integer hash of the (bit, dim) index.  Fixed
    for all time — keys are reproducible across runs and partitions."""
    n = NEARDUP_LSH_BANDS * NEARDUP_LSH_BITS
    idx = (np.arange(n, dtype=np.uint64)[:, None] * np.uint64(1024)
           + np.arange(dim, dtype=np.uint64)[None, :])
    h = (idx + np.uint64(1)) * np.uint64(2654435761)
    h ^= h >> np.uint64(16)
    return np.where((h >> np.uint64(7)) & np.uint64(1) == 0, 1, -1) \
        .astype(np.int64)


def _lsh_band_keys_numpy(corpus: DataFrame) -> DataFrame:
    """(vec_id, q, norm2, bkeys): the corpus with its random-hyperplane
    sign-bit LSH keys, bkeys[band] for each of the NEARDUP_LSH_BANDS
    bands, via ONE Arrow-batched numpy matmul per batch — projections
    = Q @ Rᵀ (BANDS·BITS sign bits folded into BANDS keys of BITS
    bits).  The vectors pass through as Arrow arrays, so the bucket
    verify receives its payload without a join or a driver collect.

    Round-2 lesson: the same keys as nested JVM higher-order functions
    cost ~20 s at sf0.1 because HOF lambdas are *interpreted* (no
    whole-stage codegen); the BLAS matmul computes every bit of a
    batch in one GEMM.  Recall math lives at the NEARDUP_LSH_* block
    above; raise BITS with corpus size to keep random buckets O(1).
    """
    import pyarrow as pa
    from pyspark.sql.types import (ArrayType, LongType, StructField,
                                   StructType)

    n_bands, n_bits = NEARDUP_LSH_BANDS, NEARDUP_LSH_BITS
    corpus = corpus.select("vec_id", "q", "norm2")
    schema = StructType(corpus.schema.fields
                        + [StructField("bkeys", ArrayType(LongType()))])

    def keys(batches):
        R = None
        pows = (1 << np.arange(n_bits - 1, -1, -1)).astype(np.int64)
        for rb in batches:
            if not rb.num_rows:
                continue
            Q = _member_matrix(rb.column(1))
            if R is None:
                R = _hyperplanes(Q.shape[1])
            bits = _exact_gemm(Q, R.T) >= 0   # (batch, bands·bits)
            bk = (bits.reshape(len(Q), n_bands, n_bits)
                  .astype(np.int64) @ pows)           # (batch, bands)
            offs = np.arange(0, bk.size + 1, n_bands, dtype=np.int32)
            yield pa.RecordBatch.from_arrays(
                rb.columns + [pa.ListArray.from_arrays(
                    offs, pa.array(bk.reshape(-1)))],
                names=schema.names)

    return corpus.mapInArrow(keys, schema)


def _member_matrix(q) -> np.ndarray:
    """(n, dim) int64 matrix of an Arrow list<long> column of
    equal-length vectors, read off the flattened values."""
    offs = q.offsets.to_numpy()
    vals = q.values.to_numpy()[offs[0]:offs[-1]]
    dim = int(offs[1] - offs[0])
    if (np.diff(offs) != dim).any():
        raise ValueError("embedding vectors differ in length")
    return vals.reshape(len(q), dim)


def neardup_corpus(embeddings: DataFrame) -> DataFrame:
    """Quantized embeddings ∪ planted near-dups (every NEARDUP_MOD-th
    vector, all elements shifted +NEARDUP_SHIFT milli-units →
    cos ≈ 0.9996)."""
    qv = quantized(embeddings)
    shifted = (qv.where(F.col("vec_id") % NEARDUP_MOD == 0)
               .select((F.col("vec_id") + 100_000).alias("vec_id"),
                       F.transform(F.col("q"),
                                   lambda x: x + NEARDUP_SHIFT).alias("q")))
    shifted = shifted.select(
        "vec_id", "q",
        F.aggregate(F.zip_with(F.col("q"), F.col("q"), lambda a, b: a * b),
                    F.lit(0).cast("long"), lambda acc, x: acc + x)
        .alias("norm2"))
    return qv.unionByName(shifted)


def _cosine_kernel(fields, cap):
    """`bucket_verify` kernel: exact quantized cosine of the members'
    `q` vectors, dot/(√na·√nb) from one int64-exact GEMM per block
    pair (a block pair is at most cap × cap already)."""
    X = _member_matrix(fields["q"])
    sn = np.sqrt(fields["norm2"].to_numpy().astype(np.float64))

    def score(a0, a1, b0, b1):
        return (_exact_gemm(X[a0:a1], X[b0:b1].T)
                / (sn[a0:a1, None] * sn[None, b0:b1]))

    return score


def neardup_pairs(embeddings: DataFrame,
                  threshold: float = 0.99) -> DataFrame:
    """Embedding-cosine near-duplicate pairs.

    Sign-bit LSH keys per vector, one groupBy on (band, bkey) whose
    buckets carry their members' quantized vectors, and
    `bucket_verify` scores each bucket's pairs with a blocked GEMM —
    no candidate-pair shuffle, no driver collect, no broadcast.  A
    pair is emitted iff it shares ≥ 1 LSH band AND its exact quantized
    cosine ≥ threshold.
    Output: (vec_id_a, vec_id_b, cos_sim), a < b.
    """
    from .dedup import bucket_verify
    members = _lsh_band_keys_numpy(neardup_corpus(embeddings)).select(
        F.posexplode("bkeys").alias("band", "bkey"),
        F.col("vec_id").alias("id"), "q", "norm2")
    members = members.select(F.struct("band", "bkey").alias("bucket"),
                             "id", "q", "norm2")
    return bucket_verify(members, _cosine_kernel, threshold,
                         ("vec_id_a", "vec_id_b", "cos_sim"))
