"""Round-2 operators: viewshed raster output (S8 parity) and
k-means-trained IVF."""

import numpy as np
import pytest

from pyspark.sql import functions as F

from greenexp_r_spark import constants as C, world
from greenexp_r_spark.kernels import vgvi as K
from greenexp_r_spark.operators import similarity, visibility

from .conftest import SF_TEST


def test_viewshed_raster_matches_kernel(spark):
    """Per-cell raster rows must replay the kernel's mask exactly for
    a checked observer (R/viewshed.R:152-162 output parity)."""
    pts = world.points_df(spark, SF_TEST)
    got = visibility.viewshed_raster(pts, sample_mod=100).toPandas()
    assert got.visible.isin([0, 1]).all()
    # one observer, recompute locally
    pid = int(got.point_id.iloc[0])
    row = pts.where(F.col("point_id") == pid).first()
    r = int(round(C.VIS_MAX_DIST / C.VIS_RES))
    from greenexp_r_spark.kernels.worldgrid import observer_patches
    from greenexp_r_spark.operators.visibility import _disk_mask
    dsm, _, h0 = observer_patches(np.array([row.x]), np.array([row.y]), r,
                                  C.VIS_RES)
    vis = K.viewshed_batch(dsm, h0, r)[0]
    mask = _disk_mask(r)
    sub = got[got.point_id == pid]
    assert len(sub) == int(mask.sum())
    # center cell
    ci0 = int(np.floor(row.x / C.VIS_RES))
    cj0 = int(np.floor(row.y / C.VIS_RES))
    center = sub[(sub.ci == ci0) & (sub.cj == cj0)]
    nc = 2 * r + 1
    assert len(center) == 1
    assert int(center.visible.iloc[0]) == int(vis[r * nc + r])
    assert int(sub.visible.sum()) == int(vis[mask].sum())


def test_ivf_kmeans_deterministic_and_sane(spark):
    emb = spark.read.parquet(f"{SF_TEST}/embeddings.parquet")
    a = similarity.ivf_topk_trained(emb).toPandas() \
        .sort_values(["query_id", "rank"]).reset_index(drop=True)
    b = similarity.ivf_topk_trained(emb).toPandas() \
        .sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert a.equals(b)
    assert (a.groupby("query_id")["rank"].max() == C.ANN_K).all()
    assert ((a.cos_sim <= 1.0) & (a.cos_sim >= -1.0)).all()


def test_ivf_kmeans_improves_assignment_cost(spark):
    """One Lloyd iteration must not worsen the mean max-cosine
    assignment score (k-means monotonicity, up to re-quantization)."""
    emb = spark.read.parquet(f"{SF_TEST}/embeddings.parquet")
    qv = similarity.quantized(emb)

    def mean_best_cos(cent):
        scored = (qv.join(F.broadcast(cent))
                  .select("vec_id",
                          similarity._cos(
                              similarity._dot(F.col("q"), F.col("cq")),
                              F.col("norm2"), F.col("cn")).alias("c")))
        return (scored.groupBy("vec_id").agg(F.max("c").alias("m"))
                .agg(F.avg("m")).first()[0])

    init = (qv.where(F.col("vec_id") % C.IVF_CENTROID_MOD == 0)
            .select(F.col("vec_id").alias("list_id"),
                    F.col("q").alias("cq"), F.col("norm2").alias("cn")))
    rows = similarity._train_kmeans_arrays(emb, iters=2)[-1]
    trained = similarity._cent_df_from_rows(spark, rows)
    assert mean_best_cos(trained) >= mean_best_cos(init) - 1e-6


def test_ivf_lists_partition_prune(spark, tmp_path):
    """Scale-evidence for the IVF claim: materializing assignments
    partitioned by list_id makes an nprobe search read only the probed
    lists' files (partition pruning at the source)."""
    emb = spark.read.parquet(f"{SF_TEST}/embeddings.parquet")
    qv = similarity.quantized(emb)
    _, assign = similarity.ivf_assign(qv)
    out = str(tmp_path / "ivf_lists")
    assign.write.partitionBy("list_id").parquet(out)
    lists = spark.read.parquet(out)
    n_all_files = (lists.select(F.input_file_name().alias("f"))
                   .distinct().count())
    probed = lists.where(F.col("list_id").isin([0, 50]))
    # input_file_name() reflects the files the EXECUTED scan touched
    # (inputFiles() is pre-pruning relation metadata)
    probed_files = [r.f for r in
                    probed.select(F.input_file_name().alias("f"))
                    .distinct().collect()]
    assert 0 < len(probed_files) < n_all_files
    assert all("list_id=0/" in f or "list_id=50/" in f
               for f in probed_files)
    # and the pruned read returns exactly those lists' vectors
    n_direct = assign.where(F.col("list_id").isin([0, 50])).count()
    assert probed.count() == n_direct
