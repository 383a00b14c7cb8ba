"""Task counts decided on the driver from the source-file listing.

The driver's test tables are written as ONE parquet row group per
file, so a scan cannot be split below file granularity no matter what
`spark.sql.files.maxPartitionBytes` says — at sf1.0 every
documents/embeddings query ran its whole pre-shuffle stage (shingling,
signature GEMMs, classifier features) on 1-2 of 32 cores.

`widen()` round-robin repartitions a freshly-scanned frame up to the
cluster's defaultParallelism, but ONLY when the scan arrives with
fewer partitions than that — at production scale inputs come in with
thousands of splits and this is a no-op, so the cost (one exchange of
the raw rows, sub-second for these tables) is paid exactly when the
parallelism is otherwise capped at the file count.  Round-robin is
safe under retries: Spark sorts before repartitioning
(spark.sql.execution.sortBeforeRepartition, default on) and the scan
is deterministic.  No engine result depends on partition layout
(no spark_partition_id / monotonically_increasing_id / rand anywhere
in the tree), so plans change but hashes cannot.

`pass_tasks()` sizes the Python passes from the same listing.
"""

from __future__ import annotations

import os
from urllib.parse import urlparse

from pyspark.sql import DataFrame

# below this source size the single-task compute is already
# sub-second, so the exchange is pure overhead (measured at sf0.1:
# ~+0.2-0.4 s per query across the exposure family for zero gain)
WIDEN_MIN_BYTES = 4 << 20

# a Python pass takes one task per 2000 rows of ~400 source bytes
PASS_ROWS_PER_TASK, PASS_ROW_BYTES = 2000, 400


def source_bytes(df: DataFrame) -> int | None:
    """Size of the files `df` reads (driver-side listing), or None
    when it reads none or their size cannot be read."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    try:
        tot = sum(os.path.getsize(urlparse(f).path) for f in files)
    except OSError:
        return None
    return tot if files else None


def widen(df: DataFrame,
          bytes_per_task: int = 512 * 1024) -> DataFrame:
    """Ensure enough scan partitions; no-op when the input already
    has them, or when the source files are small enough
    (< WIDEN_MIN_BYTES) that the repartition exchange costs more than
    the parallelism is worth.  The size check is a driver-side file
    listing — no Spark job.

    Target: source_bytes // bytes_per_task, capped at
    defaultParallelism.  512 KB per task A/B'd faster than a flat
    defaultParallelism target for EVERY widened consumer at sf1.0
    (q_ann_topk 7.5 → 4.0 s, q_exposure_pages 2.2 → 1.7,
    q_knn_parks 2.9 → 2.1, q_quality_classifier 2.0 → 1.6, ...):
    32 near-empty partitions cost more per-task scheduling across the
    many jobs of a query than the extra cores return.  The target
    grows with the input and saturates at the core count, so it is
    not a local[32]-only constant.  An input whose size cannot be read
    (non-local filesystems) is not widened."""
    # an input of unknown size (no file listing, or a non-local
    # s3a/hdfs path) stays as scanned: widening it blind is the
    # overhead the size gate exists to avoid
    tot = source_bytes(df)
    if tot is None or tot < WIDEN_MIN_BYTES:
        return df
    target = max(2, min(df.sparkSession.sparkContext.defaultParallelism,
                        tot // bytes_per_task))
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def pass_tasks(df: DataFrame) -> int:
    """Task count of a Python pass (`mapInPandas`) over `df`, with no
    Spark job: max(base, ceil(source bytes / (2000 × 400 B))), base =
    max(4, 2 · defaultParallelism); base for a frame with no file
    source.  `mapInPandas` streams Arrow batches, so a task's memory
    does not grow with its partition: the target grows with the input
    for parallelism and retry granularity, and empty tasks cost almost
    nothing, so tiny inputs get base too.  The listing sees the whole
    source: a filtered frame, such as observers sampled from every
    10th–100th point, gets its whole source's target."""
    base = max(4, 2 * df.sparkSession.sparkContext.defaultParallelism)
    per_task = PASS_ROWS_PER_TASK * PASS_ROW_BYTES
    return max(base, -(-(source_bytes(df) or 0) // per_task))
