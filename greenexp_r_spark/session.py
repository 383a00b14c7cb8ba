"""Tuned SparkSession builder.

Scale posture (SURVEY.md §4.3): AQE on (skew-join splitting as the
backstop behind our explicit salting), Arrow batches large enough to
amortize the Python boundary, shuffle partitions sized for the test
box but overridable for the bench's two-parallelism scaling runs.

Persisted frames get AQE's size-based partition count
(`canChangeCachedPlanOutputPartitioning`).  Spark otherwise turns
final-stage coalescing off for cached plans, so a persisted aggregate
keeps exactly `spark.sql.shuffle.partitions` partitions however small
it is, and every consumer of it runs that many tasks per stage.  For
a Python pass that count, not the row count, sets the cost at these
sizes: the corpus kernels compute all 1.4 MB of a 1k-document corpus
in ~0.15 s.  Persisted scans and explicit `repartition(n)` outputs
are never coalesced by AQE, so only persisted aggregates change;
`localCheckpoint` is sized this way already.

Python workers come from `worker_daemon`: pyspark's daemon and
worker, with zip importers that skip re-reading unchanged archives,
so pyspark's per-task `importlib.invalidate_caches()` no longer costs
0.14-0.21 s of CPU per task on CPython 3.11 (details there).  The
daemon is started as `python -m greenexp_r_spark.worker_daemon`, so
the engine must be importable by the Python workers (from their
working directory or `PYTHONPATH`), as its kernels already require.

DataFrame building skips pyspark's per-call call-site capture
(`spark.python.sql.dataFrameDebugging.enabled=false`).  With it on,
every `Column` method and `F.col` makes about 5 py4j round trips
(active session, a conf read, `PySparkCurrentOrigin.set`/`clear`) only
to attach the Python call site to a later error: building the pages
flagship at sf0.001 made 1,308 round trips instead of 498.  Errors
keep their types and messages (an unknown column still raises
`AnalysisException`); only the "DataFrame query context" lines that
name the Python call site are gone.  pyspark reads the setting once
per Python process, from the first active session.

The driver heap is sized to its live data (DRIVER_GC_GOAL).  With
ParallelGC's default goal (GC at most 1 % of the time) adaptive sizing
grew the young generation far past what survives a collection: after
8 benchmark operations (`jcmd GC.heap_info`, 4-core host) PSYoungGen
had 498 MB committed against 137 MB of old-generation data on the
exposure workload and 1,324 MB against 215 MB on the corpus one, and
the JVMs peaked at 1,124 and 2,165 MB RSS.  With GCTimeRatio=19 (5 %)
young space was 91 and 200 MB and the JVMs peaked at 764 and
1,036 MB; the share of time in GC (`jstat -gcutil`) went from 2.0 to
2.8 % and from 2.1 to 4.1 %.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# ParallelGC's throughput goal: collections may take up to 1/(1 + 19),
# 5 %, of the driver's time (the default, 99, allows 1 %), so young
# space is sized near what the operations allocate between
# collections instead of growing to a multiple of the live data
DRIVER_GC_GOAL = "-XX:GCTimeRatio=19"


def build_session(app: str = "greenexp", master: str | None = None,
                  shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or int(os.environ.get(
        "GREENEXP_SHUFFLE_PARTITIONS", str(max(8, int(cpus) if cpus.isdigit() else 32))))
    return (
        SparkSession.builder.appName(app).master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
                "true")
        # int64 micros (not legacy INT96) so parquet files carry
        # min/max statistics for timestamp columns — the icetable
        # manifest pruning and any engine's row-group skipping need them
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.python.daemon.module",
                "greenexp_r_spark.worker_daemon")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "50000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("GREENEXP_DRIVER_MEM", "8g"))
        # throughput GC: this is a batch-analytics JVM; G1's many
        # concurrent threads showed pathological kernel time on the
        # virtualized 32-vCPU test box
        .config("spark.driver.extraJavaOptions",
                f"-XX:+UseParallelGC {DRIVER_GC_GOAL}")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
