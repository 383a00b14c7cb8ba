"""spark-submit entry point for the north-star pages pipeline.

The north_rule runs the engine "via spark-submit --py-files on a
multi-executor cluster".  This script is that deployment surface: it
imports the engine ONLY from the submitted --py-files zip (no repo
path assumptions), builds the pages table from a documents parquet
directory, runs snapshot dedup → byte-exact extraction → url
geocoding → availability + accessibility exposure, writes the result
as parquet, and prints one JSON line of lineage metrics.

Usage:
    spark-submit --master <...> --py-files greenexp_r_spark.zip \
        tools/submit_job.py <sf_dir | synthetic:N> <out_dir>

`synthetic:N` swaps the parquet input for N deterministic synthetic
urls (sources/pages.synthetic_pages) — the two-cluster-size scaling
protocol run LITERALLY through spark-submit (BASELINE.json north
rule); wall seconds and throughput are included in the JSON line.

Verified end-to-end by tests/test_submit.py (local[4], result equals
the in-process q_exposure_pages plan bit-for-bit).

The session is spark-submit's own, not `session.build_session`, so
the Python workers come from pyspark's own daemon, not the engine's
`worker_daemon`.  Spark starts the daemon with `python -m <module>`
before any task runs, but under --py-files the engine zip reaches the
workers only with each task, so the engine's daemon module could not
be imported when the daemon starts.  Each task here therefore still
pays pyspark's per-task zip re-reads (README "Performance notes").
"""

from __future__ import annotations

import json
import sys
import time

from pyspark.sql import SparkSession


def main() -> None:
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    spark = SparkSession.builder.appName("greenexp-submit").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    from greenexp_r_spark.operators import pages_ops

    t0 = time.time()
    if sf_dir.startswith("synthetic:"):
        n = int(sf_dir.split(":", 1)[1])
        from greenexp_r_spark.sources import pages as P
        result = pages_ops.exposure_of_pages(P.synthetic_pages(spark, n))
        n_in = n
    else:
        result = pages_ops.exposure_over_pages(spark, sf_dir)
        n_in = None
    result.write.mode("overwrite").parquet(out_dir)
    dt = time.time() - t0
    back = spark.read.parquet(out_dir)
    rows = back.count()
    print(json.dumps({
        "rows": rows,
        "n_files": len(back.inputFiles()),
        "columns": sorted(back.columns),
        "seconds": round(dt, 2),
        "urls_per_sec": round((n_in or rows) / dt, 1),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
