"""Bounded collects: one Spark job that both picks a size route and
fetches the rows the driver route needs.

A `limit(N+1).count()` probe followed by a collect runs the input's
plan twice (and an un-persisted join pipeline twice over); fetching
`limit(N+1)` straight into pandas answers "is it at most N rows?" and
hands the driver route its input in the same job.  Past N the caller
takes its distributed route, or refuses the input.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame


def fetch_at_most(df: DataFrame, limit: int) -> pd.DataFrame | None:
    """`df` as a pandas frame when it has at most `limit` rows, else
    None — one `limit(limit + 1).toPandas()` job either way."""
    pdf = df.limit(limit + 1).toPandas()
    return None if len(pdf) > limit else pdf
