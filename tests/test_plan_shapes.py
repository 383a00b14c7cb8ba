"""Plan-shape regression guards for the round-5 session-4 operators —
each pins the shuffle count its docstring claims, so a refactor that
silently adds an exchange fails here, not at 100 TB."""

from __future__ import annotations

import pyspark.sql.functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _n_exchanges(df) -> int:
    # count shuffle exchanges only (broadcast exchanges are the point
    # of several of these plans)
    return _plan(df).count("Exchange hashpartitioning") + \
        _plan(df).count("Exchange rangepartitioning")


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def test_sessionize_is_one_user_keyed_shuffle(spark, sf_dir):
    """Two windows + the session rollup share ONE exchange: the
    windows partition by user_id, and HashPartitioning(user_id)
    satisfies the (user_id, sess_seq) clustering of the final
    aggregate (subset rule)."""
    from greenexp_r_spark.operators import sessions as SS
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    assert _n_exchanges(SS.sessionize_batch(ev)) == 1


def test_asof_join_is_one_keyed_shuffle(spark, sf_dir):
    """Union + one keyed window = ONE exchange on the join key — the
    whole point of the union-window as-of plan (operators/asof.py
    docstring) vs a per-key range join."""
    from greenexp_r_spark.operators import asof as AS
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    left = ev.where("event_type = 'purchase'") \
        .select("event_id", "ts", "user_id")
    right = ev.where("event_type IN ('click', 'view')") \
        .select("user_id", "ts", "event_type", "event_id")
    j = AS.asof_join(left, right, key="user_id",
                     payload=["event_type", "event_id"],
                     tiebreak="event_id")
    assert _n_exchanges(j) == 1


def test_canonical_url_is_jvm_projection(spark, sf_dir):
    """The canonical url is a pure JVM projection: zero exchanges and no
    Python eval anywhere in the plan.  (It is NOT whole-stage-codegen:
    the tracking-param filter is a higher-order-function lambda, which
    Spark interprets — acceptable here because the arrays are
    per-url-tiny and the op is ingestion-side, not EXPOSURE-hot; a
    codegen regex rewrite would need lookahead/backrefs, both
    cross-engine parity traps.)"""
    from greenexp_r_spark.dialect import SPARK
    from greenexp_r_spark.operators import urlnorm as U
    pg = _docs(spark, sf_dir).select(
        F.concat(F.lit("https://S"), F.col("doc_id").cast("string"),
                 F.lit(".org:443/p/?utm_a=1&id=2#f")).alias("url"))
    out = pg.select(F.expr(U.canonical_url_sql(SPARK, "url")).alias("c"))
    plan = _plan(out)
    assert _n_exchanges(out) == 0
    assert "Python" not in plan and "BatchEvalPython" not in plan
