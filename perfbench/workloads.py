"""The benchmark workloads.

Each workload has an untraced operation (the user-facing pipeline,
materialized through a ``noop`` sink), a traced operation (the same
steps, one span per engine layer, each layer's output persisted and
forced so its span covers its own work), and output checks that run
after the timed loop.  See NOTES.md for why each workload exists.
"""

from __future__ import annotations

import hashlib
import os
import time

import duckdb
import numpy as np
import pandas as pd


def sink(df) -> None:
    """Full materialization: every column of every row, nothing kept."""
    df.write.format("noop").mode("overwrite").save()


def vhash(pdf: pd.DataFrame) -> str:
    """Order-insensitive value hash, the rule of tools/driver_mimic.py
    (copied: that script runs the whole gate when imported)."""
    pdf = pdf[sorted(pdf.columns)]
    pdf = pdf.sort_values(by=list(pdf.columns),
                          kind="mergesort").reset_index(drop=True)
    kinds = [d.kind for d in pdf.dtypes]
    payload = repr(kinds) + "\n" + pdf.to_csv(index=False,
                                              float_format="%.17g")
    return hashlib.md5(payload.encode()).hexdigest()


def _same(engine: pd.DataFrame, oracle: pd.DataFrame) -> bool:
    return (len(engine) == len(oracle)
            and sorted(engine.columns) == sorted(oracle.columns)
            and vhash(engine) == vhash(oracle))


class Run:
    """What an operation needs: the session, the tracer, the inputs."""

    def __init__(self, spark, tracer, meta: dict, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.meta = meta
        self.dir = meta["dir"]
        self.seed = seed


def _forced(run: Run, layer: str, build):
    """Traced step: build the layer's output inside its span, persist
    and force it there; returns (df, span record)."""
    with run.tracer.span(layer) as rec:
        df = build().persist()
        sink(df)
    return df, rec


class Exposure:
    """The north-star pipeline: pages snapshot -> extract -> geocode ->
    availability + accessibility + VGVI on every 10th url, per url."""

    name = "exposure"
    sizes = {"n_docs": 20_000, "mean_bytes": 150}

    def op(self, run: Run) -> tuple[float, float]:
        from greenexp_r_spark import registry
        t0 = time.perf_counter()
        df = registry.flagship_exposure_pages(run.spark, run.dir)
        t1 = time.perf_counter()
        sink(df)
        return t1 - t0, time.perf_counter() - t1

    def traced_op(self, run: Run) -> None:
        from pyspark.sql import functions as F
        from greenexp_r_spark import world
        from greenexp_r_spark.operators import (availability, knn_cells,
                                                pages_ops, visibility)
        from greenexp_r_spark.sources import pages as P
        spark = run.spark
        pages, _ = _forced(run, "sources", lambda: P.pages_df(spark, run.dir))
        pts, _ = _forced(run, "pages_ops", lambda: pages_ops.geocode(
            pages_ops.latest_extracted_snapshot(pages)).select(
                "point_id", "url", "warc_ts", "x", "y", "n_chars"))
        av, rec = _forced(run, "availability",
                          lambda: availability.ndvi_zonal(pts))
        ac, _ = _forced(run, "accessibility",
                        lambda: knn_cells.euclidean_access_cells(
                            pts, world.parks_df(spark)))
        vg, vrec = _forced(run, "visibility",
                           lambda: visibility.vgvi_points(pts, sample_mod=10))
        sink(pts.join(av, "point_id").join(ac, "point_id")
             .join(vg, "point_id", "left"))
        with run.tracer.span("stats"):
            rec["cells"] = av.agg(F.sum("n_cells")).first()[0]
            rec["cell_keep_ratio"] = rec["cells"] / _square_cells(run.meta)
            vrec["observers"] = vg.count()
        for df in (pages, pts, av, ac, vg):
            df.unpersist()

    def check(self, run: Run) -> list[tuple[str, bool]]:
        """The registry_pages oracle on a seeded sample of urls; VGVI
        present exactly on the sampled observers.  Every output row
        depends on its own url only, so engine and oracle both run on
        the sampled documents alone."""
        import gen
        from greenexp_r_spark import registry, registry_pages
        from greenexp_r_spark.dialect import DUCK
        docs = pd.read_parquet(f"{run.dir}/documents.parquet")
        rng = np.random.default_rng([run.seed, 11])
        pick = rng.choice(len(docs), size=min(200, len(docs)), replace=False)
        sample = docs.iloc[np.sort(pick)]
        sub = os.path.join(run.dir, "check")
        os.makedirs(sub, exist_ok=True)
        gen.write_table(sample, os.path.join(sub, "documents.parquet"))
        con = duckdb.connect()
        con.execute("SET threads=4")
        con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet("
                    f"'{sub}/documents.parquet')")
        oracle = con.sql(registry_pages._oracle_exposure_pages(DUCK)).df()
        con.close()
        eng = registry.flagship_exposure_pages(run.spark, sub).toPandas()
        pid = eng["url"].str.extract(r"page/([0-9]+)$")[0].astype("int64")
        vis_ok = bool(((pid % 10 == 0) == eng["vgvi"].notna()).all()
                      and len(eng) == len(sample))
        return [("exposure.oracle", _same(eng[oracle.columns], oracle)),
                ("exposure.vgvi_observers", vis_ok)]


def _doc_ids(meta: dict) -> np.ndarray:
    import pyarrow.parquet as pq
    return pq.read_table(f"{meta['dir']}/documents.parquet",
                         columns=["doc_id"])["doc_id"].to_numpy()


def _square_cells(meta: dict) -> int:
    """Cells the availability explode enumerates before its disc
    filter: the (2 * buffer / res)-ish square around every point,
    computed from the geocoding formula of world.py."""
    from greenexp_r_spark import constants as C
    pid = _doc_ids(meta).astype(object)
    r, res = C.BUFFER_M, C.NDVI_RES

    def span(mul, add):
        v = np.array([((p * mul + add) % C.P31) % C.WORLD_SIZE for p in pid],
                     dtype=np.float64)
        return np.floor((v + r) / res) - np.floor((v - r) / res) + 1

    return int((span(C.X_MUL, C.X_ADD) * span(C.Y_MUL, C.Y_ADD)).sum())


class Corpus:
    """Heavy-text pipeline over the same pages source: snapshot with CDC
    columns, text profile, fingerprint, NB quality classifier, exact and
    SimHash near-duplicates.  The snapshot is persisted once per
    operation and feeds every consumer, as a batch job would run it."""

    name = "corpus"
    sizes = {"n_docs": 1_000, "mean_bytes": 1_400}

    @staticmethod
    def _docs(snap):
        from pyspark.sql import functions as F
        from greenexp_r_spark.sources import pages as P
        did = F.regexp_extract("url", P.URL_ID_RE, 1).cast("long")
        return snap.select(did.alias("doc_id"), "text", "lang")

    @staticmethod
    def _consumers(docs):
        from greenexp_r_spark.operators import classify, dedup, textqa
        return {
            "textqa": lambda: [textqa.text_profile(docs),
                               textqa.fingerprint(docs)],
            "classify": lambda: [classify.quality_classifier(docs)],
            "dedup": lambda: [dedup.exact_duplicates(docs),
                              dedup.simhash_pairs(docs)],
        }

    def op(self, run: Run) -> tuple[float, float]:
        from greenexp_r_spark.operators import pages_ops
        t0 = time.perf_counter()
        snap = pages_ops.pages_snapshot_delta(run.spark, run.dir).persist()
        t1 = time.perf_counter()
        sink(snap)
        t2 = time.perf_counter()
        build, exe = t1 - t0, t2 - t1
        for make in self._consumers(self._docs(snap)).values():
            t0 = time.perf_counter()
            outs = make()
            t1 = time.perf_counter()
            for df in outs:
                sink(df)
            build += t1 - t0
            exe += time.perf_counter() - t1
        snap.unpersist()
        return build, exe

    def traced_op(self, run: Run) -> None:
        from greenexp_r_spark.operators import pages_ops
        from greenexp_r_spark.sources import pages as P
        with run.tracer.span("sources"):
            sink(P.pages_df(run.spark, run.dir))
        snap, _ = _forced(run, "pages_ops", lambda: pages_ops
                          .pages_snapshot_delta(run.spark, run.dir))
        # nothing downstream reuses these outputs, so they are sunk, not
        # persisted: the sink's own SQL metrics then carry the Python
        # worker time of the layer
        outs, recs = {}, {}
        for layer, make in self._consumers(self._docs(snap)).items():
            with run.tracer.span(layer) as recs[layer]:
                outs[layer] = make()
                for df in outs[layer]:
                    sink(df)
        with run.tracer.span("stats"):
            recs["dedup"]["pairs"] = sum(df.count() for df in outs["dedup"])
        snap.unpersist()

    def check(self, run: Run) -> list[tuple[str, bool]]:
        """Extracted text byte-identical to the generated text; exact
        duplicate groups equal to the generator's ground truth."""
        from greenexp_r_spark.operators import dedup, pages_ops
        docs = self._docs(pages_ops.pages_snapshot_delta(run.spark, run.dir))
        got = docs.select("doc_id", "text").toPandas()
        src = pd.read_parquet(f"{run.dir}/documents.parquet",
                              columns=["doc_id", "text"])
        m = src.merge(got, on="doc_id", how="left", suffixes=("", "_x"))
        text_ok = (len(got) == len(src)
                   and bool((m["text"] == m["text_x"]).all()))
        ex = dedup.exact_duplicates(docs).toPandas().astype("int64")
        truth = pd.read_parquet(f"{run.dir}/exact_truth.parquet")
        ex = ex.sort_values(["dup_group_min", "doc_id"]).reset_index(drop=True)
        return [("corpus.text_identity", text_ok),
                ("corpus.exact_groups",
                 ex[truth.columns].equals(truth))]


WORKLOADS = {"exposure": Exposure, "corpus": Corpus}
