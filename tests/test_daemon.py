"""The Python daemon of `session.build_session` (worker_daemon): a
task's `importlib.invalidate_caches()` keeps the directories of
unchanged zip archives, a zip that changes or arrives later is still
read, and the daemon starts where only `PYTHONPATH` finds the engine."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import uuid
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DAEMON = "greenexp_r_spark.worker_daemon"


def _in_tasks(spark, fn, n: int = 8) -> list:
    """``fn()`` once in each of ``n`` Python tasks."""
    return (spark.sparkContext.parallelize(range(n), n)
            .mapPartitions(lambda _: [fn()]).collect())


def _write_zip(path: str, modules: dict[str, int]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, value in modules.items():
            z.writestr(f"{name}.py", f"VALUE = {value}\n")


def test_unchanged_pyspark_zip_is_not_reread(spark):
    def probe():
        import importlib
        import time
        import zipimport
        arch = next(a for a in zipimport._zip_directory_cache
                    if a.endswith("pyspark.zip"))
        before = zipimport._zip_directory_cache[arch]
        took = []
        for _ in range(3):
            t0 = time.perf_counter()
            importlib.invalidate_caches()
            took.append(time.perf_counter() - t0)
        spec = getattr(sys.modules["__main__"], "__spec__", None)
        return (zipimport._zip_directory_cache[arch] is before, min(took),
                getattr(spec, "name", None))

    for same, took, daemon in _in_tasks(spark, probe):
        assert daemon == DAEMON
        assert same
        assert took < 0.005


def test_zip_added_after_workers_started_imports(spark, tmp_path):
    _in_tasks(spark, lambda: 0)
    mod = f"gx_added_{uuid.uuid4().hex}"
    path = str(tmp_path / f"{mod}.zip")
    _write_zip(path, {mod: 7})
    spark.sparkContext.addPyFile(path)

    def load():
        import importlib
        return importlib.import_module(mod).VALUE

    assert _in_tasks(spark, load) == [7] * 8


def test_zip_rewritten_in_place_is_reread(spark, tmp_path):
    """Every worker imports from the zip, the zip is rewritten in place
    with one more module, and the next tasks import that module."""
    old, new = (f"gx_{tag}_{uuid.uuid4().hex}" for tag in ("old", "new"))
    name = f"{old}.zip"
    _write_zip(str(tmp_path / name), {old: 1})
    spark.sparkContext.addPyFile(str(tmp_path / name))

    def where():
        import importlib
        importlib.import_module(old)
        return next(p for p in sys.path if p.endswith(name))

    seen = set(_in_tasks(spark, where, 16))
    assert len(seen) == 1
    _write_zip(seen.pop(), {old: 1, new: 2})

    def load():
        import importlib
        return importlib.import_module(new).VALUE

    assert _in_tasks(spark, load, 16) == [2] * 16


def test_session_from_other_cwd_with_engine_on_pythonpath(tmp_path):
    code = """
import json, sys
from greenexp_r_spark.session import build_session

def daemon(it):
    spec = getattr(sys.modules["__main__"], "__spec__", None)
    for pdf in it:
        yield pdf.assign(daemon=getattr(spec, "name", None))

spark = build_session(master="local[1]", shuffle_partitions=1)
rows = spark.range(4).mapInPandas(daemon, "id long, daemon string").collect()
print(json.dumps([[r.id, r.daemon] for r in rows]))
spark.stop()
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(PYTHONPATH=REPO, GREENEXP_DRIVER_MEM="1g")
    proc = subprocess.run([sys.executable, "-c", code], cwd=str(tmp_path),
                          env=env, capture_output=True, text=True,
                          timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    rows = json.loads(proc.stdout.strip().splitlines()[-1])
    assert rows == [[i, DAEMON] for i in range(4)]
