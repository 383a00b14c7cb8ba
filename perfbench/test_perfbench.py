"""Tests of the benchmark's own code (no Spark session is started).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
    SPEC = json.load(f)

SMALL = {"n_docs": 400, "mean_bytes": 300}


def test_same_seed_writes_byte_identical_files(tmp_path):
    a = gen.prepare("corpus", 5, str(tmp_path / "a"), SMALL)
    b = gen.prepare("corpus", 5, str(tmp_path / "b"), SMALL)
    names = sorted(f for f in os.listdir(a["dir"]) if f.endswith(".parquet"))
    assert names and names == sorted(
        f for f in os.listdir(b["dir"]) if f.endswith(".parquet"))
    for n in names:
        with open(os.path.join(a["dir"], n), "rb") as fa, \
                open(os.path.join(b["dir"], n), "rb") as fb:
            assert fa.read() == fb.read(), n
    assert {k: v for k, v in a.items() if k != "dir"} == \
        {k: v for k, v in b.items() if k != "dir"}


def test_inputs_of_other_sizes_are_written_again(tmp_path):
    a = gen.prepare("corpus", 5, str(tmp_path), SMALL)
    assert gen.prepare("corpus", 5, str(tmp_path), SMALL) == a
    b = gen.prepare("corpus", 5, str(tmp_path), dict(SMALL, n_docs=200))
    assert b["dir"] == a["dir"] and b["n_docs"] == 200
    assert len(pd.read_parquet(os.path.join(b["dir"],
                                            "documents.parquet"))) == 200


def test_seeds_differ_and_offset_doc_ids():
    d1 = gen.zipf_documents(1, **SMALL)
    d2 = gen.zipf_documents(2, **SMALL)
    assert d1["doc_id"].iloc[0] == gen.id_offset(1)
    assert d2["doc_id"].iloc[0] == gen.id_offset(2)
    assert not d1["text"].equals(d2["text"])


def test_planted_exact_duplicates_are_in_the_ground_truth():
    docs = gen.zipf_documents(3, **SMALL)
    truth = gen.exact_groups(docs)
    planted = int(SMALL["n_docs"] * gen.EXACT_FRAC)
    # every planted copy joins a group with its original
    assert len(truth) >= planted + 1
    for gmin, grp in truth.groupby("dup_group_min"):
        texts = docs.set_index("doc_id").loc[grp["doc_id"], "text"]
        assert texts.nunique() == 1
        assert grp["doc_id"].min() == gmin
        assert (grp["group_size"] == len(grp)).all()
    # pandas' own duplicate detection finds the same documents
    dup = docs[docs.duplicated("text", keep=False)]["doc_id"]
    assert sorted(dup) == sorted(truth["doc_id"])


def test_zipf_vocabulary_is_skewed_and_lengths_are_fixed_total():
    docs = gen.zipf_documents(4, **SMALL)
    counts = pd.Series(" ".join(docs["text"]).split()).value_counts()
    assert counts.iloc[0] > 20 * counts.iloc[len(counts) // 2]
    total = docs["n_chars"].sum()
    assert abs(total - SMALL["n_docs"] * SMALL["mean_bytes"]) \
        < 0.05 * total


class _Loop(run.Loop):
    def __init__(self):
        self.ops = [{"wall": w, "build": 1.0, "exec": w - 1.0,
                     "traced": t}
                    for w, t in ((3.2, False), (4.0, True), (3.0, False),
                                 (1.4, False), (1.0, False))]
        self.cold = 12.0


class _Sessions:
    times = [10.0, 0.8, 0.7]


class _Tracer:
    def __init__(self):
        base = {"parent": None, "peak_rss_mb": 100.0, "jobs": 1,
                "tasks": 4, "shuffle_write_bytes": 10, "python_s": 0.5,
                "task_skew": 1.2}
        self.spans = [dict(base, id="r/1", name="op", start=0.0, end=4.0)]
        for i, name in enumerate(run.LAYERS + ("stats",)):
            self.spans.append(dict(base, id=f"r/{i + 2}", parent="r/1",
                                   name=name, start=i * 0.4,
                                   end=i * 0.4 + 0.3))


def _assert_all_printed(values, wanted):
    metrics = run.pick(values, wanted)
    assert list(metrics) == [m["name"] for m in wanted]
    for m in wanted:
        assert metrics[m["name"]]["unit"] == m["unit"]
        assert isinstance(metrics[m["name"]]["value"], (int, float))


def test_every_end_to_end_metric_is_printed_with_its_unit():
    meta = {"n_docs": 1000, "text_bytes": 2_000_000}
    values = run.end_to_end(_Loop(), _Sessions(), meta, 512.0, 1.0)
    _assert_all_printed(values, SPEC["end_to_end"])
    # the first two untraced operations only
    assert values["wall_s"] == pytest.approx(3.1)
    assert values["setup_s"] == 0.8
    assert values["exposure_pts_per_s"] == pytest.approx(1000 / 3.1)


def test_every_per_layer_metric_is_printed_with_its_unit():
    values = run.per_layer(_Loop(), _Tracer(), 2.9, 0.7)
    _assert_all_printed(values, SPEC["per_layer"])
    # the op span and every layer span count; the benchmark's own
    # counting queries ("stats") do not
    assert values["driver.jobs"] == 1 + len(run.LAYERS)
    assert values["sources.busy_s"] == pytest.approx(0.3)
    assert values["driver.cold_op_s"] == 12.0
    assert values["host.burn_ratio"] == 2.9
    assert values["exposure.scaling_eff"] == 0.7


def test_missing_metric_is_an_error():
    with pytest.raises(KeyError):
        run.pick({}, SPEC["end_to_end"])


def test_fails_without_printing_outside_a_checkout(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"),
                tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "exposure",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert p.stdout == ""
