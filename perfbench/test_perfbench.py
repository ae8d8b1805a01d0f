"""Self-tests of the benchmark. Run from the repository root:

    python3 -m pytest perfbench -q -p no:cacheprovider

The two tests that start Spark take about a minute each.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import corpus  # noqa: E402
import datagen  # noqa: E402
import run  # noqa: E402

# before anything imports vnavc_spark.session, which reads it once
os.environ["SPARK_GRAFT_DRIVER_MEM"] = run.driver_memory()

with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as _fh:
    SPEC = json.load(_fh)


def _tree_digest(path: str) -> str:
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(path)):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def test_corpus_is_a_function_of_the_seed(tmp_path):
    a = corpus.generate(str(tmp_path / "a"), 7, 2)
    b = corpus.generate(str(tmp_path / "b"), 7, 2)
    c = corpus.generate(str(tmp_path / "c"), 8, 2)
    assert _tree_digest(str(tmp_path / "a")) == _tree_digest(str(tmp_path / "b"))
    assert _tree_digest(str(tmp_path / "a")) != _tree_digest(str(tmp_path / "c"))
    assert [x.expected() for x in a] == [x.expected() for x in b]


def test_corpus_plants_what_the_checks_expect(tmp_path):
    batches = corpus.generate(str(tmp_path), 3, 2)
    for batch in batches:
        want = batch.expected()
        assert want["books"] == len(corpus.DURATIONS_S)
        assert len(want["qualified"]) == want["books"] - 1
        assert len(want["kept"]) == want["books"] - 2
        assert len(want["near_dup_pairs"]) == (1 if batch.index else 0)
        assert sum(b.as_pdf for b in batch.books) == len(batch.books) // 2
    # every seed ingests the same seconds of audio
    assert sum(b.duration_s for b in batches[0].books) == sum(corpus.DURATIONS_S)


def test_registry_tables_are_fixed():
    a = datagen.build_tables(0.001)
    b = datagen.build_tables(0.001)
    assert set(a) == set(datagen.TABLES)
    assert all(a[t].equals(b[t]) for t in a)


def test_tail_is_the_highest_percentile_with_ten_beyond():
    import harness

    assert harness.tail([float(i) for i in range(100)]) == (89.0, 90.0)
    assert harness.tail([3.0, 1.0, 2.0]) == (3.0, 100.0)


def test_end_to_end_names_match_the_spec():
    import harness

    m = harness.Measurement(latencies=[1.0, 2.0], pass_walls=[3.0])
    got = harness.end_to_end_metrics("olap_mix", [1.0, 2.0, 3.0], 0.5, m, 1024)
    want = {x["name"]: x["unit"] for x in SPEC["end_to_end"]}
    assert {k: u for k, (_, u) in got.items()} == want


def test_emit_refuses_nan():
    import harness

    with pytest.raises(ValueError):
        harness.result_json(1, 0, {"wall_s": (float("nan"), "s")})
    with pytest.raises(ValueError):
        run.emit({"correct": True, "attempted": 1, "failed": 0,
                  "metrics": {"wall_s": {"value": float("nan"), "unit": "s"}}})


def test_wrong_fingerprint_counts_as_a_failed_op(tmp_path, monkeypatch):
    work = str(tmp_path / "work")
    run.setup_env(work)
    import harness
    import workloads as W

    good = W.load_expected()["queries"]["q03_pricing_summary"]
    wl = W.QueryWorkload("olap_mix", ("q03_pricing_summary", "q10_rollup"), sf=0.01, expected={
        "q03_pricing_summary": good,
        "q10_rollup": {"rows": 1, "sha256": "0" * 64},
    })
    monkeypatch.setattr(W, "make", lambda name: wl)
    cfg = harness.Config(workload="olap_mix", seed=1, seconds=0, trace=False,
                         work=work, cpus=2)
    result = harness.run(cfg)
    assert (result["attempted"], result["failed"], result["correct"]) == (2, 1, False)


def _git_status() -> str:
    return subprocess.run(["git", "status", "--porcelain", "--ignored=no"], cwd=ROOT,
                          capture_output=True, text=True, check=True).stdout


def test_traced_run_reports_the_spec_and_leaves_the_tree_clean():
    before = _git_status()
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "olap_mix", "--seed", "5",
         "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    want = {x["name"]: x["unit"] for x in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert _git_status() == before
    assert not os.path.exists(os.path.join(ROOT, ".bench_work")) or not os.listdir(
        os.path.join(ROOT, ".bench_work"))


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, p), tmp_path / p)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(SPEC["command"] + ["--workload", "olap_mix", "--seed", "1",
                                            "--seconds", "1", "--trace", "0"],
                         cwd=tmp_path, env=env, capture_output=True, text=True, timeout=180)
    assert out.returncode != 0
    assert not out.stdout.strip()
