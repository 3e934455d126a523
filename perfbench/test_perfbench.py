"""Self-tests of the benchmark on small tables.

    python3 -m pytest perfbench -q

Most Spark tests run ``perfbench/run.py`` as a subprocess, exactly as the
benchmark is run, on a few thousand rows (about half a minute each).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import inputs  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)

SMALL = ["--rows", "3000", "--seconds", "1"]


def bench(cwd, *args):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-4000:]
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    return res, {k: v["value"] for k, v in res["metrics"].items()}


def test_case_status_matches_reference_verdict_table():
    from tests.test_verdicts import EXPECTED_FINAL

    assert inputs.CASE_STATUS == {case: st for case, (_, st) in EXPECTED_FINAL.items()}


def test_mutation_keeps_cheap_fingerprints_and_changes_one_content_fingerprint(tmp_path):
    from np_data_validation_spark.plans import checkpoint as CP
    from np_data_validation_spark.session import get_spark

    ds = inputs.build(str(tmp_path), rows=2000, seed=5)
    spark = get_spark(app_name="perfbench-selftest", cpus=2,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    try:
        before = CP.input_fingerprints(spark.read.parquet(ds.snapshot), content_aware=True)
        target = inputs.mutation_target(ds, seed=5)
        inputs.mutate_partition(ds, target)
        snap = spark.read.parquet(ds.snapshot)
        cheap = CP.input_fingerprints(snap)
        content = CP.content_fingerprints(snap, ds.sources)
    finally:
        spark.stop()
    assert target != "src_00"  # never the hot partition
    assert cheap == {p: fp.rsplit(":", 1)[0] for p, fp in before.items()}
    assert sorted(p for p in ds.sources if content[p] != before[p]) == [target]


def test_tree_digest_sees_any_change(tmp_path):
    (tmp_path / "a").mkdir()
    (tmp_path / "a" / "f").write_bytes(b"x")
    d = inputs.tree_digest(str(tmp_path))
    inputs.restore(str(tmp_path / "a"), str(tmp_path / "b"))
    assert inputs.tree_digest(str(tmp_path)) != d  # new dir
    shutil.rmtree(tmp_path / "b")
    assert inputs.tree_digest(str(tmp_path)) == d
    (tmp_path / "a" / "f").write_bytes(b"y")
    assert inputs.tree_digest(str(tmp_path)) != d


def test_fresh_end_to_end_metrics(tmp_path):
    res, m = bench(tmp_path, "--workload", "fresh", "--seed", "3", "--trace", "0", *SMALL)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert set(m) == {x["name"] for x in SPEC["end_to_end"]}
    assert all(v > 0 for v in m.values()), m
    assert not os.path.exists(tmp_path / ".perfbench_work")


def test_fresh_trace_covers_the_call_and_adds_no_jobs(tmp_path):
    res, m = bench(tmp_path, "--workload", "fresh", "--seed", "3", "--trace", "1", *SMALL)
    assert res["correct"] and res["failed"] == 0
    assert set(m) == {x["name"] for x in SPEC["per_layer"]}
    assert m["trace.coverage"] >= 0.95, m["trace.coverage"]
    assert m["trace.extra_jobs"] == 0
    assert m["onepass.calls"] == 1 and m["engine.batches"] == 1
    assert m["onepass.probe_keyed_semi"] == 0  # broadcast probe tier
    assert m["hashing.rows_per_input_row"] == 1.0
    assert m["checkpoint.partitions_rehashed"] == 0
    for span in ("onepass.stage1_write", "onepass.probe_write", "onepass.identities_write",
                 "onepass.rolled_write", "engine.results_write", "engine.manifest_audit"):
        assert m[f"{span}_s"] > 0 and m[f"{span}.jobs"] > 0, span


def test_resume_changed_revalidates_only_the_mutated_partition(tmp_path):
    # every call asserts the restored state, the validated/skipped split
    # and the digests against a fresh run over T'
    res, m = bench(tmp_path, "--workload", "resume_changed", "--seed", "4", "--trace", "1",
                   *SMALL)
    assert res["correct"] and res["failed"] == 0
    assert m["checkpoint.partitions_rehashed"] == inputs.N_SOURCES
    assert m["checkpoint.partitions_skipped"] == inputs.N_SOURCES - 1
    assert m["checkpoint.content_fingerprint.jobs"] > 0
    assert 1.0 < m["hashing.rows_per_input_row"] < 1.5
    assert m["trace.extra_jobs"] == 0


@pytest.mark.parametrize("workload", ["fresh", "resume_changed"])
def test_tampered_oracle_fails_every_call(tmp_path, workload):
    res, _ = bench(tmp_path, "--workload", workload, "--seed", "3", "--trace", "0", "--tamper",
                   *SMALL)
    assert not res["correct"]
    assert res["failed"] == res["attempted"] >= 1


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(SPEC["command"] + ["--workload", "fresh", "--seed", "1",
                                          "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
