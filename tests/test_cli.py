"""CLI entrypoint tests: ``python -m np_data_validation_spark`` exercises
arg parsing, session bring-up, the batch plan, the JSON summary contract,
and checkpointed resume; test_spark_submit_py_files_end_to_end drives the
SAME surface through a real ``spark-submit --py-files npdv.zip`` with the
repo stripped from PYTHONPATH, so packaging (zipimport on driver and
workers) is driver-signed evidence, not a manual claim."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run_cli(args: list[str]) -> dict:
    env = {**os.environ, "PYTHONPATH": REPO}
    p = subprocess.run(
        [sys.executable, "-m", "np_data_validation_spark", *args],
        capture_output=True,
        text=True,
        timeout=600,
        env=env,
        cwd="/tmp",  # outside the repo: packaging must come from PYTHONPATH
    )
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def test_cli_batch_then_resume(synth_dataset, tmp_path):
    root, labels = synth_dataset
    out = str(tmp_path / "out")
    cmd = [
        "--master", "local[4]",
        "--snapshot", os.path.join(root, "sequences"),
        "--manifest", os.path.join(root, "manifest"),
        "--out", out,
    ]
    s1 = _run_cli(cmd)
    assert s1["mode"] == "batch"
    assert sorted(s1["validated"]) == sorted(labels["source"].unique())
    assert s1["rows"] == labels["doc_id"].nunique()
    assert all(m["partition_status"] in ("pass", "fail") for m in s1["metrics"].values())
    # second submit of the SAME command: checkpoint resume validates nothing
    s2 = _run_cli(cmd)
    assert s2["validated"] == []
    assert sorted(s2["skipped"]) == sorted(s1["validated"])


def test_spark_submit_py_files_end_to_end(synth_dataset, tmp_path):
    """The north-rule deployment surface, end to end and automated: build
    npdv.zip exactly as the README documents, copy the entry file OUT of
    the repo, strip the repo from PYTHONPATH, and drive a full batch
    validation through a real ``spark-submit --py-files`` — the package
    must come from the zip on both the driver (spark-submit prepends
    --py-files to the driver's sys.path) and the python workers. Skipped
    where no spark-submit binary exists."""
    import shutil
    import zipfile

    spark_submit = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"
    if not os.path.exists(spark_submit):
        import pytest

        pytest.skip("no spark-submit on PATH")

    pkg_dir = os.path.join(REPO, "np_data_validation_spark")
    zip_path = str(tmp_path / "npdv.zip")
    with zipfile.ZipFile(zip_path, "w") as z:
        for dirpath, _, files in os.walk(pkg_dir):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    z.write(full, os.path.relpath(full, REPO))
    entry = str(tmp_path / "entry.py")
    shutil.copy(os.path.join(pkg_dir, "__main__.py"), entry)

    root, labels = synth_dataset
    out = str(tmp_path / "out")
    env = {
        k: v for k, v in os.environ.items() if k != "PYTHONPATH"
    }  # the repo must NOT be importable except through the zip
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    p = subprocess.run(
        [
            spark_submit,
            "--master", "local[4]",
            "--py-files", zip_path,
            entry,
            "--master", "inherit",
            "--snapshot", os.path.join(root, "sequences"),
            "--manifest", os.path.join(root, "manifest"),
            "--out", out,
        ],
        capture_output=True,
        text=True,
        timeout=600,
        env=env,
        cwd=str(tmp_path),  # outside the repo: no cwd fallback import
    )
    assert p.returncode == 0, (p.stderr[-3000:], p.stdout[-1000:])
    summary = json.loads(p.stdout.strip().splitlines()[-1])
    assert summary["mode"] == "batch"
    assert sorted(summary["validated"]) == sorted(labels["source"].unique())
    assert summary["rows"] == labels["doc_id"].nunique()
    assert all(
        m["partition_status"] in ("pass", "fail")
        for m in summary["metrics"].values()
    )


class _Built(Exception):
    pass


class _FakeBuilder:
    """Records the session builder's conf and stops at getOrCreate."""

    def __init__(self):
        self.conf = {}

    def appName(self, _name):
        return self

    def master(self, _master):
        return self

    def config(self, k, v):
        self.conf[k] = v
        return self

    def getOrCreate(self):
        raise _Built(self.conf)


def _built_conf(monkeypatch, **kw) -> dict:
    """The conf ``get_spark(cpus=1, **kw)`` hands the session builder."""
    from np_data_validation_spark import session

    monkeypatch.setattr(session.SparkSession, "builder", _FakeBuilder())
    try:
        session.get_spark(**{"cpus": 1, **kw})
    except _Built as b:
        return b.args[0]
    raise AssertionError("getOrCreate was not reached")


def test_inherit_leaves_shuffle_partitions_to_spark_submit(monkeypatch):
    """Under spark-submit the submitted conf sizes the shuffle, not the
    driver host's cores; a local session still gets 2x cores, at least 8,
    and a ``local[N]`` master decides the cores over ``cpus``."""
    conf = _built_conf(monkeypatch, master="inherit", cpus=4)
    assert "spark.sql.shuffle.partitions" not in conf
    assert _built_conf(monkeypatch, cpus=4)["spark.sql.shuffle.partitions"] == "8"
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "16")
    for master, parts in (("local[6]", "12"), ("local[2]", "8")):
        conf = _built_conf(monkeypatch, master=master, cpus=None)
        assert conf["spark.sql.shuffle.partitions"] == parts, master


def test_codegen_cache_holds_the_engine_working_set(monkeypatch):
    """The generated-code cache is sized to the engine's plans (about 150
    classes per call, above Spark's 100-entry default), the same locally and
    under spark-submit."""
    for kw in ({}, {"master": "inherit"}):
        conf = _built_conf(monkeypatch, **kw)
        assert conf["spark.sql.codegen.cache.maxEntries"] == "1000"


def test_spark_local_dir_is_opt_in(monkeypatch):
    """Shuffle scratch goes to RAM only on request: with NPDV_LOCAL_DIR
    unset the builder never points spark.local.dir at /dev/shm; set, it
    uses exactly that directory."""
    monkeypatch.delenv("NPDV_LOCAL_DIR", raising=False)
    assert "spark.local.dir" not in _built_conf(monkeypatch)
    monkeypatch.setenv("NPDV_LOCAL_DIR", "/scratch/npdv")
    assert _built_conf(monkeypatch)["spark.local.dir"] == "/scratch/npdv"


def _meminfo(total_kb: int) -> str:
    return (
        f"MemTotal:       {total_kb} kB\n"
        "MemFree:         1048576 kB\n"
        "MemAvailable:    2097152 kB\n"
    )


def test_driver_memory_sized_to_host(monkeypatch):
    """Unset SPARK_DRIVER_MEM, the driver asks for a quarter of MemTotal,
    clamped to 1-8 GiB; set, it wins."""
    from np_data_validation_spark import session

    gib = 1024 * 1024  # kB
    assert session.default_driver_memory(_meminfo(16 * gib)) == "4096m"
    assert session.default_driver_memory(_meminfo(15 * gib + 712 * 1024)) == "4018m"
    assert session.default_driver_memory(_meminfo(2 * gib)) == "1024m"  # floor
    assert session.default_driver_memory(_meminfo(256 * gib)) == "8192m"  # cap
    assert session.default_driver_memory("MemFree: 1 kB\n") == "8g"  # no MemTotal
    assert session.default_driver_memory(None) == "8g"  # no /proc

    monkeypatch.setattr(session, "_read_meminfo", lambda: _meminfo(6 * gib))
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    assert _built_conf(monkeypatch)["spark.driver.memory"] == "1536m"
    monkeypatch.setenv("SPARK_DRIVER_MEM", "3g")
    assert _built_conf(monkeypatch)["spark.driver.memory"] == "3g"


def test_cli_truncated_parquet_fails_without_commit(spark, tmp_path):
    """A snapshot partition holding a file that is not parquet (a truncated
    write) makes the CLI raise, not exit 0, and that partition gets no
    ``done`` state row, so a later run validates it."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from np_data_validation_spark.__main__ import main as cli_main
    from np_data_validation_spark.plans import checkpoint as CP

    snap = tmp_path / "sequences"
    for src, ids in (("good", ["a", "b"]), ("bad", ["c"])):
        d = snap / f"source={src}"
        d.mkdir(parents=True)
        pq.write_table(
            pa.table({
                "doc_id": pa.array(ids, pa.string()),
                "tokens": pa.array([[1, 2, 3]] * len(ids), pa.list_(pa.int32())),
                "n_tok": pa.array([3] * len(ids), pa.int32()),
            }),
            str(d / "part-00000.parquet"),
        )
    (snap / "source=bad" / "part-00001.parquet").write_bytes(b"PAR1 truncated")
    man = str(tmp_path / "manifest")
    spark.createDataFrame(
        [("a", 3, 1, "good"), ("c", 3, 2, "bad")],
        "doc_id string, n_tok int, tok_hash long, source string",
    ).write.parquet(man)
    out = str(tmp_path / "out")

    with pytest.raises(Exception) as ei:
        cli_main(["--snapshot", str(snap), "--manifest", man, "--out", out])
    assert "part-00001.parquet" in str(ei.value)  # the read names the file
    done = {
        r["partition"]
        for r in CP.read_state(spark, out).collect()
        if r["status"] == "done"
    }
    assert "bad" not in done


def test_cli_reports_empty_partitions(spark, tmp_path, capsys):
    """A ``source=`` directory without rows (no files, or one empty file) is
    reported under ``"empty"``, is neither validated nor skipped, and gets
    no state row; the other partitions validate as usual."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from np_data_validation_spark.__main__ import main as cli_main
    from np_data_validation_spark.plans import checkpoint as CP

    snap = tmp_path / "sequences"
    for src, ids in (("good", ["a", "b"]), ("zero rows", [])):
        d = snap / f"source={src.replace(' ', '%20')}"
        d.mkdir(parents=True)
        pq.write_table(
            pa.table({
                "doc_id": pa.array(ids, pa.string()),
                "tokens": pa.array([[1, 2, 3]] * len(ids), pa.list_(pa.int32())),
                "n_tok": pa.array([3] * len(ids), pa.int32()),
            }),
            str(d / "part-00000.parquet"),
        )
    (snap / "source=no_files").mkdir()
    man = str(tmp_path / "manifest")
    spark.createDataFrame(
        [("a", 3, 1, "good")], "doc_id string, n_tok int, tok_hash long, source string"
    ).write.parquet(man)
    out = str(tmp_path / "out")

    argv = ["--snapshot", str(snap), "--manifest", man, "--out", out]
    for _ in range(2):  # first run, then a resume with nothing pending
        capsys.readouterr()
        assert cli_main(argv) == 0
        summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert summary["empty"] == ["no_files", "zero rows"]
        assert summary["validated"] + summary["skipped"] == ["good"]
    assert {r["partition"] for r in CP.read_state(spark, out).collect()} == {"good"}
