"""Checkpoint/resume tests — FIXTURES.md resume fixture: kill between
partitions, re-run, identical results, no rescan of done partitions."""

import json
import os

import pytest
from pyspark.sql import functions as F

from np_data_validation_spark.plans import checkpoint as CP
from np_data_validation_spark.plans import engine as E


@pytest.fixture()
def out_dir(tmp_path):
    return str(tmp_path / "out")


def paths(synth_dataset):
    root, labels = synth_dataset
    return os.path.join(root, "sequences"), os.path.join(root, "manifest"), labels


def test_full_run_then_noop_resume(spark, synth_dataset, out_dir):
    snap_p, man_p, labels = paths(synth_dataset)
    r1 = E.run_validation(spark, snap_p, man_p, out_dir)
    assert sorted(r1.validated_partitions) == sorted(labels["source"].unique())
    # rollup is per distinct (doc_id, source) subject: duplicates collapse
    assert r1.total_rows == labels["doc_id"].nunique()
    # all partitions done -> resume validates nothing
    r2 = E.run_validation(spark, snap_p, man_p, out_dir)
    assert r2.validated_partitions == []
    assert sorted(r2.skipped_partitions) == sorted(r1.validated_partitions)


def test_partial_run_resumes_pending_only(spark, synth_dataset, out_dir):
    snap_p, man_p, labels = paths(synth_dataset)
    all_parts = sorted(labels["source"].unique())

    # simulate a killed run: mark 2 of 4 partitions done by hand, with the
    # true input fingerprints (as a crashed-after-2-commits run would have)
    snapshot = spark.read.parquet(snap_p)
    fps = CP.input_fingerprints(snapshot)
    CP.write_state_rows(
        spark,
        out_dir,
        [
            {"partition": p, "status": "done",
             "metrics": {"rows": -1},
             "lineage": {"input_fingerprint": fps[p],
                         "code_version": E.CODE_VERSION}}
            for p in all_parts[:2]
        ],
        run_id="killed",
    )
    r = E.run_validation(spark, snap_p, man_p, out_dir)
    assert sorted(r.validated_partitions) == all_parts[2:]
    assert sorted(r.skipped_partitions) == all_parts[:2]


def test_changed_input_invalidates_checkpoint(spark, synth_dataset, out_dir):
    snap_p, man_p, labels = paths(synth_dataset)
    all_parts = sorted(labels["source"].unique())
    CP.write_state_rows(
        spark,
        out_dir,
        [{"partition": all_parts[0], "status": "done",
          "metrics": {}, "lineage": {"input_fingerprint": "stale:0:0"}}],
        run_id="stale",
    )
    r = E.run_validation(spark, snap_p, man_p, out_dir)
    # stale fingerprint -> partition re-validated despite 'done' status
    assert all_parts[0] in r.validated_partitions


def test_null_source_rows_are_a_clear_error(spark, tmp_path, out_dir):
    """A ``source=__HIVE_DEFAULT_PARTITION__`` directory reads as null
    sources, and an empty ``source`` data column would be written back as
    one: the run refuses either up front, naming the row count, and
    commits no state."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    snap = tmp_path / "sequences"
    for part, ids in [("src_a", ["d0", "d1"]), ("__HIVE_DEFAULT_PARTITION__", ["d2"])]:
        (snap / f"source={part}").mkdir(parents=True)
        pq.write_table(
            pa.table({
                "doc_id": ids,
                "tokens": pa.array([[1, 2]] * len(ids), pa.list_(pa.int32())),
                "n_tok": pa.array([2] * len(ids), pa.int32()),
            }),
            str(snap / f"source={part}" / "part-0.parquet"),
        )
    man = tmp_path / "manifest"
    spark.createDataFrame(
        [("d0", 2, 0, "src_a")], "doc_id string, n_tok int, tok_hash long, source string"
    ).write.parquet(str(man))
    with pytest.raises(ValueError, match="1 snapshot rows have a null or empty source"):
        E.run_validation(spark, str(snap), str(man), out_dir)
    assert not os.path.exists(CP.state_path(out_dir))

    flat = tmp_path / "flat"
    spark.createDataFrame(
        [("d0", [1, 2], 2, "src_a"), ("d1", [1, 2], 2, ""), ("d2", [1, 2], 2, "")],
        "doc_id string, tokens array<int>, n_tok int, source string",
    ).write.parquet(str(flat))
    with pytest.raises(ValueError, match="2 snapshot rows have a null or empty source"):
        E.run_validation(spark, str(flat), str(man), out_dir)
    assert not os.path.exists(CP.state_path(out_dir))


def test_resume_produces_identical_results(spark, synth_dataset, tmp_path):
    snap_p, man_p, _ = paths(synth_dataset)
    out_a, out_b = str(tmp_path / "a"), str(tmp_path / "b")
    E.run_validation(spark, snap_p, man_p, out_a)  # one shot
    E.run_validation(spark, snap_p, man_p, out_b, commit_batch=1)  # 4 commits
    va = spark.read.parquet(os.path.join(out_a, "violations"))
    vb = spark.read.parquet(os.path.join(out_b, "violations"))
    a = sorted((r["doc_id"], r["violation"]) for r in va.collect())
    b = sorted((r["doc_id"], r["violation"]) for r in vb.collect())
    assert a == b
    ra = spark.read.parquet(os.path.join(out_a, "verdicts"))
    rb = spark.read.parquet(os.path.join(out_b, "verdicts"))
    assert sorted(
        (r["doc_id"], r["final_verdict_code"]) for r in ra.collect()
    ) == sorted((r["doc_id"], r["final_verdict_code"]) for r in rb.collect())


def test_content_aware_resume_sees_in_place_corruption(spark, synth_dataset, tmp_path):
    """In-place token corruption (same rows, same lengths, same doc_ids) is
    invisible to the metadata-cheap fingerprint but must re-validate under
    content_aware=True (the reference's re-checksum doctrine,
    /root/reference/data_validation.py:487-496)."""
    import glob
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    root, _ = synth_dataset
    snap_p = str(tmp_path / "sequences")
    shutil.copytree(os.path.join(root, "sequences"), snap_p)
    man_p = os.path.join(root, "manifest")
    out_plain, out_ca = str(tmp_path / "plain"), str(tmp_path / "ca")
    E.run_validation(spark, snap_p, man_p, out_plain)
    E.run_validation(spark, snap_p, man_p, out_ca, content_aware=True)

    # flip one token in one partition file, preserving length and ids
    f = sorted(glob.glob(os.path.join(snap_p, "source=*", "*.parquet")))[0]
    part = os.path.basename(os.path.dirname(f)).split("=", 1)[1]
    tbl = pq.read_table(f)
    toks = tbl.column("tokens").to_pylist()
    i = next(i for i, t in enumerate(toks) if t)
    toks[i] = [toks[i][0] ^ 1] + toks[i][1:]
    tbl = tbl.set_column(
        tbl.schema.get_field_index("tokens"),
        "tokens",
        pa.array(toks, type=tbl.schema.field("tokens").type),
    )
    pq.write_table(tbl, f)

    r_plain = E.run_validation(spark, snap_p, man_p, out_plain)
    assert r_plain.validated_partitions == []  # cheap fingerprint blind to it
    r_ca = E.run_validation(spark, snap_p, man_p, out_ca, content_aware=True)
    assert r_ca.validated_partitions == [part]  # payload hash catches it


def test_state_metrics_recorded(spark, synth_dataset, out_dir):
    snap_p, man_p, labels = paths(synth_dataset)
    E.run_validation(spark, snap_p, man_p, out_dir)
    state = CP.read_state(spark, out_dir).collect()
    assert len(state) == labels["source"].nunique()
    for row in state:
        m = json.loads(row["metrics"])
        lin = json.loads(row["lineage"])
        assert m["rows"] > 0
        assert m["partition_status"] in ("pass", "fail")
        assert ":" in lin["input_fingerprint"]
        assert lin["code_version"] == E.CODE_VERSION
    # every partition has faults injected -> all should fail
    assert all(json.loads(r["metrics"])["partition_status"] == "fail" for r in state)


def test_manifest_audit_written(spark, synth_dataset, out_dir):
    snap_p, man_p, labels = paths(synth_dataset)
    E.run_validation(spark, snap_p, man_p, out_dir)
    mv = spark.read.parquet(os.path.join(out_dir, "manifest_violations"))
    classes = {r["violation"] for r in mv.select("violation").distinct().collect()}
    assert classes == {"INCONSISTENT_GROUP", "MISSING_IN_SNAPSHOT"}


def test_fingerprints_from_identities_match_direct(spark, synth_dataset, tmp_path):
    """The content fingerprint derived from the one-pass identity table
    (zero payload rescan) must EXACTLY equal the direct payload-scan
    fingerprint — odd/even multiplicities, nulls and duplicate fault
    classes included (the synth fixture injects them all). Any drift here
    would make every content-aware resume re-validate everything."""
    from np_data_validation_spark.plans.onepass import validate_onepass

    root, _ = synth_dataset
    seq = spark.read.parquet(os.path.join(root, "sequences"))
    man = spark.read.parquet(os.path.join(root, "manifest"))
    res = validate_onepass(spark, seq, man, str(tmp_path / "w"))
    derived = CP.fingerprints_from_identities(res.ids)
    direct = CP.input_fingerprints(seq, content_aware=True)
    assert derived == direct


def test_content_aware_fingerprint_sees_payload_permutation(spark):
    """ADVICE r3: a silent cross-row SWAP of token payloads leaves every
    per-column aggregate unchanged; hashing identity and content jointly
    (xxhash64(doc_id, tok_hash)) must still change the fingerprint."""
    a = spark.createDataFrame(
        [("d1", [1, 2, 3], 3, "s"), ("d2", [9, 8, 7], 3, "s")],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    swapped = spark.createDataFrame(
        [("d1", [9, 8, 7], 3, "s"), ("d2", [1, 2, 3], 3, "s")],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    fa = CP.input_fingerprints(a, content_aware=True)
    fb = CP.input_fingerprints(swapped, content_aware=True)
    assert fa != fb
    # the cheap fingerprint is blind to the swap by design (documents why
    # content_aware exists)
    assert CP.input_fingerprints(a) == CP.input_fingerprints(swapped)


def test_content_aware_first_run_has_no_fingerprint_prescan(
    spark, synth_dataset, tmp_path, monkeypatch
):
    """VERDICT r3 #4: a content-aware FIRST run must not pre-scan the
    payload for fingerprints (they derive from the validation pass's own
    identity table); a resume re-hashes only plausible done partitions."""
    root, _ = synth_dataset
    snap_p = os.path.join(root, "sequences")
    man_p = os.path.join(root, "manifest")
    out = str(tmp_path / "out")

    calls = []
    orig = CP.content_fingerprints

    def spy(snapshot, partitions):
        calls.append(sorted(partitions))
        return orig(snapshot, partitions)

    monkeypatch.setattr(CP, "content_fingerprints", spy)

    r1 = E.run_validation(spark, snap_p, man_p, out, content_aware=True)
    assert calls == []  # ZERO fingerprint payload scans on the first run
    assert len(r1.validated_partitions) == 4

    r2 = E.run_validation(spark, snap_p, man_p, out, content_aware=True)
    # resume: exactly one partition-pruned content scan over the done set
    assert calls == [sorted(r1.validated_partitions)]
    assert r2.validated_partitions == []
    assert sorted(r2.skipped_partitions) == sorted(r1.validated_partitions)


def test_content_aware_resume_reads_state_once(
    spark, synth_dataset, tmp_path, monkeypatch
):
    """The resume gate reads ``_validation_state`` once: the lineage it
    decodes serves both the content re-hash candidates and the done set."""
    root, _ = synth_dataset
    snap_p = os.path.join(root, "sequences")
    man_p = os.path.join(root, "manifest")
    out = str(tmp_path / "out")
    r1 = E.run_validation(spark, snap_p, man_p, out, content_aware=True)

    reads = []
    orig = CP.read_state

    def counted(spark_, out_dir):
        reads.append(out_dir)
        return orig(spark_, out_dir)

    monkeypatch.setattr(CP, "read_state", counted)
    r2 = E.run_validation(spark, snap_p, man_p, out, content_aware=True)
    assert reads == [out]
    assert sorted(r2.skipped_partitions) == sorted(r1.validated_partitions)


def test_rehash_candidates_need_plausible_done_checkpoint():
    """Only a partition whose content-aware recorded fingerprint has the
    current cheap fingerprint as its prefix, under the current code
    version, is re-hashed; a cheap-shaped or stale record is not."""
    cheap = {"a": "3:10:7", "b": "3:10:7", "c": "3:10:7", "d": "3:10:7"}
    lineages = {
        "a": {"input_fingerprint": "3:10:7:99", "code_version": "v"},
        "b": {"input_fingerprint": "3:10:7", "code_version": "v"},
        "c": {"input_fingerprint": "4:10:7:99", "code_version": "v"},
        "d": {"input_fingerprint": "3:10:7:99", "code_version": "old"},
        "gone": {"input_fingerprint": "3:10:7:99", "code_version": "v"},
    }
    assert CP.rehash_candidates(lineages, cheap, "v") == ["a"]
    assert CP.rehash_candidates({}, cheap, "v") == []


def test_run_leaves_session_overwrite_mode_alone(spark, synth_dataset, out_dir):
    """The results commit asks for dynamic partition overwrite per write,
    so a later static overwrite in the caller's session still replaces
    every partition."""
    key = "spark.sql.sources.partitionOverwriteMode"
    old = spark.conf.get(key)
    spark.conf.set(key, "STATIC")
    try:
        snap_p, man_p, _ = paths(synth_dataset)
        E.run_validation(spark, snap_p, man_p, out_dir)
        assert spark.conf.get(key).upper() == "STATIC"
    finally:
        spark.conf.set(key, old)


def test_mode_switch_revalidates(spark, synth_dataset, tmp_path):
    """Cheap-mode checkpoints must not satisfy a content-aware resume (and
    vice versa): the two fingerprint shapes are incompatible by design."""
    root, _ = synth_dataset
    snap_p = os.path.join(root, "sequences")
    man_p = os.path.join(root, "manifest")
    out = str(tmp_path / "out")
    r1 = E.run_validation(spark, snap_p, man_p, out)  # cheap mode
    r2 = E.run_validation(spark, snap_p, man_p, out, content_aware=True)
    assert sorted(r2.validated_partitions) == sorted(r1.validated_partitions)
    r3 = E.run_validation(spark, snap_p, man_p, out)  # back to cheap
    assert sorted(r3.validated_partitions) == sorted(r1.validated_partitions)


def _files_under(root) -> list[str]:
    return [os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs]


def test_audit_retention_bounds_work_dirs(spark, synth_dataset, tmp_path):
    """A run leaves no scratch: each batch's pair tables under
    ``<out>/_work`` are deleted once its state commits, and a second run
    over the same out dir leaves none either."""
    root, _ = synth_dataset
    snap_p = os.path.join(root, "sequences")
    man_p = os.path.join(root, "manifest")
    out = str(tmp_path / "out")
    r = E.run_validation(spark, snap_p, man_p, out, commit_batch=1)
    assert len(r.validated_partitions) == 4
    work = os.path.join(out, "_work")
    assert _files_under(work) == []
    E.run_validation(spark, snap_p, man_p, out, resume=False, commit_batch=1)
    assert _files_under(work) == []


def test_audit_retention_hadoop_fs_uri(spark, synth_dataset, tmp_path):
    """Scratch is reclaimed through the Hadoop FS API, not os.*: a file:
    scheme out_dir URI exercises exactly that path (os.path.isdir on the
    URI is False, so a driver-local delete would silently keep everything)."""
    root, _ = synth_dataset
    snap_p = os.path.join(root, "sequences")
    man_p = os.path.join(root, "manifest")
    local_out = tmp_path / "out_uri"
    out = "file://" + str(local_out)
    r = E.run_validation(spark, snap_p, man_p, out, commit_batch=1)
    assert len(r.validated_partitions) == 4
    assert (local_out / "verdicts").is_dir()  # the URI resolved to local_out
    assert _files_under(local_out / "_work") == []
    E.run_validation(spark, snap_p, man_p, out, resume=False, commit_batch=1)
    assert _files_under(local_out / "_work") == []


def _digest(spark, path: str) -> tuple[int, int]:
    """Order-independent table digest: row count + sum of row hashes."""
    df = spark.read.parquet(path)
    row_hash = F.xxhash64(*[F.col(c) for c in sorted(df.columns)])
    r = df.agg(
        F.count(F.lit(1)).alias("n"), F.sum(row_hash.cast("decimal(38,0)")).alias("h")
    ).first()
    return r["n"], int(r["h"] or 0)


def test_crash_before_state_commit_reruns_to_clean_outputs(
    spark, synth_dataset, tmp_path, monkeypatch
):
    """A crash at the commit point (results written, state not) keeps the
    batch's scratch; the rerun validates every partition, sweeps that
    scratch and commits outputs identical to a clean run's."""
    root, labels = synth_dataset
    snap_p = os.path.join(root, "sequences")
    man_p = os.path.join(root, "manifest")
    clean, out = str(tmp_path / "clean"), str(tmp_path / "out")
    E.run_validation(spark, snap_p, man_p, clean)

    orig = CP.write_state_rows
    crashed = []

    def crash_once(*args, **kwargs):
        if not crashed:
            crashed.append(True)
            raise RuntimeError("injected crash at the state commit")
        return orig(*args, **kwargs)

    monkeypatch.setattr(CP, "write_state_rows", crash_once)
    with pytest.raises(RuntimeError, match="injected crash"):
        E.run_validation(spark, snap_p, man_p, out)
    assert _files_under(os.path.join(out, "_work")) != []  # scratch stays

    r = E.run_validation(spark, snap_p, man_p, out)
    assert sorted(r.validated_partitions) == sorted(labels["source"].unique())
    assert _files_under(os.path.join(out, "_work")) == []
    for table in ("verdicts", "violations", "manifest_violations"):
        assert _digest(spark, os.path.join(out, table)) == _digest(
            spark, os.path.join(clean, table)
        ), table


def test_code_version_derived_from_semantics():
    """VERDICT r4 #3 + r5 #2: CODE_VERSION is a semantic hash of EVERY
    module carrying validation semantics — verdicts, constraints, the
    one-pass plan (which independently reconstructs rollup/uniqueness/
    schema from identity multiplicities) and the streaming wrapper.
    Comment/docstring edits don't bump it; an executable mutation in ANY
    of the four does (so a semantic change can never silently honor stale
    checkpoints, and there is no manual bump to forget). Combined with
    test_round2.test_code_version_bump_invalidates_checkpoints, a changed
    version re-validates prior checkpoints."""
    from np_data_validation_spark.operators import constraints as C
    from np_data_validation_spark.operators import verdicts as V
    from np_data_validation_spark.plans import onepass as OP
    from np_data_validation_spark.streaming import incremental as SI

    srcs = []
    for mod in (V, C, OP, SI):
        with open(mod.__file__, "rb") as f:
            srcs.append(f.read())
    assert E.CODE_VERSION == E._semantic_version(*srcs)

    def with_mutation(idx: int, mutated: bytes) -> str:
        alt = list(srcs)
        assert mutated != srcs[idx]
        alt[idx] = mutated
        return E._semantic_version(*alt)

    # comment-only and docstring-only edits leave the version unchanged
    assert with_mutation(0, srcs[0] + b"\n# trailing comment\n") == E.CODE_VERSION
    assert (
        with_mutation(2, srcs[2].replace(b'"""One-pass', b'"""Edited one-pass', 1))
        == E.CODE_VERSION
    )
    # mutating a verdict branch constant changes it
    assert (
        with_mutation(
            0, srcs[0].replace(b"MISSING_COUNTERPART = 14", b"MISSING_COUNTERPART = 15")
        )
        != E.CODE_VERSION
    )
    # a constraint-side change counts too
    assert with_mutation(1, srcs[1].replace(b"def ", b"def x_", 1)) != E.CODE_VERSION
    # an executable mutation in the ONE-PASS reconstruction counts (r5 #2:
    # a semantic edit made in onepass.py — e.g. to the uniqueness
    # reconstruction — must invalidate checkpoints even if verdicts.py and
    # constraints.py are untouched)
    assert (
        with_mutation(2, srcs[2].replace(b'"s_mult"', b'"s_mult_x"'))
        != E.CODE_VERSION
    )
    # and so does one in the streaming wrapper
    assert with_mutation(3, srcs[3].replace(b"def ", b"def x_", 1)) != E.CODE_VERSION


def test_code_version_fallback_ladder(monkeypatch):
    """ADVICE r6 engine.py:95: when inspect.getsource fails (.pyc-only
    deploy) the fallback must still TRACK the deployed code — the old
    static pkg-<version> tag meant semantic changes stopped bumping
    CODE_VERSION, so stale checkpoints could be silently honored. Ladder
    (re-ordered per ADVICE r7 engine.py:118): NPDV_CODE_VERSION override
    wins over EVERY derivation -> semantic hash -> compiled-bytes hash ->
    unique per-process tag (re-validates everything; fails toward
    redundant work, never toward stale results)."""
    import inspect as _inspect
    import warnings

    def boom(_path):
        raise OSError("pyc-only deploy")

    # step 0: the explicit operator override wins even on a NORMAL deploy
    # where source is retrievable (ADVICE r7: consulting it only deep in
    # the fallback ladder silently ignored it there)
    monkeypatch.setenv("NPDV_CODE_VERSION", "deploy-0")
    assert E._derive_code_version() == "env-deploy-0"
    monkeypatch.delenv("NPDV_CODE_VERSION")

    monkeypatch.setattr(_inspect, "getsource", boom)
    v1 = E._derive_code_version()
    assert v1.startswith("pyc-")
    assert E._derive_code_version() == v1  # deterministic: tracks bytes
    assert v1 != E.CODE_VERSION  # distinct namespace from the semantic hash

    # step 2: compiled bytes unavailable too -> explicit override wins
    from np_data_validation_spark.operators import verdicts as V

    monkeypatch.setattr(V.__spec__.loader, "get_data", boom, raising=False)
    monkeypatch.setenv("NPDV_CODE_VERSION", "deploy-7")
    assert E._derive_code_version() == "env-deploy-7"

    # step 3: nothing derivable, no override -> loud warning + a tag that
    # matches NO stored checkpoint (unique per derivation)
    monkeypatch.delenv("NPDV_CODE_VERSION")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        a = E._derive_code_version()
        b = E._derive_code_version()
    assert a.startswith("underivable-") and b.startswith("underivable-")
    assert a != b
    assert any("NPDV_CODE_VERSION" in str(w.message) for w in caught)


def test_code_version_derivable_under_zipimport(tmp_path):
    """The spark-submit --py-files deployment imports the package from a
    zip; deriving CODE_VERSION must work there too (no openable __file__)
    and yield the same value as a filesystem checkout."""
    import subprocess
    import sys
    import zipfile

    import np_data_validation_spark as pkg

    root = os.path.dirname(os.path.dirname(pkg.__file__))
    zp = str(tmp_path / "npdv.zip")
    with zipfile.ZipFile(zp, "w") as z:
        for dp, _dirs, fs in os.walk(os.path.join(root, "np_data_validation_spark")):
            for f in fs:
                if f.endswith(".py"):
                    full = os.path.join(dp, f)
                    z.write(full, os.path.relpath(full, root))
    out = subprocess.run(
        [
            sys.executable,
            "-c",
            f"import sys; sys.path.insert(0, {zp!r}); "
            "from np_data_validation_spark.plans import engine as E; "
            "print(E.CODE_VERSION)",
        ],
        capture_output=True,
        text=True,
        cwd=str(tmp_path),
        env={**os.environ, "PYTHONPATH": ""},
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == E.CODE_VERSION


def test_cli_rejects_batch_flags_with_stream(tmp_path):
    """ADVICE r3: batch-only flags must error under --stream instead of
    silently doing nothing."""
    import pytest

    from np_data_validation_spark.__main__ import main as cli_main

    with pytest.raises(SystemExit) as ei:
        cli_main([
            "--snapshot", str(tmp_path), "--manifest", str(tmp_path),
            "--out", str(tmp_path / "o"), "--stream", "--content-aware",
        ])
    assert ei.value.code == 2  # argparse usage error
