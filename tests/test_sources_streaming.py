"""Source-format parsers + the streaming validation surface."""

import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from np_data_validation_spark import sources
from np_data_validation_spark.streaming.incremental import validate_stream


def test_manifest_from_json(spark, tmp_path):
    p = tmp_path / "man.jsonl"
    p.write_text(
        '{"doc_id":"a","n_tok":3,"tok_hash":123,"source":"s1"}\n'
        '{"doc_id":"b","n_tok":5,"tok_hash":null,"source":"s2"}\n'
        "this is not json\n"
        '{"n_tok":9}\n'
    )
    df = sources.manifest_from_json(spark, str(p)).orderBy("doc_id")
    rows = df.collect()
    assert [(r["doc_id"], r["n_tok"], r["tok_hash"]) for r in rows] == [
        ("a", 3, 123),
        ("b", 5, None),
    ]


def test_manifest_from_sums(spark, tmp_path):
    p = tmp_path / "golden.sums"
    p.write_text(
        "00000000000000ff doc_a 10\n"
        "ffffffffffffffff doc_b 20\n"
        "garbage line\n"
        "8000000000000000 doc_c 30\n"
    )
    df = sources.manifest_from_sums(spark, str(p)).orderBy("doc_id")
    rows = {r["doc_id"]: (r["n_tok"], r["tok_hash"]) for r in df.collect()}
    assert rows["doc_a"] == (10, 255)
    assert rows["doc_b"] == (20, -1)  # 0xFFFF... -> signed -1
    assert rows["doc_c"] == (30, -(2**63))  # sign bit set
    assert set(rows) == {"doc_a", "doc_b", "doc_c"}


def test_glob_manifest(spark, tmp_path):
    (tmp_path / "x.parquet").write_bytes(b"12345")
    (tmp_path / "sub").mkdir()
    (tmp_path / "sub" / "y.parquet").write_bytes(b"123")
    (tmp_path / "z.txt").write_bytes(b"1")
    df = sources.glob_manifest(spark, str(tmp_path))
    rows = {r["name"]: r["size"] for r in df.collect()}
    assert rows == {"x.parquet": 5, "y.parquet": 3}


def test_glob_manifest_hidden_fidelity(spark, tmp_path):
    """Spark's file index drops '_'/'.'-prefixed paths; include_hidden=True
    must recover them (full inventory fidelity, reference rglob parity)."""
    (tmp_path / "x.parquet").write_bytes(b"12345")
    (tmp_path / ".snap.parquet").write_bytes(b"12")
    (tmp_path / "_staging").mkdir()
    (tmp_path / "_staging" / "y.parquet").write_bytes(b"1234")
    default = sources.glob_manifest(spark, str(tmp_path))
    assert {r["name"] for r in default.collect()} == {"x.parquet"}  # documented loss
    full = sources.glob_manifest(spark, str(tmp_path), include_hidden=True)
    rows = {r["name"]: r["size"] for r in full.collect()}
    assert rows == {"x.parquet": 5, ".snap.parquet": 2, "y.parquet": 4}


def test_glob_manifest_hidden_uri_and_scheme_guard(spark, tmp_path):
    """ADVICE r3: the hidden-inclusive walk must emit the same file: URI
    shape as the default Hadoop-listing branch (consistent downstream path
    handling) and refuse non-local URI schemes up front instead of failing
    obscurely on executors."""
    import pytest

    (tmp_path / "only.parquet").write_bytes(b"123")
    d = {r["name"]: r["path"] for r in sources.glob_manifest(spark, str(tmp_path)).collect()}
    h = {r["name"]: r["path"] for r in sources.glob_manifest(
        spark, str(tmp_path), include_hidden=True).collect()}
    assert d == h  # identical URIs for the same file across both branches
    assert h["only.parquet"].startswith("file:")
    with pytest.raises(ValueError, match="include_hidden"):
        sources.glob_manifest(spark, "s3://bucket/prefix", include_hidden=True)


def test_glob_manifest_hidden_is_call_time_snapshot(spark, tmp_path):
    """The hidden-inclusive listing materializes AT CALL TIME (eager
    localCheckpoint): files deleted after the call keep their stat rows,
    and every downstream action replays the same snapshot — a lazy
    listing would re-walk the live tree per action and could feed
    different file sets to different parts of one job. (Files deleted
    DURING the walk are skipped without failing the task; that race
    happens inside one executor's stat loop and can't be interleaved
    from a test — it is covered by the try/except in stat_files.)"""
    (tmp_path / "keep.parquet").write_bytes(b"1234")
    sub = tmp_path / "sub"
    sub.mkdir()
    gone = sub / "gone.parquet"
    gone.write_bytes(b"12")
    top_gone = tmp_path / "top_gone.parquet"
    top_gone.write_bytes(b"123")
    df = sources.glob_manifest(spark, str(tmp_path), include_hidden=True)
    # the snapshot is already taken; deletions no longer change the result
    gone.unlink()
    top_gone.unlink()
    rows = {r["name"] for r in df.collect()}
    assert rows == {"keep.parquet", "gone.parquet", "top_gone.parquet"}
    assert {r["name"] for r in df.collect()} == rows  # stable across actions


def test_glob_manifest_hidden_rejects_authority_and_relative_uri(spark, tmp_path):
    """ADVICE r4: 'file://host/path' (non-empty authority) must error, not
    silently walk local '/host/path'; 'file:rel' (relative) must error, not
    resolve against each executor's cwd."""
    import pytest

    with pytest.raises(ValueError, match="authority"):
        sources.glob_manifest(spark, "file://somehost/data", include_hidden=True)
    with pytest.raises(ValueError, match="absolute"):
        sources.glob_manifest(spark, "file:relative/dir", include_hidden=True)
    # the empty-authority forms still work and agree
    (tmp_path / "a.parquet").write_bytes(b"123")
    for uri in (f"file://{tmp_path}", f"file:{tmp_path}"):
        rows = {
            (r["name"], r["size"])
            for r in sources.glob_manifest(spark, uri, include_hidden=True).collect()
        }
        assert rows == {("a.parquet", 3)}


def test_glob_manifest_hidden_walk_spreads_lopsided_tree(spark, tmp_path):
    """VERDICT r4 #4: one giant subtree under a single top-level entry must
    not serialize into one task — the two-level walk (distribute directory
    discovery, repartition dirs, then stat) spreads its rows over multiple
    partitions."""
    big = tmp_path / "big"
    big.mkdir()
    for i in range(12):
        d = big / f"d{i:02d}"
        d.mkdir()
        for j in range(4):
            (d / f"f{j}.parquet").write_bytes(b"x" * (i + j + 1))
    (tmp_path / "tiny.parquet").write_bytes(b"1")
    df = sources.glob_manifest(spark, str(tmp_path), include_hidden=True)
    import pyspark.sql.functions as SF

    pids = {
        r["pid"]
        for r in df.withColumn("pid", SF.spark_partition_id()).select("pid").collect()
    }
    assert len(pids) > 1  # the big subtree's rows span partitions
    assert df.count() == 12 * 4 + 1  # and nothing was lost or duplicated


def test_glob_manifest_hidden_walk_deep_single_rooted_chain(spark, tmp_path):
    """ADVICE r5: a DEEP tree rooted under ONE top-level entry — the case
    the per-entry os.walk discovery still serialized — must come back
    complete through the level-synchronous BFS (one distributed listing
    stage per depth level), including hidden dirs/files at every depth
    and a wide fan-out buried mid-chain."""
    d = tmp_path / "chain"
    d.mkdir()
    depth = 9
    cur = d
    for i in range(depth):
        cur = cur / (f".h{i}" if i % 3 == 2 else f"lvl{i}")  # hidden dirs too
        cur.mkdir()
        (cur / f"f{i}.parquet").write_bytes(b"x" * (i + 1))
    # a wide level buried mid-chain: fan-out must rebalance, not serialize
    fan = tmp_path / "chain" / "lvl0" / "lvl1"
    for j in range(20):
        w = fan / f"wide{j:02d}"
        w.mkdir()
        (w / "_leaf.parquet").write_bytes(b"y" * (j + 1))
    df = sources.glob_manifest(spark, str(tmp_path), include_hidden=True)
    rows = {(r["name"], r["size"]) for r in df.collect()}
    expect = {(f"f{i}.parquet", i + 1) for i in range(depth)} | {
        ("_leaf.parquet", j + 1) for j in range(20)
    }
    assert rows == expect


def test_glob_manifest_hidden_walk_unpersists_level_caches(spark, tmp_path):
    """ADVICE r6 sources:264: the BFS persisted one level RDD per tree
    depth and left all but the final empty level pinned for the session
    lifetime (accumulating across glob_manifest calls). After the call
    returns, at most ONE cached RDD per call may remain — the eagerly
    localCheckpointed listing DataFrame — not one per depth level. The
    checkpoint must actually have materialized: re-counting (and even
    re-listing after the source tree is mutated) must replay the
    checkpointed rows, not re-run the walk against the level caches that
    are now gone (the round-7 RDD.localCheckpoint attempt was silently
    bypassed by PipelinedRDD pipelining — createDataFrame composed onto
    the pre-checkpoint JVM RDD and every action re-ran the walk)."""
    cur = tmp_path
    depth = 6
    for i in range(depth):
        cur = cur / f"lvl{i}"
        cur.mkdir()
        (cur / f"f{i}.parquet").write_bytes(b"x")
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    df = sources.glob_manifest(spark, str(tmp_path), include_hidden=True)
    assert df.count() == depth
    after = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert after - before <= 1
    # deleting a listed file must NOT change the result: a truly
    # materialized checkpoint replays its rows; an inert one re-walks the
    # mutated tree and comes up one short
    (tmp_path / "lvl0" / "f0.parquet").unlink()
    assert df.count() == depth


def test_streaming_query_matches_batch_rollup(spark, tmp_path):
    """VERDICT r4 task #5 (streaming-vs-batch parity): the driver's
    ``streaming_verdict_rollup`` entry — the availableNow stream through
    foreachBatch — must produce exactly the batch one-pass plan's verdict
    rollup on the same derived (sequences, manifest) tables. The driver's
    DuckDB oracle on the same entry additionally pins the VALUES against an
    independent engine."""
    from np_data_validation_spark import queries as Q
    from np_data_validation_spark.plans.onepass import validate_onepass

    import os as _os

    from np_data_validation_spark.streaming.incremental import validate_stream

    sf = "/root/testdata/sf0.001"
    seq, man = Q.stream_parity_tables(spark, sf)
    landing, out = str(tmp_path / "landing"), str(tmp_path / "out")
    seq.repartition(6).write.parquet(landing)  # several files -> several
    # micro-batches under maxFilesPerTrigger below
    validate_stream(spark, landing, man, out).awaitTermination()
    streamed = spark.read.parquet(_os.path.join(out, "verdicts"))
    batch = validate_onepass(spark, seq, man, str(tmp_path / "w"))

    def key(df, cols):
        return sorted(
            tuple((v is None, v) for v in (r[c] for c in cols)) for r in df.collect()
        )

    from np_data_validation_spark.plans.onepass import ROLLED_PUBLIC_COLS

    assert key(streamed, ROLLED_PUBLIC_COLS) == key(
        batch.rolled.select(*ROLLED_PUBLIC_COLS), ROLLED_PUBLIC_COLS
    )
    # the streamed VIOLATIONS table (same foreachBatch) must equal the
    # batch plan's too, modulo the _batch_id sink partition
    vcols = ["doc_id", "source", "violation", "detail"]
    v_streamed = spark.read.parquet(_os.path.join(out, "violations"))
    assert key(v_streamed, vcols) == key(batch.violations.select(*vcols), vcols)
    # the fixture exercises every band: valid, copies, renamed-rescued by
    # the content probe, invalid, missing
    codes = {r["final_verdict_code"] for r in streamed.collect()}
    assert {5, 21, 22, 13, 14} <= codes
    # and the DRIVER entry (its own stream run in a temp dir) agrees
    driver_df = Q.queries()["streaming_verdict_rollup"](spark, sf)
    assert key(driver_df, ROLLED_PUBLIC_COLS) == key(
        batch.rolled.select(*ROLLED_PUBLIC_COLS), ROLLED_PUBLIC_COLS
    )
    # multi-batch delivery: with maxFilesPerTrigger the stream splits into
    # several micro-batches; per-subject outputs are batch-local, and the
    # fixture's subjects are single-row, so the union across _batch_id
    # partitions must STILL equal the batch plan (pins that micro-batch
    # boundaries never duplicate or drop subjects)
    out2 = str(tmp_path / "out2")
    q2 = validate_stream(spark, landing, man, out2, max_files_per_trigger=2)
    q2.awaitTermination()
    streamed2 = spark.read.parquet(_os.path.join(out2, "verdicts"))
    assert streamed2.select("_batch_id").distinct().count() > 1
    assert key(streamed2, ROLLED_PUBLIC_COLS) == key(
        batch.rolled.select(*ROLLED_PUBLIC_COLS), ROLLED_PUBLIC_COLS
    )


def test_normalize_ids(spark):
    df = spark.createDataFrame(
        [("  DOC_A ", "SRC_X")], "doc_id string, source string"
    )
    r = sources.normalize_ids(df).collect()[0]
    assert (r["doc_id"], r["source"]) == ("doc_a", "src_x")


def _seq_file(path, doc_ids, tokens, source):
    tbl = pa.table(
        {
            "doc_id": pa.array(doc_ids, pa.string()),
            "tokens": pa.array(tokens, pa.list_(pa.int32())),
            "n_tok": pa.array([len(t) for t in tokens], pa.int32()),
            "source": pa.array([source] * len(doc_ids), pa.string()),
        }
    )
    pq.write_table(tbl, path)


def test_streaming_incremental_validation(spark, tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    out = str(tmp_path / "out")

    from np_data_validation_spark.functions.hashing import xxh64_int32_scalar

    def s64(toks):
        return int(np.uint64(xxh64_int32_scalar(toks)).astype(np.int64))

    manifest = spark.createDataFrame(
        [
            ("d1", 3, s64([1, 2, 3]), "s1"),
            ("d2", 3, s64([7, 8, 9]), "s1"),
        ],
        "doc_id string, n_tok int, tok_hash long, source string",
    )

    # batch 1: one clean file
    _seq_file(str(landing / "f1.parquet"), ["d1"], [[1, 2, 3]], "s1")
    q = validate_stream(spark, str(landing), manifest, out)
    q.awaitTermination(120)

    verdicts = spark.read.parquet(os.path.join(out, "verdicts"))
    assert verdicts.count() == 1
    assert verdicts.collect()[0]["row_status"] == "pass"
    _assert_scratch_reclaimed(out)

    # batch 2: a corrupt file arrives -> only the new file is processed
    _seq_file(str(landing / "f2.parquet"), ["d2"], [[7, 8, 0]], "s2")
    q2 = validate_stream(spark, str(landing), manifest, out)
    q2.awaitTermination(120)

    verdicts = spark.read.parquet(os.path.join(out, "verdicts"))
    assert verdicts.count() == 2  # exactly-once: f1 NOT reprocessed
    d2 = verdicts.filter(F.col("doc_id") == "d2").collect()[0]
    assert d2["row_status"] == "fail"
    violations = spark.read.parquet(os.path.join(out, "violations"))
    assert violations.filter(
        (F.col("doc_id") == "d2") & (F.col("violation") == "CHECKSUM_MISMATCH")
    ).count() == 1
    # bounded disk: every batch's scratch pair table was reclaimed after its
    # sink writes committed — a long stream must not grow _work
    _assert_scratch_reclaimed(out)


def _assert_scratch_reclaimed(out: str) -> None:
    work = os.path.join(out, "_work")
    leftover = os.listdir(work) if os.path.isdir(work) else []
    assert leftover == [], f"unreclaimed scratch batches: {leftover}"
