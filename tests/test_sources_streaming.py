"""The streaming validation surface."""

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from np_data_validation_spark.streaming.incremental import validate_stream


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
