"""Round-2 feature tests: action gate (J9 veto),
code-version checkpoint invalidation, stale-violation clearing, NULL_DOC_ID
schema check, portable (SQL-twinnable) ANN buckets."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from np_data_validation_spark.operators import verdicts as V


# --- J9 action gate ---------------------------------------------------------


def _pairs(spark, rows):
    return spark.createDataFrame(
        rows,
        "doc_id string, source string, m_source string, verdict_code int",
    )


def test_reclaimable_requires_valid_backup(spark):
    pairs = _pairs(
        spark,
        [
            ("d1", "primary", "backup", V.VALID_COPY_SAME_NAME),   # reclaimable
            ("d2", "primary", "other", V.VALID_COPY_SAME_NAME),    # valid, wrong root
            ("d3", "primary", None, V.MISSING_COUNTERPART),        # no copy at all
        ],
    )
    got = {r["doc_id"] for r in V.find_reclaimable(pairs).collect()}
    assert got == {"d1"}


def test_reclaimable_any_invalid_copy_vetoes(spark):
    """Reference strategies.py:135-138 — one invalid copy anywhere vetoes
    the delete even when a perfectly valid backup exists."""
    pairs = _pairs(
        spark,
        [
            ("d1", "primary", "backup", V.VALID_COPY_SAME_NAME),
            ("d1", "primary", "other", V.UNSYNCED_OR_CORRUPT_DATA),  # the veto
            ("d2", "primary", "backup", V.VALID_COPY_RENAMED),
        ],
    )
    out = V.find_reclaimable(pairs).collect()
    assert {r["doc_id"] for r in out} == {"d2"}
    assert out[0]["n_valid_backups"] == 1


def test_reclaimable_subject_must_not_be_backup(spark):
    """Reference strategies.py:106-107 — the subject itself must not live
    under a backup root."""
    pairs = _pairs(
        spark, [("d1", "backup", "backup", V.VALID_COPY_SAME_NAME)]
    )
    assert V.find_reclaimable(pairs).count() == 0


# --- checkpoint gating ------------------------------------------------------


def test_code_version_bump_invalidates_checkpoints(spark, synth_dataset, tmp_path):
    from np_data_validation_spark.plans import engine

    root, _labels = synth_dataset
    out = str(tmp_path / "out")
    snap, man = os.path.join(root, "sequences"), os.path.join(root, "manifest")
    r1 = engine.run_validation(spark, snap, man, out)
    assert r1.validated_partitions
    r2 = engine.run_validation(spark, snap, man, out)
    assert not r2.validated_partitions  # all skipped: fingerprint+version match
    old = engine.CODE_VERSION
    try:
        engine.CODE_VERSION = old + "_bumped"
        r3 = engine.run_validation(spark, snap, man, out)
        assert sorted(r3.validated_partitions) == sorted(r1.validated_partitions)
    finally:
        engine.CODE_VERSION = old


def test_rerun_clears_stale_violations(spark, tmp_path):
    """A re-validated partition that now yields ZERO violations must not
    keep the previous run's violation rows on disk (ADVICE round 1)."""
    from np_data_validation_spark.functions.hashing import xxh64_int32_scalar
    from np_data_validation_spark.plans import engine

    import numpy as np

    tok = [1, 2, 3]
    h = np.int64(np.uint64(xxh64_int32_scalar(tok))).item()
    snap_path = str(tmp_path / "snap")
    man_path = str(tmp_path / "man")
    out = str(tmp_path / "out")
    man_df = spark.createDataFrame(
        [("d1", 3, h, "s1")], "doc_id string, n_tok int, tok_hash long, source string"
    )
    man_df.write.mode("overwrite").partitionBy("source").parquet(man_path)
    # v1: d_orphan has no manifest counterpart (distinct content, so the
    # probe can't rescue it) -> MISSING violation in s1
    v1 = spark.createDataFrame(
        [("d1", tok, 3, "s1"), ("d_orphan", [9, 9, 9], 3, "s1")],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    v1.write.mode("overwrite").partitionBy("source").parquet(snap_path)
    engine.run_validation(spark, snap_path, man_path, out)
    viol1 = spark.read.parquet(os.path.join(out, "violations"))
    assert viol1.filter(F.col("violation") == "MISSING_COUNTERPART").count() == 1
    # v2: clean snapshot (fingerprint changes -> partition re-runs)
    v2 = spark.createDataFrame(
        [("d1", tok, 3, "s1")],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    v2.write.mode("overwrite").partitionBy("source").parquet(snap_path)
    r = engine.run_validation(spark, snap_path, man_path, out)
    assert r.validated_partitions == ["s1"]
    # an all-clean re-run may leave the violations dir file-less: read with
    # the declared schema (the supported consumer contract for empty tables)
    from np_data_validation_spark.schema import VIOLATIONS

    viol2 = spark.read.schema(VIOLATIONS).parquet(os.path.join(out, "violations"))
    assert viol2.count() == 0


# --- schema checks ----------------------------------------------------------


def test_null_doc_id_violation(spark, tmp_path):
    from np_data_validation_spark.plans.onepass import validate_onepass

    snap = spark.createDataFrame(
        [(None, [1, 2], 2, "s1"), ("d1", [1, 2], 2, "s1")],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    man = spark.createDataFrame(
        [("d1", 2, None, "s1")], "doc_id string, n_tok int, tok_hash long, source string"
    )
    res = validate_onepass(spark, snap, man, str(tmp_path / "w"))
    schema_checks = {"N_TOK_MISMATCH", "NULL_N_TOK", "NULL_DOC_ID"}
    out = [r["violation"] for r in res.violations.collect()]
    assert [v for v in out if v in schema_checks] == ["NULL_DOC_ID"]


# --- streaming idempotence ---------------------------------------------------


def test_stream_replayed_batch_is_idempotent(spark, seq_man, tmp_path):
    """foreachBatch is at-least-once: re-invoking process() with the same
    batch_id (sink-write succeeded, offset commit crashed) must not
    duplicate verdict rows — the _batch_id dynamic-overwrite contract."""
    import os

    from np_data_validation_spark.streaming import incremental as INC

    seq, man, _labels = seq_man
    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    seq.limit(200).write.mode("overwrite").parquet(landing)
    q = INC.validate_stream(spark, landing, man, out)
    q.awaitTermination(120)
    verdicts = spark.read.parquet(os.path.join(out, "verdicts"))
    n1 = verdicts.count()
    assert n1 > 0
    # simulate the replay: run a second availableNow stream with a FRESH
    # checkpoint over the same files -> same batch_id 0 re-processed
    import shutil

    shutil.rmtree(os.path.join(out, "_stream_checkpoint"))
    q2 = INC.validate_stream(spark, landing, man, out)
    q2.awaitTermination(120)
    n2 = spark.read.parquet(os.path.join(out, "verdicts")).count()
    assert n2 == n1  # overwrite-by-batch, not append-duplicates


# --- portable ANN -----------------------------------------------------------


def test_portable_bucket_matches_duckdb(spark):
    import duckdb
    import numpy as np

    from np_data_validation_spark.operators import similarity as SIM

    rng = np.random.default_rng(3)
    vecs = [[float(x) for x in rng.standard_normal(8)] for _ in range(50)]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id int, embedding array<double>"
    )
    got = {
        r["vec_id"]: r["b"]
        for r in df.select(
            "vec_id", SIM.bucket_portable_expr("embedding", dim=8, bits=6).alias("b")
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE e AS SELECT * FROM (VALUES " +
                ",".join(f"({i}, {v})" for i, v in enumerate(vecs)) +
                ") t(vec_id, embedding)")
    sql = SIM.bucket_portable_sql("embedding", dim=8, bits=6)
    want = dict(con.execute(f"SELECT vec_id, {sql} FROM e").fetchall())
    assert got == want


def test_portable_lsh_topk_has_recall(spark):
    """Planted near-neighbors must be recovered by the portable LSH path."""
    import numpy as np

    from np_data_validation_spark.operators import similarity as SIM

    rng = np.random.default_rng(11)
    base = rng.standard_normal((20, 16))
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
        rows.append((1000 + i, [float(x) for x in v + 0.001 * rng.standard_normal(16)]))
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    q = df.filter(F.col("vec_id") < 20)
    out = SIM.lsh_topk_portable(df, q, dim=16, k=1, bits=6).collect()
    hits = sum(1 for r in out if r["neighbor_id"] == r["query_id"] + 1000)
    assert hits >= 16  # multi-probe hamming-1 recovers nearly all planted pairs
