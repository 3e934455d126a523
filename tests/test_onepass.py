"""Equivalence of the one-pass plan (plans.onepass) with the independent
DuckDB reference (tests/duckdb_reference.py): rolled verdicts, violations
(verdict-derived + uniqueness + schema) and per-partition stats must match
row for row on the fault-injected synthetic dataset (every verdict class,
duplicates, n_tok mismatches, null payloads present)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from np_data_validation_spark.plans import onepass


@pytest.fixture(scope="module")
def frames(seq_man):
    snapshot, manifest, _labels = seq_man
    return snapshot, manifest


@pytest.fixture(scope="module")
def reference(frames, duckdb_outputs):
    return duckdb_outputs(*frames)


def _sorted_rows(rows, cols):
    """``rows``: a Spark DataFrame or the reference's list of dict rows."""
    if hasattr(rows, "collect"):
        rows = rows.collect()
    return sorted(
        (tuple(r[c] for c in cols) for r in rows),
        key=lambda t: tuple((v is None, v) for v in t),
    )


def test_rolled_matches_duckdb(seq_onepass, reference):
    cols = onepass.ROLLED_PUBLIC_COLS
    assert _sorted_rows(seq_onepass.rolled, cols) == _sorted_rows(
        reference["rolled"], cols
    )


def test_violations_match_duckdb(seq_onepass, reference):
    cols = ["doc_id", "source", "violation", "detail"]
    got = _sorted_rows(seq_onepass.violations, cols)
    want = _sorted_rows(reference["violations"], cols)
    assert got == want


def test_violations_cover_all_classes(seq_onepass):
    classes = {
        r["violation"]
        for r in seq_onepass.violations.select("violation").distinct().collect()
    }
    assert {
        "SIZE_MISMATCH",
        "STALE_CHECKSUM",
        "CHECKSUM_MISMATCH",
        "MISSING_COUNTERPART",
        "DUPLICATE_DOC_ID",
        "N_TOK_MISMATCH",
        "NULL_N_TOK",
    } <= classes


def test_stats_match_duckdb(seq_onepass, reference):
    cols = [
        "source", "n_rows", "n_tok_min", "n_tok_max", "n_tok_sum",
        "n_tok_null_rate", "tokens_null_rate", "is_global",
    ]
    got = _sorted_rows(seq_onepass.stats, cols)
    want = _sorted_rows(reference["stats"], cols)
    assert got == want
    # avg compared with tolerance (double arithmetic order differs)
    got_avg = {r["source"]: r["n_tok_avg"] for r in seq_onepass.stats.collect()}
    want_avg = {r["source"]: r["n_tok_avg"] for r in reference["stats"]}
    assert set(got_avg) == set(want_avg)
    for k, v in want_avg.items():
        assert got_avg[k] == pytest.approx(v, rel=1e-12)


def test_mixed_duplicate_ranks(seq_man, seq_onepass):
    """Regression: a (doc_id, source) group of two DIFFERENT identities
    (s_mult=1 each) must yield exactly one DUPLICATE_DOC_ID row at rank 2 —
    the first-sorted identity's empty rank range must NOT explode (Spark's
    sequence(2,1) counts down instead of yielding [])."""
    import json

    _, _, labels = seq_man
    dm_ids = set(labels.loc[labels["case"] == "duplicate_mixed", "doc_id"])
    assert dm_ids, "fixture must contain mixed-content duplicates"
    rows = (
        seq_onepass.violations.filter(F.col("violation") == "DUPLICATE_DOC_ID")
        .collect()
    )
    by_doc: dict[str, list[int]] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(json.loads(r["detail"])["dup_rank"])
    for d in dm_ids:
        assert by_doc.get(d) == [2], f"{d}: got ranks {by_doc.get(d)}"


def test_probe_found_null_ntok_not_missing(seq_man, seq_onepass):
    """Regression: a stage-1 miss with a null identity column (n_tok) that
    the content probe finds must NOT also surface as MISSING_COUNTERPART
    (null-unsafe identity anti-join double-reported it)."""
    _, _, labels = seq_man
    nuln_ids = set(labels.loc[labels["case"] == "renamed_null_ntok", "doc_id"])
    assert nuln_ids, "fixture must contain renamed_null_ntok rows"
    missing_docs = {
        r["doc_id"]
        for r in seq_onepass.violations.filter(
            F.col("violation") == "MISSING_COUNTERPART"
        ).collect()
    }
    assert not (nuln_ids & missing_docs)
    status = {
        r["doc_id"]: r["row_status"]
        for r in seq_onepass.rolled.filter(
            F.col("doc_id").isin(list(nuln_ids))
        ).collect()
    }
    assert set(status.values()) == {"unknown"}, status


def test_onepass_plan_shape(spark, frames):
    """The stage-1 plan must contain exactly two Exchanges (one per input
    side) — the identity pre-agg and the join reuse the doc_id
    partitioning — and no sort (shuffled-hash join, not sort-merge)."""
    snapshot, manifest = frames
    plan = onepass.pairs_stage1(snapshot, manifest)._jdf.queryExecution().executedPlan().toString()
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 2, f"expected 2 exchanges, got {n_exchanges}:\n{plan}"
    assert "SortMergeJoin" not in plan, plan


def test_probe_tiers_agree(spark, frames, tmp_path):
    """r9: the three probe tiers — broadcast missed rows, keyed semi
    pre-filter (missed rows over budget but key set under it), and full
    shuffle — must return identical probed pair rows. The tier is picked
    from ``n_miss``, which this test forces; the fixture's true miss set
    is small, so forcing a bigger n_miss only changes the PLAN, never the
    data. Also pins that the keyed tier's pre-filter is a broadcast
    left-semi on the raw manifest (no manifest-wide exchange ahead of
    it)."""
    from np_data_validation_spark.operators import verdicts as V

    snapshot, manifest = frames
    s1_path = str(tmp_path / "s1_tiers")
    onepass.pairs_stage1(snapshot, manifest).write.parquet(s1_path)
    s1 = spark.read.parquet(s1_path)

    cols = onepass.PAIR_COLS
    n_true = s1.filter(F.col("verdict_code") == V.MISSING_COUNTERPART).count()
    outs = {}
    for tier, forced in (
        ("broadcast", n_true),  # under PROBE_BROADCAST_MAX
        ("keyed", V.PROBE_BROADCAST_MAX + 1),
        ("shuffle", V.PROBE_KEYS_BROADCAST_MAX + 1),
    ):
        probed, _ = onepass.probe_pairs_from(
            s1, manifest, n_miss=forced, manifest_hot=False
        )
        outs[tier] = _sorted_rows(probed, cols)
    assert outs["broadcast"] == outs["keyed"] == outs["shuffle"]
    assert len(outs["broadcast"]) > 0

    probed_keyed, _ = onepass.probe_pairs_from(
        s1, manifest, n_miss=V.PROBE_BROADCAST_MAX + 1, manifest_hot=False
    )
    plan = probed_keyed._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
