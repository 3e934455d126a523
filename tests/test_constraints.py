"""Constraint tests against the labeled synth dataset: the one-pass plan's
uniqueness and schema violations, and the manifest-side orphan and
consistency checks."""

from pyspark.sql import functions as F

from np_data_validation_spark.operators import constraints as C


def _violations(result, name):
    return result.violations.filter(F.col("violation") == name).toPandas()


def test_uniqueness(seq_man, seq_onepass):
    _, _, labels = seq_man
    assert seq_onepass.violations.columns == ["doc_id", "source", "violation", "detail"]
    vio = _violations(seq_onepass, "DUPLICATE_DOC_ID")
    dup_ids = set(
        labels.loc[labels["case"].isin(["duplicate", "duplicate_mixed"]), "doc_id"]
    )
    assert set(vio["doc_id"]) == dup_ids
    # exactly one extra copy each -> one violation row each
    assert len(vio) == len(dup_ids)


def test_referential(seq_man):
    seq, man, labels = seq_man
    vio = C.orphan_violations(seq, man).toPandas()
    assert (vio["violation"] == "MISSING_IN_SNAPSHOT").all()
    # renamed + collision manifest entries have doc_ids absent from snapshot
    want_orphans = (
        {d + "_r" for d in labels.loc[labels["case"] == "valid_copy_renamed", "doc_id"]}
        | {d + "_c" for d in labels.loc[labels["case"] == "collision", "doc_id"]}
        | {d + "_n" for d in labels.loc[labels["case"] == "renamed_null_ntok", "doc_id"]}
    )
    assert set(vio["doc_id"]) == want_orphans


def test_consistency(seq_man):
    _, man, labels = seq_man
    vio = C.consistency_violations(man).toPandas()
    want = set(labels.loc[labels["case"] == "inconsistent", "doc_id"])
    assert set(vio["doc_id"]) == want
    assert (vio["violation"] == "INCONSISTENT_GROUP").all()


def test_schema_invariants(seq_man, seq_onepass):
    _, _, labels = seq_man
    mism = _violations(seq_onepass, "N_TOK_MISMATCH")
    want = set(labels.loc[labels["case"] == "n_tok_mismatch", "doc_id"])
    assert set(mism["doc_id"]) == want
