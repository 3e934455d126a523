"""Verdict classifier tests.

1. The 8 golden cases of the reference's inline suite
   (/root/reference/data_validation.py:1374-1397) plus the null-asymmetry
   pair (:558-573) — the correctness contract.
2. An exhaustive property test: every (subject x counterpart) combination
   over small value domains, compared against a faithful Python oracle of
   the reference's __eq__ decision tree (:547-628) — once for the Spark
   CASE and once for its SQL form run in DuckDB.
3. End-to-end: synth dataset with injected faults -> per-label expected
   final verdicts and row statuses of the one-pass plan.
"""

import duckdb
import pyarrow as pa
import pytest

from np_data_validation_spark import queries as Q
from np_data_validation_spark.operators import verdicts as V

COLS = ["doc_id", "source", "n_tok", "tok_hash", "m_doc_id", "m_source", "m_n_tok", "m_tok_hash"]


def classify_rows(spark, rows):
    df = spark.createDataFrame(
        rows,
        schema="doc_id string, source string, n_tok int, tok_hash long, "
        "m_doc_id string, m_source string, m_n_tok int, m_tok_hash long",
    )
    out = df.withColumn("verdict_code", V.classify_expr()).collect()
    return [r["verdict_code"] for r in out]


# ---------------------------------------------------------------------------
# Python oracle: faithful translation of the reference decision tree
# (/root/reference/data_validation.py:547-628). subject=snapshot row,
# other=manifest row; checksum->tok_hash, size->n_tok, name->doc_id,
# path->(doc_id, source). Used ONLY as a test oracle.
# ---------------------------------------------------------------------------


def oracle(s_doc, s_src, s_nt, s_h, m_doc, m_src, m_nt, m_h):
    if m_doc is None and m_nt is None and m_h is None:
        return V.MISSING_COUNTERPART
    name_eq = s_doc == m_doc
    path_eq = name_eq and s_src == m_src
    size_eq = s_nt == m_nt
    both = s_h is not None and m_h is not None
    hash_eq = both and s_h == m_h
    if both and hash_eq and size_eq and path_eq:
        return V.SELF
    if size_eq and path_eq and s_h is None and m_h is not None:
        return V.SELF_NO_CHECKSUM
    if size_eq and path_eq and s_h is not None and m_h is None:
        return V.OTHER_NO_CHECKSUM
    if both and hash_eq and size_eq and name_eq and not path_eq:
        return V.VALID_COPY_SAME_NAME
    if both and hash_eq and size_eq and not name_eq and not path_eq:
        return V.VALID_COPY_RENAMED
    if both and name_eq and not path_eq:
        if not size_eq and not hash_eq:
            return V.UNSYNCED_DATA
        if not size_eq and hash_eq:
            return V.UNSYNCED_CHECKSUM
        if size_eq and not hash_eq:
            return V.UNSYNCED_OR_CORRUPT_DATA
        return V.UNKNOWN  # unreachable: size_eq & hash_eq consumed above
    if both and hash_eq and not size_eq and not name_eq:
        return V.CHECKSUM_COLLISION
    if both and not hash_eq and not size_eq and not name_eq:
        return V.UNRELATED
    return V.UNKNOWN


H1, H2 = 1111111111111, 2222222222222


def test_reference_golden_cases(spark):
    # subject fixed: (doc, src, 10, H1) — mirrors the reference's subject
    # ('//tmp/tmp/test.txt', checksum='12345678', size=10), :1355-1400
    s = ("doc", "src", 10, H1)
    cases = [
        # (manifest row), expected verdict, reference assertion line
        (("doc", "src", 10, H1), V.SELF),                      # :1374-1375
        (("doc", "src2", 10, H1), V.VALID_COPY_SAME_NAME),     # :1377-1378
        (("doc2", "src2", 10, H1), V.VALID_COPY_RENAMED),      # :1380-1381
        (("doc", "src2", 20, H2), V.UNSYNCED_DATA),            # :1383-1384
        (("doc", "src2", 20, H1), V.UNSYNCED_CHECKSUM),        # :1386-1388
        (("doc", "src2", 10, H2), V.UNSYNCED_OR_CORRUPT_DATA), # :1390-1391
        (("doc2", "src2", 20, H1), V.CHECKSUM_COLLISION),      # :1393-1394
        (("doc2", "src2", 20, H2), V.UNRELATED),               # :1396-1397
    ]
    rows = [s + m for m, _ in cases]
    got = classify_rows(spark, rows)
    for (m, expect), g in zip(cases, got):
        assert g == expect, f"manifest={m}: got {g}, want {expect}"


def test_null_asymmetry(spark):
    # SELF_NO_CHECKSUM vs OTHER_NO_CHECKSUM depend on which SIDE lacks the
    # hash (reference :536-537, :558-573).
    rows = [
        ("doc", "src", 10, None, "doc", "src", 10, H1),
        ("doc", "src", 10, H1, "doc", "src", 10, None),
        ("doc", "src", 10, None, "doc", "src", 10, None),  # both missing -> UNKNOWN
    ]
    got = classify_rows(spark, rows)
    assert got == [V.SELF_NO_CHECKSUM, V.OTHER_NO_CHECKSUM, V.UNKNOWN]


def test_missing_counterpart(spark):
    rows = [("doc", "src", 10, H1, None, None, None, None)]
    assert classify_rows(spark, rows) == [V.MISSING_COUNTERPART]


def _exhaustive_rows():
    docs, srcs, nts, hs = ["d1", "d2"], ["s1", "s2"], [10, 20], [H1, H2, None]
    sides = [
        (d, s, n, h) for d in docs for s in srcs for n in nts for h in hs
    ]
    rows = [s + m for s in sides for m in sides]
    return rows + [s + (None, None, None, None) for s in sides]


def test_exhaustive_vs_oracle(spark):
    """Every combination over small domains — pins branch ORDER, not just
    individual branches (SURVEY.md §7.3 hard part 2)."""
    rows = _exhaustive_rows()
    got = classify_rows(spark, rows)
    for row, g in zip(rows, got):
        want = oracle(*row)
        assert g == want, f"{row}: got {V.VERDICT_NAMES.get(g)}, want {V.VERDICT_NAMES.get(want)}"


def test_sql_case_exhaustive_vs_oracle():
    """queries.VERDICT_CASE_SQL, which the DuckDB reference classifies
    with, agrees with the same Python oracle on every combination."""
    rows = _exhaustive_rows()
    types = [pa.string(), pa.string(), pa.int32(), pa.int64()] * 2
    cols = [pa.array([r[i] for r in rows], t) for i, t in enumerate(types)]
    pairs = pa.table([*cols, pa.array(range(len(rows)))], names=[*COLS, "i"])
    with duckdb.connect() as con:
        con.register("pairs", pairs)
        sql = f"SELECT {Q.VERDICT_CASE_SQL} FROM pairs ORDER BY i"
        got = [c for (c,) in con.execute(sql).fetchall()]
    assert got == [oracle(*row) for row in rows]


EXPECTED_FINAL = {
    "clean": (V.SELF, "pass"),
    "valid_copy": (V.VALID_COPY_SAME_NAME, "pass"),
    "valid_copy_renamed": (V.VALID_COPY_RENAMED, "pass"),
    "unsynced_data": (V.UNSYNCED_DATA, "fail"),
    "unsynced_checksum": (V.UNSYNCED_CHECKSUM, "fail"),
    "corrupt": (V.UNSYNCED_OR_CORRUPT_DATA, "fail"),
    "collision": (V.CHECKSUM_COLLISION, "unknown"),
    "self_no_checksum": (V.SELF_NO_CHECKSUM, "pass"),
    "other_no_checksum": (V.OTHER_NO_CHECKSUM, "pass"),
    "missing": (V.MISSING_COUNTERPART, "fail"),
    "duplicate": (V.SELF, "pass"),          # uniqueness flags it separately
    # mixed-content duplicate: the pristine copy still SELF-matches (pass);
    # the flipped copy's same-path hash mismatch falls through to UNKNOWN
    # (max code = SELF). Uniqueness flags rank 2 separately.
    "duplicate_mixed": (V.SELF, "pass"),
    "inconsistent": (V.SELF, "pass"),       # consistency flags it separately
    "n_tok_mismatch": (V.UNKNOWN, "unknown"),
    # null n_tok: every size-gated branch is null-guarded, so the probe-found
    # renamed counterpart classifies UNKNOWN (schema flags NULL_N_TOK).
    "renamed_null_ntok": (V.UNKNOWN, "unknown"),
}


@pytest.fixture(scope="module")
def classified(seq_man, seq_onepass):
    _, _, labels = seq_man
    rolled = seq_onepass.rolled.toPandas().set_index("doc_id")
    return seq_onepass.violations, rolled, labels


def test_end_to_end_final_verdicts(classified):
    _, rolled, labels = classified
    for case, (want_code, want_status) in EXPECTED_FINAL.items():
        ids = labels.loc[labels["case"] == case, "doc_id"]
        assert len(ids) > 0, f"no rows for case {case}"
        for doc_id in ids:
            row = rolled.loc[doc_id]
            assert row["final_verdict_code"] == want_code, (
                f"{case}/{doc_id}: got {row['final_verdict_code']}, want {want_code}"
            )
            assert row["row_status"] == want_status, (
                f"{case}/{doc_id}: got {row['row_status']}, want {want_status}"
            )


def test_violation_extraction(classified):
    violations, _, labels = classified
    vio = violations.toPandas()
    by_class = vio.groupby("violation")["doc_id"].apply(set).to_dict()
    cases = labels.groupby("case")["doc_id"].apply(set).to_dict()
    assert by_class["SIZE_MISMATCH"] == cases["unsynced_data"]
    assert by_class["STALE_CHECKSUM"] == cases["unsynced_checksum"]
    assert by_class["CHECKSUM_MISMATCH"] == cases["corrupt"]
    assert by_class["MISSING_COUNTERPART"] == cases["missing"]


def test_verdict_names(spark):
    df = spark.createDataFrame([(c,) for c in V.VERDICT_NAMES], "verdict_code int")
    got = {r["verdict_code"]: r["v"] for r in df.select(
        "verdict_code", V.verdict_name_expr().alias("v")).collect()}
    assert got == V.VERDICT_NAMES
