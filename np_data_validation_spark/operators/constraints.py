"""Constraint checks: uniqueness, referential integrity, consistency, schema.

Each returns violation rows in the ``schema.VIOLATIONS`` shape so the engine
can union them with the verdict-derived violations and append once.

Reference anchors:
* uniqueness      — dedup-on-insert skip (a SELF/SELF_NO_CHECKSUM match
                    blocks a second insert), /root/reference/
                    data_validation.py:728-734, :798-804
* referential     — "no hits in db" -> probe backups -> report missing,
                    /root/reference/data_validation.py:1244-1266,
                    strategies.py:85-86
* consistency     — all-same-checksum check within a match group,
                    /root/reference/data_validation.py:1218-1222
* schema invariant— checksum format guard on set (valid_crc32_checksum,
                    /root/reference/data_validation.py:211-216, :507-513),
                    re-expressed as n_tok == size(tokens) (input_hint's
                    token-array-equality surrogate) + id null checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _as_violation(df: DataFrame, name: str, detail_cols: list[str]) -> DataFrame:
    present = [c for c in detail_cols if c in df.columns]
    return df.select(
        "doc_id",
        "source",
        F.lit(name).alias("violation"),
        F.to_json(F.struct(*[F.col(c) for c in present])).alias("detail"),
    )


def uniqueness_violations(snapshot: DataFrame) -> DataFrame:
    """All-but-first rows sharing a (doc_id, source) identity.

    Window ranking (SURVEY.md §2.5 W-dup): one shuffle on the same keys the
    big join uses. Deterministic tiebreak on (tok_hash, n_tok) — no
    wall-clock — so resumed runs flag identical rows.
    """
    order_cols = [
        F.col(c).asc_nulls_last()
        for c in ("tok_hash", "n_tok")
        if c in snapshot.columns
    ]
    w = Window.partitionBy("doc_id", "source").orderBy(*order_cols)
    return _as_violation(
        snapshot.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") > 1)
        .withColumn("dup_rank", F.col("_rn")),
        "DUPLICATE_DOC_ID",
        ["dup_rank", "n_tok", "tok_hash"],
    )


def referential_violations(
    snapshot: DataFrame, manifest: DataFrame, both_directions: bool = True
) -> DataFrame:
    """Anti-joins in both directions.

    snapshot ∖ manifest  -> MISSING_IN_MANIFEST (subject has no counterpart)
    manifest ∖ snapshot  -> MISSING_IN_SNAPSHOT (orphaned manifest entry —
    the reference's "entry in DB whose file no longer exists" case, probed
    via the accessible flag, /root/reference/data_validation.py:453,:1286).
    """
    missing = _as_violation(
        snapshot.join(manifest.select("doc_id"), "doc_id", "left_anti"),
        "MISSING_IN_MANIFEST",
        ["n_tok", "tok_hash"],
    )
    if not both_directions:
        return missing
    orphaned = _as_violation(
        manifest.join(snapshot.select("doc_id"), "doc_id", "left_anti"),
        "MISSING_IN_SNAPSHOT",
        ["n_tok", "tok_hash"],
    )
    return missing.unionByName(orphaned)


def consistency_violations(manifest: DataFrame) -> DataFrame:
    """doc_ids whose manifest entries disagree on content hash.

    ``count(distinct tok_hash) > 1`` per doc_id — the distributed form of
    the reference's ``all(owc.checksum == last.checksum ...)`` loop.
    Aggregation is partial+final (map-side combine) so no raw-row shuffle.
    """
    bad = (
        manifest.filter(F.col("tok_hash").isNotNull())
        .groupBy("doc_id")
        .agg(
            F.countDistinct("tok_hash").alias("n_hashes"),
            F.min("source").alias("source"),
        )
        .filter(F.col("n_hashes") > 1)
    )
    return _as_violation(bad, "INCONSISTENT_GROUP", ["n_hashes"])


def schema_violations(snapshot: DataFrame) -> DataFrame:
    """Row-level schema invariants on the snapshot.

    * N_TOK_MISMATCH — ``n_tok != size(tokens)`` (the cheap surrogate must
      agree with the payload, reference size semantics :475-482)
    * NULL_N_TOK / NULL_DOC_ID — required-field checks (reference: "size and
      path fields are required entries", :549-550)
    """
    checks = snapshot.select(
        "doc_id",
        "source",
        "n_tok",
        F.size("tokens").alias("actual_len"),
        F.col("tokens").isNull().alias("_tokens_null"),
    )
    mismatch = _as_violation(
        checks.filter(
            ~F.col("_tokens_null") & (F.col("n_tok") != F.col("actual_len"))
        ),
        "N_TOK_MISMATCH",
        ["n_tok", "actual_len"],
    )
    null_ntok = _as_violation(
        checks.filter(F.col("n_tok").isNull()), "NULL_N_TOK", ["actual_len"]
    )
    null_docid = _as_violation(
        checks.filter(F.col("doc_id").isNull()), "NULL_DOC_ID", ["n_tok", "actual_len"]
    )
    return mismatch.unionByName(null_ntok).unionByName(null_docid)


def all_violations(snapshot: DataFrame, manifest: DataFrame) -> DataFrame:
    """Union of the pure-constraint violations (verdict-derived violations
    come from operators.verdicts.extract_violations)."""
    return (
        uniqueness_violations(snapshot)
        .unionByName(referential_violations(snapshot, manifest))
        .unionByName(consistency_violations(manifest))
        .unionByName(schema_violations(snapshot))
    )
