"""Manifest-side constraint checks: orphaned entries and consistency.

Each returns violation rows in the ``schema.VIOLATIONS`` shape. Both are
whole-manifest checks that do not partition by snapshot source, so the
engine runs them once per run (``plans.engine.manifest_audit``). The
batch-scoped checks — uniqueness and schema invariants — are rebuilt from
the written identities inside ``plans.onepass``.

Reference anchors:
* orphans         — "entry in DB whose file no longer exists", probed via
                    the accessible flag, reference data_validation.py:453,
                    :1286
* consistency     — all-same-checksum check within a match group,
                    reference data_validation.py:1218-1222
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def as_violation(df: DataFrame, name: str, detail_cols: list[str | Column]) -> DataFrame:
    """Rows of ``df`` as ``schema.VIOLATIONS`` rows of class ``name``, with
    ``detail_cols`` as the JSON ``detail`` object. Every violation class
    with a fixed name is built here."""
    return df.select(
        "doc_id",
        "source",
        F.lit(name).alias("violation"),
        F.to_json(F.struct(*detail_cols)).alias("detail"),
    )


def orphan_violations(snapshot: DataFrame, manifest: DataFrame) -> DataFrame:
    """manifest ∖ snapshot on doc_id -> MISSING_IN_SNAPSHOT (an orphaned
    manifest entry)."""
    return as_violation(
        manifest.join(snapshot.select("doc_id"), "doc_id", "left_anti"),
        "MISSING_IN_SNAPSHOT",
        ["n_tok", "tok_hash"],
    )


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
    return as_violation(bad, "INCONSISTENT_GROUP", ["n_hashes"])
