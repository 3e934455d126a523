"""The verdict classifier — the engine's flagship operator.

Re-expresses the reference's 9-branch ``DataValidationFile.__eq__``
decision tree (/root/reference/data_validation.py:547-628) as ONE ordered
Catalyst CASE expression evaluated after the snapshot x manifest join, so
classification of 10^12 pairs runs inside whole-stage codegen with zero
Python.

Semantic mapping (SURVEY.md §1.3):

* reference "path"      -> (doc_id, source)   full record location
* reference "name"      -> doc_id             location-independent identity
* reference "size"      -> n_tok              cheap surrogate
* reference "checksum"  -> tok_hash           expensive fingerprint, nullable

Branch order is load-bearing (SURVEY.md §7.3 hard parts 1-2): e.g.
CHECKSUM_COLLISION requires name!= only because the same-name branches
above it consumed name=; UNKNOWN is the fall-through (reference :627-628);
SELF_NO_CHECKSUM vs OTHER_NO_CHECKSUM depend on which *side* lacks the
hash (reference :536-537, :558-573) — subject = snapshot, other = manifest.
Property-tested against a pure-Python oracle of the reference tree
(tests/test_verdicts.py). The join, content probe and rollup that feed and
consume this CASE are ``plans.onepass`` — the engine's one plan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Verdict codes mirror the reference IntFlag values
# (/root/reference/data_validation.py:529-545). MISSING_COUNTERPART is an
# engine extension for the anti-join outcome the reference handled
# imperatively ("no hits" -> probe backups -> report missing,
# /root/reference/data_validation.py:1244-1266).
UNKNOWN = -1
UNRELATED = 0
SELF = 5
SELF_NO_CHECKSUM = 6
OTHER_NO_CHECKSUM = 7
CHECKSUM_COLLISION = 10
UNSYNCED_DATA = 11
UNSYNCED_CHECKSUM = 12
UNSYNCED_OR_CORRUPT_DATA = 13
MISSING_COUNTERPART = 14
VALID_COPY_SAME_NAME = 21
VALID_COPY_RENAMED = 22

VERDICT_NAMES = {
    UNKNOWN: "UNKNOWN",
    UNRELATED: "UNRELATED",
    SELF: "SELF",
    SELF_NO_CHECKSUM: "SELF_NO_CHECKSUM",
    OTHER_NO_CHECKSUM: "OTHER_NO_CHECKSUM",
    CHECKSUM_COLLISION: "CHECKSUM_COLLISION",
    UNSYNCED_DATA: "UNSYNCED_DATA",
    UNSYNCED_CHECKSUM: "UNSYNCED_CHECKSUM",
    UNSYNCED_OR_CORRUPT_DATA: "UNSYNCED_OR_CORRUPT_DATA",
    MISSING_COUNTERPART: "MISSING_COUNTERPART",
    VALID_COPY_SAME_NAME: "VALID_COPY_SAME_NAME",
    VALID_COPY_RENAMED: "VALID_COPY_RENAMED",
}

#: Threshold bands, straight from the reference: [10,13] invalid-copy
#: band (strategies.py:59-60), >=21 valid backup (:531-532).
INVALID_BAND = (CHECKSUM_COLLISION, UNSYNCED_OR_CORRUPT_DATA)
VALID_MIN = VALID_COPY_SAME_NAME

#: verdict -> violation class (the north_star's named violation rows).
VIOLATION_CLASS = {
    UNSYNCED_DATA: "SIZE_MISMATCH",
    UNSYNCED_CHECKSUM: "STALE_CHECKSUM",
    UNSYNCED_OR_CORRUPT_DATA: "CHECKSUM_MISMATCH",
    MISSING_COUNTERPART: "MISSING_COUNTERPART",
}


def classify_expr() -> Column:
    """Ordered CASE translating the reference decision tree 1:1.

    Reads the pair columns (doc_id, source, n_tok, tok_hash) and their m_*
    manifest counterparts. Reference branch -> engine predicate
    (s=snapshot/subject, m=manifest/other). ``hash_eq`` etc. are only
    consulted behind both-non-null guards, mirroring the truthiness guards
    in the reference. A pair with no counterpart (all m_* null) is
    MISSING_COUNTERPART.
    """
    s_doc, s_src = F.col("doc_id"), F.col("source")
    s_nt, s_h = F.col("n_tok"), F.col("tok_hash")
    m_doc, m_src = F.col("m_doc_id"), F.col("m_source")
    m_nt, m_h = F.col("m_n_tok"), F.col("m_tok_hash")

    both_hash = s_h.isNotNull() & m_h.isNotNull()
    hash_eq = s_h == m_h
    size_eq = s_nt == m_nt
    # reference compares case-insensitively (:554 etc.); here ids are taken
    # as given (normalize them before they reach the tables), so plain
    # equality keeps the join key bucketing-friendly.
    name_eq = s_doc == m_doc
    path_eq = name_eq & (s_src == m_src)

    c = F.when(m_doc.isNull() & m_h.isNull() & m_nt.isNull(), F.lit(MISSING_COUNTERPART))
    # ref :551-556
    c = c.when(both_hash & hash_eq & size_eq & path_eq, F.lit(SELF))
    # ref :560-565 (subject lacks checksum)
    c = c.when(size_eq & path_eq & s_h.isNull() & m_h.isNotNull(), F.lit(SELF_NO_CHECKSUM))
    # ref :568-573 (other lacks checksum)
    c = c.when(size_eq & path_eq & s_h.isNotNull() & m_h.isNull(), F.lit(OTHER_NO_CHECKSUM))
    # ref :575-581
    c = c.when(both_hash & hash_eq & size_eq & name_eq & ~path_eq, F.lit(VALID_COPY_SAME_NAME))
    # ref :583-589
    c = c.when(both_hash & hash_eq & size_eq & ~name_eq & ~path_eq, F.lit(VALID_COPY_RENAMED))
    # ref :591-611 invalid-copy block (name=, path!=, both hashes)
    c = c.when(both_hash & name_eq & ~path_eq & ~size_eq & ~hash_eq, F.lit(UNSYNCED_DATA))
    c = c.when(both_hash & name_eq & ~path_eq & ~size_eq & hash_eq, F.lit(UNSYNCED_CHECKSUM))
    c = c.when(both_hash & name_eq & ~path_eq & size_eq & ~hash_eq, F.lit(UNSYNCED_OR_CORRUPT_DATA))
    # ref :613-618
    c = c.when(both_hash & hash_eq & ~size_eq & ~name_eq, F.lit(CHECKSUM_COLLISION))
    # ref :620-625
    c = c.when(both_hash & ~hash_eq & ~size_eq & ~name_eq, F.lit(UNRELATED))
    # ref :627-628 fall-through
    return c.otherwise(F.lit(UNKNOWN))


def verdict_name_expr() -> Column:
    """Readable names for the ``verdict_code`` column via a chained CASE
    (stays in codegen)."""
    c = None
    for code, name in VERDICT_NAMES.items():
        c = (F.when if c is None else c.when)(F.col("verdict_code") == code, F.lit(name))
    return c.otherwise(F.lit("INVALID"))


#: Broadcast budget for the probe's missed side, expressed in BYTES — a raw
#: row-count cap is a proxy that silently scales with driver heap (5M slim
#: rows ~ 300 MB: fine at a 32g benchmark driver, an OOM at default driver
#: sizing). 64 MB is safe at Spark's default 1g driver/executor memory and
#: well under the 8 GB broadcast hard limit.
PROBE_BROADCAST_MAX_BYTES = 64 << 20

#: Conservative on-heap width of one slim miss row (doc_id ~16ch string +
#: source + n_tok + tok_hash + n_tok_actual + s_mult, with JVM object /
#: hash-relation overhead).
PROBE_ROW_WIDTH_BYTES = 96

#: Below this many missed rows the probe broadcasts the missed side and
#: streams the manifest (no manifest shuffle); above it, fall back to the
#: shuffle join on tok_hash. Derived from the byte budget (~700k rows).
PROBE_BROADCAST_MAX = PROBE_BROADCAST_MAX_BYTES // PROBE_ROW_WIDTH_BYTES

#: Conservative on-heap width of one tok_hash KEY inside a broadcast hash
#: relation (8 data bytes + UnsafeRow/map overhead).
PROBE_KEY_WIDTH_BYTES = 32

#: Middle probe tier (r9, guide §3.2): when the missed ROWS blow the
#: broadcast budget but their distinct tok_hash KEY SET still fits it, the
#: key set is broadcast as a left-semi pre-filter that shrinks the
#: manifest BEFORE its dedup/shuffle — same 64 MB byte budget, key-width
#: denominator (~2M keys). Beyond this the probe is a full shuffle join.
PROBE_KEYS_BROADCAST_MAX = PROBE_BROADCAST_MAX_BYTES // PROBE_KEY_WIDTH_BYTES


def find_reclaimable(pairs: DataFrame) -> DataFrame:
    """Action gate: subjects whose storage can be reclaimed — the engine's
    form of the reference's ``delete_if_valid_backup_in_db`` strategy
    (/root/reference/strategies.py:95-168), lookup -> veto -> act:

    * ≥1 VALID copy (code >= 21) located in the ``backup`` source — the
      source-membership restriction is J9's path-prefix rule
      (/root/reference/strategies.py:145-148, data_validation.py:1327-1329);
    * ZERO invalid-band copies anywhere — ANY invalid copy vetoes the
      action (/root/reference/strategies.py:135-138);
    * the subject itself must not live in the ``backup`` source (the final
      subject-is-not-the-backup assertion, /root/reference/strategies.py:
      106-107).

    Returns (doc_id, source, n_valid_backups). One partial-aggregated
    groupBy over the pair table — no extra joins at scale.
    """
    code = F.col("verdict_code")
    valid_backup = (code >= VALID_MIN) & (F.col("m_source") == "backup")
    agg = pairs.groupBy("doc_id", "source").agg(
        F.max(valid_backup).alias("_has_valid_backup"),
        F.max(code.between(*INVALID_BAND)).alias("_veto"),
        F.sum(F.when(valid_backup, 1).otherwise(0)).cast("long").alias("n_valid_backups"),
    )
    return (
        agg.filter(F.col("_has_valid_backup") & ~F.col("_veto"))
        .filter(F.col("source") != "backup")
        .select("doc_id", "source", "n_valid_backups")
    )

