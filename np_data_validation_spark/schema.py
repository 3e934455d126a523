"""Explicit schemas for every table the engine touches.

The reference's schema is implicit and dynamic (JSON DB tolerates missing
keys, /root/reference/data_validation.py:944-958; Mongo documents carry 5
loose fields, :806-812). The new engine is columnar with fixed StructTypes —
schema violations are caught at the scan, not at comparison time.

Column mapping from the reference's file-record model
(/root/reference/data_validation.py:413-633):

=====================  ==============================  =====================
reference field         new-engine column               Spark type
=====================  ==============================  =====================
name (basename :473)    doc_id                          string
file bytes on disk      tokens                          array<int32>
size (:475-482)         n_tok                           int32
session.id (:250)       source  (partition key)         string
checksum (:501-513)     tok_hash (nullable, computed)   long (xxhash64)
=====================  ==============================  =====================
"""

from __future__ import annotations

from pyspark.sql import types as T

#: The snapshot under validation (BASELINE.json input_hint schema).
SEQUENCES = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("tokens", T.ArrayType(T.IntegerType(), False), True),
        T.StructField("n_tok", T.IntegerType(), True),
        T.StructField("source", T.StringType(), False),
    ]
)

#: The trusted counterpart — the reference's "database" of prior records
#: (shelve/Mongo/JSON backends, /root/reference/data_validation.py:706-1051).
MANIFEST = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("n_tok", T.IntegerType(), True),
        T.StructField("tok_hash", T.LongType(), True),
        T.StructField("source", T.StringType(), False),
    ]
)

#: Violation rows (the actionable output; the reference reports + optionally
#: deletes — we only ever append to a results table, never mutate input).
VIOLATIONS = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("source", T.StringType(), False),
        T.StructField("violation", T.StringType(), False),
        T.StructField("detail", T.StringType(), True),
    ]
)

#: Per-partition checkpoint state — replaces the reference's resume-by-rerun
#: idempotence (dedup-on-insert, /root/reference/data_validation.py:728-734)
#: with explicit per-partition lineage + metrics. Written and read with this
#: schema. Its fields are nullable because Spark writes a non-nullable field
#: as a REQUIRED parquet column; earlier state files hold them OPTIONAL.
VALIDATION_STATE = T.StructType(
    [
        T.StructField("partition", T.StringType(), True),
        T.StructField("status", T.StringType(), True),
        T.StructField("run_id", T.StringType(), True),
        T.StructField("metrics", T.StringType(), True),
        T.StructField("lineage", T.StringType(), True),
        T.StructField("finished_at", T.TimestampType(), True),
    ]
)
