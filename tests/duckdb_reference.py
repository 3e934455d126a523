"""Independent DuckDB reference for the one-pass plan's outputs.

The engine has one Spark implementation of the verdict semantics,
``plans.onepass.validate_onepass``. This module recomputes its three
outputs — rolled verdicts, violations and per-source stats — in DuckDB over
raw, un-aggregated rows, with the SQL form of the verdict CASE
(``queries.VERDICT_CASE_SQL``). It shares no join planner, null semantics or
multiplicity bookkeeping with the Spark plan, so an engine-level mistake
there shows up as a row difference here.

The dataflow is the reference's (data_validation.py):
dedup the manifest, match by doc_id, probe the misses by content, roll up
per subject, and report violations.
"""

from __future__ import annotations

import json

import duckdb
import pyarrow as pa

from np_data_validation_spark import queries as Q
from np_data_validation_spark.operators import verdicts as V

_NAME_CASE = "CASE verdict_code " + " ".join(
    f"WHEN {c} THEN '{n}'" for c, n in V.VERDICT_NAMES.items()
) + " END"
_CLASS_CASE = "CASE verdict_code " + " ".join(
    f"WHEN {c} THEN '{n}'" for c, n in V.VIOLATION_CLASS.items()
) + " END"

_SQL = f"""
CREATE TEMP VIEW m AS
SELECT DISTINCT doc_id m_doc_id, source m_source, n_tok m_n_tok, tok_hash m_tok_hash
FROM manifest;

CREATE TEMP VIEW s1 AS
SELECT j.*, {Q.VERDICT_CASE_SQL} AS verdict_code
FROM (SELECT * FROM snapshot s LEFT JOIN m ON s.doc_id = m.m_doc_id) j;

CREATE TEMP VIEW missed AS
SELECT doc_id, source, n_tok, tok_hash, n_tok_actual FROM s1
WHERE verdict_code = {V.MISSING_COUNTERPART};

CREATE TEMP VIEW pairs AS
SELECT * FROM s1 WHERE verdict_code <> {V.MISSING_COUNTERPART}
UNION ALL BY NAME
SELECT j.*, {Q.VERDICT_CASE_SQL} AS verdict_code
FROM (SELECT * FROM missed x JOIN m ON x.tok_hash = m.m_tok_hash) j
UNION ALL BY NAME
SELECT x.*, {V.MISSING_COUNTERPART} AS verdict_code FROM missed x
WHERE NOT EXISTS (SELECT 1 FROM m WHERE m.m_tok_hash = x.tok_hash);

CREATE TEMP VIEW rolled AS
SELECT *, CASE
    WHEN has_invalid OR is_missing THEN 'fail'
    WHEN has_valid OR final_verdict_code IN ({V.SELF_NO_CHECKSUM}, {V.OTHER_NO_CHECKSUM})
      THEN 'pass'
    ELSE 'unknown' END AS row_status
FROM (
  SELECT doc_id, source,
         max(verdict_code) AS final_verdict_code,
         bool_or(verdict_code >= {V.VALID_MIN} OR verdict_code = {V.SELF}) AS has_valid,
         bool_or(verdict_code BETWEEN {V.UNSYNCED_DATA} AND {V.UNSYNCED_OR_CORRUPT_DATA})
           AS has_invalid,
         bool_or(verdict_code = {V.MISSING_COUNTERPART}) AS is_missing,
         count(*) AS n_pairs
  FROM pairs GROUP BY doc_id, source
);

CREATE TEMP VIEW violations AS
SELECT doc_id, source, {_CLASS_CASE} AS violation,
       json_object('verdict', {_NAME_CASE}, 'n_tok', n_tok, 'm_n_tok', m_n_tok,
                   'tok_hash', tok_hash, 'm_tok_hash', m_tok_hash,
                   'm_source', m_source) AS detail
FROM pairs WHERE {_CLASS_CASE} IS NOT NULL
UNION ALL
SELECT doc_id, source, 'DUPLICATE_DOC_ID',
       json_object('dup_rank', dup_rank, 'n_tok', n_tok, 'tok_hash', tok_hash)
FROM (
  SELECT *, row_number() OVER (
      PARTITION BY doc_id, source
      ORDER BY tok_hash ASC NULLS LAST, n_tok ASC NULLS LAST) AS dup_rank
  FROM snapshot
) WHERE dup_rank > 1
UNION ALL
SELECT doc_id, source, 'N_TOK_MISMATCH',
       json_object('n_tok', n_tok, 'actual_len', n_tok_actual)
FROM snapshot WHERE n_tok_actual IS NOT NULL AND n_tok <> n_tok_actual
UNION ALL
SELECT doc_id, source, 'NULL_N_TOK', json_object('actual_len', n_tok_actual)
FROM snapshot WHERE n_tok IS NULL
UNION ALL
SELECT doc_id, source, 'NULL_DOC_ID',
       json_object('n_tok', n_tok, 'actual_len', n_tok_actual)
FROM snapshot WHERE doc_id IS NULL;

CREATE TEMP VIEW stats AS
SELECT source,
       count(*) AS n_rows,
       min(n_tok) AS n_tok_min,
       max(n_tok) AS n_tok_max,
       avg(n_tok) AS n_tok_avg,
       CAST(sum(n_tok) AS BIGINT) AS n_tok_sum,
       count_if(n_tok IS NULL)::DOUBLE / count(*) AS n_tok_null_rate,
       count_if(n_tok_actual IS NULL)::DOUBLE / count(*) AS tokens_null_rate,
       grouping(source) = 1 AS is_global
FROM snapshot GROUP BY ROLLUP (source);
"""


def reference_outputs(snapshot: pa.Table, manifest: pa.Table) -> dict[str, list[dict]]:
    """Rolled, violation and stats rows of ``validate_onepass`` computed in
    DuckDB.

    ``snapshot`` is the hashed snapshot, one row per raw row, with columns
    (doc_id, source, n_tok, tok_hash, n_tok_actual); ``manifest`` has
    (doc_id, source, n_tok, tok_hash). Build both with ``DataFrame.toArrow()``:
    ``toPandas()`` turns nullable ints into floats.

    Violation ``detail`` strings drop null fields, as Spark's ``to_json``
    does, so they compare equal to the engine's as strings. Stats leave out
    the approx-distinct column, and ``n_tok_avg`` needs a float tolerance.
    """
    with duckdb.connect() as con:
        con.register("snapshot", snapshot)
        con.register("manifest", manifest)
        con.execute(_SQL)
        out = {
            name: con.execute(f"SELECT * FROM {name}").fetch_arrow_table().to_pylist()
            for name in ("rolled", "violations", "stats")
        }
    for r in out["violations"]:
        detail = {k: v for k, v in json.loads(r["detail"]).items() if v is not None}
        r["detail"] = json.dumps(detail, separators=(",", ":"))
    return out
