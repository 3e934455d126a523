"""Per-partition validation state: lineage + metrics + resume gate.

The reference resumes by re-running and skipping inserts that already have a
SELF match (dedup-on-insert, /root/reference/data_validation.py:728-734) —
idempotent but it still RESCANS everything. Here state is explicit: one row
per (partition, run) appended to ``<out>/_validation_state``; at startup the
pending set = all partitions minus those whose latest state is ``done`` with
a matching input fingerprint. The state is read once, by
``recorded_lineage``; ``done_partitions`` decides over its result. Pruned
partitions are never scanned (the ``source IN (pending)`` predicate hits the
hive-partition layout).

Atomicity without Iceberg transactions (SURVEY.md §7.3 hard part 4): result
parquet is written FIRST, the ``done`` state row is appended LAST. Every
result partition is replaced one way, by ``replace_partitions``: delete
the partition's directory, then append the new rows. A crash between the
two steps, or before the state commit, re-runs the partition, and the
rerun's clear-then-append makes that idempotent. A re-validated partition
that now yields no rows is left with none (an overwrite that writes no
rows for it would keep its old files). Readers of the results see a
verdicts or violations partition missing from the moment it is cleared
until its append commits.

Iceberg deployment shape (design note — the sandbox has no
iceberg-spark-runtime jar and no network to fetch one, so this seam is
documented rather than integration-tested; everything below is plain
public Iceberg-on-Spark usage):

* Catalog: ``spark.sql.catalog.val = org.apache.iceberg.spark.SparkCatalog``
  with a hive/glue/rest catalog impl; tables ``val.verdicts`` and
  ``val.violations`` partitioned by ``_part`` (identity transform on the
  snapshot's ``source``), ``val.state`` unpartitioned, ordered by
  ``partition``.
* Results commit — one atomic, snapshot-isolated replacement per table,
  which subsumes the parquet path's clear-then-append
  (``replace_partitions``) and closes its window in which a cleared
  partition is missing (an Iceberg partition overwrite that writes zero
  rows for a partition still drops that partition's old files)::

      rolled.writeTo("val.verdicts").overwritePartitions()
      violations.writeTo("val.violations").overwritePartitions()

* State commit — latest-row-per-partition becomes a keyed upsert instead
  of append-then-window (read_state's window collapses away)::

      MERGE INTO val.state s
      USING batch_state b            -- one row per partition in the batch
      ON s.partition = b.partition
      WHEN MATCHED THEN UPDATE SET
        status = b.status, run_id = b.run_id, metrics = b.metrics,
        lineage = b.lineage, finished_at = b.finished_at
      WHEN NOT MATCHED THEN INSERT *

* Cross-table atomicity: OSS Spark SQL has no multi-table Iceberg
  transaction, so the engine KEEPS its results-first / state-last
  ordering and idempotent-replay contract — each commit is now
  individually atomic (no torn parquet directories), and a crash between
  the verdicts commit and the state MERGE replays the batch exactly as
  today. Where stronger coupling is wanted, the write-audit-publish
  pattern applies unchanged: stage all three writes on a branch
  (``spark.wap.branch``), validate, then fast-forward the branch to main
  as the single publish step.
* Resume reads ``val.state``'s current snapshot (one keyed scan, no
  window); the superseded states the parquet path keeps as history are
  recovered via snapshot time-travel instead
  (``VERSION AS OF``), with ``expire_snapshots`` as their retention knob.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from np_data_validation_spark.schema import VALIDATION_STATE

STATE_DIR = "_validation_state"


def state_path(out_dir: str) -> str:
    return os.path.join(out_dir, STATE_DIR)


def delete_dir(spark: SparkSession, path: str) -> None:
    """Recursively delete ``path``, if it exists, through the Hadoop
    FileSystem API, so it works when the output directory is object storage
    (s3://, hdfs://, file:// URIs), not only the driver's local disk. The
    path is taken literally, never as a glob."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(p):
        fs.delete(p, True)


def _catalog_utils(spark: SparkSession):
    """Spark's own partition-path escaping (``ExternalCatalogUtils``), so
    the directories this module names and lists are the ones Spark's
    writer and partition discovery name, with no second copy of the rule."""
    return spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils


def partition_dirs(spark: SparkSession, path: str) -> list[str]:
    """Values of the ``source=<value>`` directories directly under ``path``,
    listed once through the Hadoop FileSystem API and unescaped by Spark's
    rule."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    names = [s.getPath().getName() for s in fs.listStatus(p) if s.isDirectory()]
    unescape = _catalog_utils(spark).unescapePathName
    return [unescape(n[len("source="):]) for n in names if n.startswith("source=")]


def replace_partitions(
    spark: SparkSession, df: DataFrame, path: str, col: str, values: list
) -> None:
    """Replace partitions ``values`` of column ``col`` in the parquet table
    at ``path`` with the rows of ``df``: delete each value's directory,
    named by Spark's path escaping, then append ``df`` partitioned by
    ``col``. A value for which ``df`` has no rows ends up with no
    partition. Between the delete and the append the partitions are
    missing; a crash there leaves them missing until the rerun replaces
    them (their state row is written only after this returns)."""
    utils = _catalog_utils(spark)
    for v in values:
        delete_dir(spark, os.path.join(path, utils.getPartitionPathString(col, str(v))))
    df.write.mode("append").partitionBy(col).parquet(path)


def read_state(spark: SparkSession, out_dir: str) -> DataFrame:
    """Latest state row per partition (empty frame if no state yet)."""
    path = state_path(out_dir)
    try:
        raw = spark.read.schema(VALIDATION_STATE).parquet(path)
    except Exception:
        return spark.createDataFrame([], VALIDATION_STATE)
    w = Window.partitionBy("partition").orderBy(F.col("finished_at").desc())
    return (
        raw.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def done_partitions(
    lineages: dict[str, dict], fingerprints: dict[str, str], code_version: str
) -> set[str]:
    """Partitions whose recorded ``done`` lineage (``recorded_lineage``) still
    holds: its input fingerprint matches the current one (changed input
    invalidates the checkpoint, reference X4 memoization semantics) and so
    does its code version (bumping engine.CODE_VERSION re-runs every
    checkpoint written under older verdict/constraint semantics). A
    partition absent from ``fingerprints`` is never done. Pure: the state
    was read once, by ``recorded_lineage``."""
    return {
        p
        for p, lin in lineages.items()
        if p in fingerprints
        and lin.get("input_fingerprint") == fingerprints[p]
        and lin.get("code_version") == code_version
    }


def rehash_candidates(
    lineages: dict[str, dict], fingerprints: dict[str, str], code_version: str
) -> list[str]:
    """Partitions a content-aware resume must re-hash: those whose recorded
    ``done`` lineage could still hold — same code version, and a
    content-aware recorded fingerprint (``n:s:h:c``) whose cheap prefix
    equals the current cheap fingerprint (``n:s:h``, ``input_fingerprints``
    default). Every other partition re-validates anyway and gets its
    content fingerprint from the validation pass. Pure, like
    ``done_partitions``."""
    return [
        p
        for p, lin in lineages.items()
        if p in fingerprints
        and lin.get("code_version") == code_version
        and str(lin.get("input_fingerprint", "")).count(":") == 3
        and str(lin["input_fingerprint"]).rsplit(":", 1)[0] == fingerprints[p]
    ]


def write_state_rows(
    spark: SparkSession, out_dir: str, rows: list[dict], run_id: str
) -> None:
    """Append state rows (one commit per call — the LAST step of a batch)."""
    df = spark.createDataFrame(
        [
            {
                "partition": r["partition"],
                "status": r.get("status", "done"),
                "run_id": run_id,
                "metrics": json.dumps(r.get("metrics", {}), sort_keys=True),
                "lineage": json.dumps(r.get("lineage", {}), sort_keys=True),
                "finished_at": None,
            }
            for r in rows
        ],
        schema=VALIDATION_STATE,
    ).withColumn("finished_at", F.current_timestamp())
    df.write.mode("append").parquet(state_path(out_dir))


def input_fingerprints(
    snapshot: DataFrame, content_aware: bool = False
) -> dict[str, str]:
    """Per-partition input fingerprint for resume gating.

    Default (cheap): row count + n_tok sum + doc_id hash-sum — one aggregate
    scan, NO token payload read (column pruning keeps the parquet scan to 3
    light columns). LIMITATION: an in-place content-only token corruption
    (same rows, same lengths, same ids — the engine's primary detection
    target) leaves this fingerprint unchanged, so a resumed run skips the
    partition as done. Set ``content_aware=True`` to fold a payload hash
    into the fingerprint (one full payload scan — roughly the cost of the
    validation pass itself); use it when checkpoints must be invalidated by
    silent payload mutation rather than by new/changed rows.

    The content component is ``bit_xor(xxhash64(doc_id, tok_hash))`` with
    ``tok_hash`` being the engine's OWN validation hash of the token array:

    * identity and content are hashed JOINTLY, so a silent cross-row SWAP of
      token payloads within a partition (every per-column aggregate
      unchanged) still changes the fingerprint — a content-only xor
      (``bit_xor(xxhash64(tokens))``) is permutation-blind;
    * the exact same value is derivable from the one-pass plan's written
      identity table (``fingerprints_from_identities``), so a first run
      records content-aware fingerprints with ZERO extra payload scans —
      the validation pass itself is the fingerprint scan.
    """
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.sum("n_tok").alias("s"),
        # xor-fold: order-independent, overflow-free under ANSI mode
        F.expr("bit_xor(xxhash64(doc_id))").alias("h"),
    ]
    src = snapshot
    if content_aware:
        from np_data_validation_spark.functions.hashing import with_tok_hash

        src = with_tok_hash(snapshot)
        aggs.append(F.expr("bit_xor(xxhash64(doc_id, tok_hash))").alias("c"))
    rows = src.groupBy("source").agg(*aggs).collect()
    if content_aware:
        return {r["source"]: f"{r['n']}:{r['s']}:{r['h']}:{r['c']}" for r in rows}
    return {r["source"]: f"{r['n']}:{r['s']}:{r['h']}" for r in rows}


def content_fingerprints(snapshot: DataFrame, partitions: list[str]) -> dict[str, str]:
    """Content-aware fingerprints for a SUBSET of partitions (partition-
    pruned payload scan). Resume gating only re-hashes partitions that have
    a plausible 'done' checkpoint; everything else is validated anyway and
    gets its fingerprint for free from the pair table."""
    sub = snapshot.filter(F.col("source").isin(list(partitions)))
    return input_fingerprints(sub, content_aware=True)


def fingerprints_from_identities(ids: DataFrame) -> dict[str, str]:
    """Post-validation content-aware fingerprints derived from the one-pass
    identity table (doc_id, source, n_tok, tok_hash, s_mult) — ZERO payload
    rescan (round-3 advice: content-aware first runs previously paid two
    full payload scans, one for the fingerprint and one for validation).

    Exactly equals ``input_fingerprints(content_aware=True)`` on the same
    input: a value xor-folded over raw rows equals the xor over identities
    of that value taken when s_mult is ODD (even multiplicities cancel in
    xor; identities sharing a hashed value compose associatively)."""
    mult = F.col("s_mult")
    rows = (
        ids.groupBy("source")
        .agg(
            F.sum(mult).alias("n"),
            F.sum(F.col("n_tok").cast("long") * mult).alias("s"),
            F.expr(
                "bit_xor(CASE WHEN s_mult % 2 = 1 THEN xxhash64(doc_id) ELSE 0L END)"
            ).alias("h"),
            F.expr(
                "bit_xor(CASE WHEN s_mult % 2 = 1"
                " THEN xxhash64(doc_id, tok_hash) ELSE 0L END)"
            ).alias("c"),
        )
        .collect()
    )
    return {r["source"]: f"{r['n']}:{r['s']}:{r['h']}:{r['c']}" for r in rows}


def recorded_lineage(spark: SparkSession, out_dir: str) -> dict[str, dict]:
    """Latest 'done' lineage dict per partition (empty on no/bad state); a
    partition whose lineage does not decode is left out. The resume gate's
    one state read: ``done_partitions`` decides over this dict."""
    rows = read_state(spark, out_dir).filter(F.col("status") == "done").collect()
    out: dict[str, dict] = {}
    for r in rows:
        try:
            out[r["partition"]] = json.loads(r["lineage"] or "{}")
        except json.JSONDecodeError:
            continue
    return out
