"""Incremental validation over a landing directory via Structured Streaming.

The reference is batch-with-resume (SURVEY.md §2.10) — its closest streaming
analog is "new session folders appear; validate the new ones". Here that is
a file-source stream + ``foreachBatch`` reusing the exact batch plan
(plans.onepass — same verdict CASE, same violation extraction as batch), so
streaming and batch share one code path.

Delivery semantics: Spark's streaming checkpoint gives foreachBatch
AT-LEAST-ONCE invocation — a micro-batch whose sink write succeeded but
whose offset commit crashed is re-invoked with the SAME batch_id. The sink
below is therefore made idempotent by partitioning output on batch_id and
replacing the batch's partition the way a batch run replaces its sources
(plans.checkpoint.replace_partitions: clear ``_batch_id=<id>``, then
append): a replayed batch replaces its own partition instead of appending
duplicates, and no other batch's, yielding effective exactly-once per
micro-batch file set. The one-pass plan writes its scratch pair table
under a batch_id-scoped dir that is DELETED once the batch's sink writes
commit (a replayed batch simply recreates it — overwrite-idempotent), and
holds no caches, so a long-running stream accumulates storage neither on
executors nor on the output filesystem.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from np_data_validation_spark.plans import checkpoint as CP
from np_data_validation_spark.plans.onepass import validate_onepass
from np_data_validation_spark.schema import SEQUENCES


def validate_stream(
    spark: SparkSession,
    landing_dir: str,
    manifest: DataFrame,
    out_dir: str,
    max_files_per_trigger: int | None = None,
):
    """Start a streaming validation of parquet files arriving in
    ``landing_dir``; verdicts and violations land under ``out_dir``,
    partitioned by ``_batch_id`` (idempotent re-delivery, see module doc).
    The availableNow trigger drains what has landed, then the query stops.
    Returns the StreamingQuery (caller awaits/stops)."""
    reader = spark.readStream.schema(SEQUENCES)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(landing_dir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        work = os.path.join(out_dir, "_work", f"batch={batch_id}")
        res = validate_onepass(spark, batch_df, manifest, work)
        for df, name in ((res.rolled, "verdicts"), (res.violations, "violations")):
            CP.replace_partitions(
                spark,
                df.withColumn("_batch_id", F.lit(batch_id)),
                os.path.join(out_dir, name),
                "_batch_id",
                [batch_id],
            )
        # scratch reclaim AFTER both sink writes committed: a crash before
        # this point replays the batch (which recreates the dir, overwrite-
        # idempotent); without it a long-running stream grows _work forever.
        CP.delete_dir(spark, work)

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(out_dir, "_stream_checkpoint"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
