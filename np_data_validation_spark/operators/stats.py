"""Per-partition column statistics + HLL sketches + histograms.

North-star surface: min/max/null-rate on n_tok, approx-distinct on doc_id
(HyperLogLog), source/n_tok histograms for drift. Reference anchor for the
tally shape: per-folder sums and counts printed by clear()
(/root/reference/data_validation.py:1150-1165, :1449-1455).

All aggregations here are algebraic (partial + final) so Spark's hash
aggregate does map-side combine before the shuffle: at 10^12 rows the
shuffle carries one partial row per (task x group), not raw rows. Sketches
merge treewise the same way (hll partials -> hll_union_agg final).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Default histogram bucket width for n_tok (tokens). 10^12 rows at
#: lengths <= 64k -> at most ~2k buckets per partition: tiny merge state.
DEFAULT_BUCKET_WIDTH = 32

#: log2(registers) for HLL sketches; 12 -> ~1.6% relative error, 4 KiB.
HLL_LGK = 12


def partition_stats(snapshot: DataFrame, group_col: str = "source") -> DataFrame:
    """One stats row per partition PLUS a global row, in one pass via
    rollup() (grouping-sets; the global row has source = NULL and
    is_global = true)."""
    return (
        snapshot.rollup(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("n_tok").alias("n_tok_min"),
            F.max("n_tok").alias("n_tok_max"),
            F.avg("n_tok").alias("n_tok_avg"),
            F.sum("n_tok").alias("n_tok_sum"),
            F.avg(F.col("n_tok").isNull().cast("int")).alias("n_tok_null_rate"),
            F.avg(F.col("tokens").isNull().cast("int")).alias("tokens_null_rate"),
            F.approx_count_distinct("doc_id", 0.02).alias("doc_id_approx_distinct"),
            (F.grouping(group_col) == 1).alias("is_global"),
        )
    )


def doc_id_sketches(snapshot: DataFrame, group_col: str = "source") -> DataFrame:
    """Per-partition HLL sketch of doc_id (Apache DataSketches via Spark
    3.5+ hll_sketch_agg). Persisted sketches let later runs union new
    partitions without rescanning old ones."""
    return snapshot.groupBy(group_col).agg(
        F.hll_sketch_agg("doc_id", F.lit(HLL_LGK)).alias("doc_id_hll")
    )


def merge_sketches(sketches: DataFrame) -> DataFrame:
    """Treewise merge of per-partition sketches -> global distinct estimate.
    This is the engine's X9 'partial + final aggregation' requirement."""
    return sketches.agg(
        F.hll_sketch_estimate(F.hll_union_agg("doc_id_hll")).alias(
            "doc_id_distinct_global"
        )
    )


def n_tok_histogram(
    snapshot: DataFrame,
    group_col: str | None = "source",
    bucket_width: int = DEFAULT_BUCKET_WIDTH,
) -> DataFrame:
    """Fixed-width histogram of n_tok. Partial per-partition counts merge
    by addition — the treewise-mergeable representation drift.py consumes.

    Null n_tok rows are excluded: a null has no bucket, and a null key never
    equals itself in drift.py's bucket-alignment joins (identical histograms
    would read as drifted). Null *rate* is partition_stats' job.
    """
    bucket = (F.col("n_tok") / F.lit(bucket_width)).cast("long").alias("bucket")
    keys = [bucket] if group_col is None else [F.col(group_col), bucket]
    return (
        snapshot.filter(F.col("n_tok").isNotNull())
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def source_histogram(snapshot: DataFrame) -> DataFrame:
    """Row counts per source — the categorical histogram for drift."""
    return snapshot.groupBy("source").agg(F.count(F.lit(1)).alias("cnt"))
