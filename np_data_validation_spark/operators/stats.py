"""HLL sketches + histograms for per-partition statistics and drift.

North-star surface: approx-distinct on doc_id (HyperLogLog) and n_tok
histograms for drift. The per-partition min/max/avg/null-rate row is
computed by the one-pass plan from its written identities
(plans.onepass.stats_from_identities). Reference anchor for the tally
shape: per-folder sums and counts printed by clear()
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


def doc_id_sketches(snapshot: DataFrame) -> DataFrame:
    """Per-source HLL sketch of doc_id (Apache DataSketches via Spark
    3.5+ hll_sketch_agg). Persisted sketches let later runs union new
    partitions without rescanning old ones."""
    return snapshot.groupBy("source").agg(
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
    would read as drifted). Null *rate* is a column of the one-pass stats
    (plans.onepass.stats_from_identities).
    """
    bucket = (F.col("n_tok") / F.lit(bucket_width)).cast("long").alias("bucket")
    keys = [bucket] if group_col is None else [F.col(group_col), bucket]
    return (
        snapshot.filter(F.col("n_tok").isNotNull())
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
