"""Distribution-drift statistics: chi-square + KS, merged treewise.

Strategy (SURVEY.md §7.1 step 5, hard part 3): exact KS needs a global
sort — a non-starter at 10^12 rows. Both statistics therefore run on
*merged fixed-width histograms* (a ``bucket`` and a ``cnt`` column, e.g.
stats.n_tok_histogram): partial per-partition counts (map-side
combined) are summed into k-bucket tables (k is tiny), aligned by a join
and reduced to one scalar, all in-plan — no driver collect. The KS
statistic computed from a histogram ECDF under-estimates the true D by at
most the largest single-bucket probability mass — documented
approximation, tighten by shrinking bucket_width. The driver's
``drift_chi2_statistic`` and ``drift_ks_statistic`` queries check both
against DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _merge_counts(hist: DataFrame) -> DataFrame:
    """Sum partial counts per bucket — the final stage of the treewise
    merge (partials were map-side combined inside groupBy already)."""
    return hist.groupBy("bucket").agg(F.sum("cnt").alias("cnt"))


def chi_square_statistic_df(
    observed: DataFrame, expected: DataFrame
) -> DataFrame:
    """Pearson chi-square of ``observed`` vs ``expected`` histograms, fully
    distributed (no driver collect): merge partial histograms, align on the
    expected side's buckets (counts scaled to the observed total), one
    scalar agg. Observed mass in a bucket the expected side lacks is
    dropped, keeping the statistic defined."""
    o = _merge_counts(observed).withColumnRenamed("cnt", "o_cnt")
    e = _merge_counts(expected).withColumnRenamed("cnt", "e_cnt")
    j = e.join(o, "bucket", "left").select(
        F.coalesce("o_cnt", F.lit(0)).cast("double").alias("o_cnt"),
        F.col("e_cnt").cast("double").alias("e_cnt"),
    )
    totals = j.agg(
        F.sum("o_cnt").alias("o_tot"), F.sum("e_cnt").alias("e_tot")
    )
    return (
        j.crossJoin(F.broadcast(totals))
        .select(
            (
                F.pow(F.col("o_cnt") - F.col("e_cnt") * (F.col("o_tot") / F.col("e_tot")), 2)
                / (F.col("e_cnt") * (F.col("o_tot") / F.col("e_tot")))
            ).alias("term")
        )
        .agg(F.sum("term").alias("chi2"))
    )


def ks_statistic_df(
    observed: DataFrame, expected: DataFrame
) -> DataFrame:
    """Distributed KS statistic from histogram ECDFs (running-sum window
    over the tiny merged bucket table)."""
    o = _merge_counts(observed).withColumnRenamed("cnt", "o_cnt")
    e = _merge_counts(expected).withColumnRenamed("cnt", "e_cnt")
    j = e.join(o, "bucket", "full_outer").select(
        F.col("bucket"),
        F.coalesce("o_cnt", F.lit(0)).cast("double").alias("o_cnt"),
        F.coalesce("e_cnt", F.lit(0)).cast("double").alias("e_cnt"),
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    totals = j.agg(F.sum("o_cnt").alias("o_tot"), F.sum("e_cnt").alias("e_tot"))
    return (
        j.withColumn("o_cum", F.sum("o_cnt").over(w))
        .withColumn("e_cum", F.sum("e_cnt").over(w))
        .crossJoin(F.broadcast(totals))
        .select(
            F.abs(F.col("o_cum") / F.col("o_tot") - F.col("e_cum") / F.col("e_tot")).alias("d")
        )
        .agg(F.max("d").alias("ks"))
    )
