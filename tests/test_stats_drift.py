"""Stats tests: per-partition stats, HLL sketches, n_tok histograms. The
drift statistics are checked against DuckDB by the drift_chi2_statistic
and drift_ks_statistic driver oracles."""

from pyspark.sql import functions as F

from np_data_validation_spark.operators import stats as S


def test_partition_stats(seq_man, seq_onepass):
    _, _, labels = seq_man
    pdf = seq_onepass.stats.toPandas()
    glob = pdf[pdf["is_global"]]
    per = pdf[~pdf["is_global"]].set_index("source")
    assert len(glob) == 1
    assert int(glob["n_rows"].iloc[0]) == sum(per["n_rows"])
    # hot-source skew is present in the fixture
    assert per["n_rows"].max() > 4 * per["n_rows"].min()
    counts = labels.groupby("source").size()
    dups = (
        labels[labels["case"].isin(["duplicate", "duplicate_mixed"])]
        .groupby("source")
        .size()
    )
    for src in counts.index:
        want = counts[src] + (dups.get(src, 0))
        assert per.loc[src, "n_rows"] == want
    # approx distinct within HLL tolerance
    got = int(glob["doc_id_approx_distinct"].iloc[0])
    true = labels["doc_id"].nunique()
    assert abs(got - true) / true < 0.05


def test_hll_sketch_merge(seq_man):
    seq, _, labels = seq_man
    sketches = S.doc_id_sketches(seq)
    assert sketches.count() == labels["source"].nunique()
    est = S.merge_sketches(sketches).collect()[0]["doc_id_distinct_global"]
    true = labels["doc_id"].nunique()
    assert abs(est - true) / true < 0.05


def test_histograms_merge_to_total(seq_man):
    seq, _, _ = seq_man
    per_src = S.n_tok_histogram(seq, group_col="source")
    total_from_parts = per_src.agg(F.sum("cnt")).collect()[0][0]
    # nulls are excluded from the histogram (no bucket; rate tracked in
    # the one-pass stats)
    assert total_from_parts == seq.filter(F.col("n_tok").isNotNull()).count()
    glob = S.n_tok_histogram(seq, group_col=None)
    assert glob.agg(F.sum("cnt")).collect()[0][0] == total_from_parts
