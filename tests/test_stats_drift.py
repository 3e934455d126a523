"""Stats + drift tests: per-partition stats, HLL sketches, chi2/KS."""

import math

import pytest
from pyspark.sql import functions as F

from np_data_validation_spark.operators import drift as D
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


def test_chi2_math_against_known_values():
    # chi2 sf reference points (R: pchisq(q, df, lower.tail=FALSE))
    assert math.isclose(D.chi2_sf(3.841458820694124, 1), 0.05, rel_tol=1e-6)
    assert math.isclose(D.chi2_sf(18.307038053275146, 10), 0.05, rel_tol=1e-6)
    assert math.isclose(D.chi2_sf(0.0, 5), 1.0)
    assert D.chi2_sf(1000.0, 3) < 1e-10


def test_no_drift_on_identical_distributions(spark, seq_man):
    seq, _, _ = seq_man
    h = S.n_tok_histogram(seq, group_col=None)
    res = D.chi_square_drift(h, h)
    assert res.statistic == pytest.approx(0.0)
    assert res.p_value == pytest.approx(1.0)
    ks = D.ks_drift(h, h)
    assert ks.statistic == pytest.approx(0.0)
    assert not ks.drifted


def test_drift_detected_on_shifted_distribution(spark, seq_man):
    seq, _, _ = seq_man
    h = S.n_tok_histogram(seq, group_col=None)
    shifted = S.n_tok_histogram(
        seq.withColumn("n_tok", F.col("n_tok") + F.lit(200)), group_col=None
    )
    res = D.chi_square_drift(shifted, h)
    assert res.drifted
    ks = D.ks_drift(shifted, h)
    assert ks.drifted
    assert ks.statistic > 0.3


def test_source_histogram_drift(spark, seq_man):
    seq, _, _ = seq_man
    h = S.source_histogram(seq)
    # drop the hot source entirely -> categorical drift
    poisoned = S.source_histogram(seq.filter(F.col("source") != "src_00"))
    res = D.chi_square_drift(poisoned, h, key="source")
    assert res.drifted


def test_psi_zero_on_identical_and_major_on_shift(spark, seq_man):
    seq, _, _ = seq_man
    h = S.n_tok_histogram(seq, group_col=None)
    res = D.psi_drift(h, h)
    assert res.statistic == pytest.approx(0.0)
    assert not res.drifted and D.psi_band(res.statistic) == "stable"
    shifted = S.n_tok_histogram(
        seq.withColumn("n_tok", F.col("n_tok") + F.lit(200)), group_col=None
    )
    res = D.psi_drift(shifted, h)
    assert res.statistic > D.PSI_MAJOR
    assert res.drifted and D.psi_band(res.statistic) == "major"


def test_psi_bands():
    assert D.psi_band(0.05) == "stable"
    assert D.psi_band(0.10) == "moderate"
    assert D.psi_band(0.249) == "moderate"
    assert D.psi_band(0.25) == "major"


def test_psi_spark_numpy_and_duckdb_agree(spark, seq_man):
    """Three-way parity on the SAME merged histograms: the distributed
    plan (psi_statistic_df), the driver-side numpy finish (psi_drift),
    and a DuckDB twin sharing the PSI_FLOOR constant."""
    import duckdb

    seq, _, _ = seq_man
    h = S.n_tok_histogram(seq, group_col=None)
    poisoned = S.n_tok_histogram(
        seq.filter(F.col("n_tok") % 7 != 0), group_col=None
    )
    spark_psi = D.psi_statistic_df(poisoned, h).collect()[0]["psi"]
    numpy_psi = D.psi_drift(poisoned, h).statistic
    o_pdf = poisoned.toPandas()
    e_pdf = h.toPandas()
    con = duckdb.connect()
    con.register("obs", o_pdf)
    con.register("expd", e_pdf)
    duck_psi = con.execute(
        f"""WITH o AS (SELECT bucket, CAST(sum(cnt) AS DOUBLE) o_cnt FROM obs GROUP BY bucket),
             e AS (SELECT bucket, CAST(sum(cnt) AS DOUBLE) e_cnt FROM expd GROUP BY bucket),
             j AS (SELECT coalesce(o_cnt, 0) o_cnt, coalesce(e_cnt, 0) e_cnt
                   FROM o FULL OUTER JOIN e ON o.bucket = e.bucket),
             t AS (SELECT sum(o_cnt) o_tot, sum(e_cnt) e_tot FROM j)
            SELECT sum((greatest(o_cnt / t.o_tot, {D.PSI_FLOOR}) - greatest(e_cnt / t.e_tot, {D.PSI_FLOOR}))
                       * ln(greatest(o_cnt / t.o_tot, {D.PSI_FLOOR}) / greatest(e_cnt / t.e_tot, {D.PSI_FLOOR})))
            FROM j, t"""
    ).fetchone()[0]
    assert spark_psi == pytest.approx(numpy_psi, abs=1e-9)
    assert spark_psi == pytest.approx(duck_psi, abs=1e-9)


def test_psi_statistic_df_empty_side_matches_psi_drift(spark, seq_man):
    """ADVICE r8 drift.py:278 (fixed r9): the distributed PSI must match
    psi_drift's zero-count fallback (PSI 0.0) when either or both sides
    have zero total, instead of floor-driven or NULL values."""
    from np_data_validation_spark.operators import drift as D
    from np_data_validation_spark.operators import stats as S

    seq, _, _ = seq_man
    h = S.n_tok_histogram(seq, group_col=None)
    empty = h.limit(0)
    for obs, exp in ((empty, empty), (empty, h), (h, empty)):
        got = D.psi_statistic_df(obs, exp).collect()[0]["psi"]
        want = D.psi_drift(obs, exp).statistic
        assert got == want == 0.0
