"""Driver-contract sanity: every query runs at sf0.001, oracles are valid
DuckDB SQL, and a sampled subset value-matches (the full sweep lives in
tools/check_oracles.py and the driver's own gate)."""

import hashlib
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(__file__)))

import __spark_entry__ as entrymod  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def _value_hash(df):
    cols = sorted(df.columns)
    rows = sorted(
        tuple(str(v) for v in row)
        for row in df[cols].itertuples(index=False, name=None)
    )
    h = hashlib.sha256()
    for r in rows:
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert "verdict_code" in df.columns


def test_every_query_runs(spark):
    qs = entrymod.queries()
    assert len(qs) >= 25
    for name, fn in qs.items():
        df = fn(spark, SF_DIR)
        assert df.columns, name
        df.limit(5).collect()  # executes the plan


def test_oracle_keys_subset_of_queries():
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    assert set(oracles) <= set(qs)
    # the vast majority of queries must be value-checked
    assert len(oracles) >= 0.8 * (len(qs) - 3)


SAMPLED = [
    "flagship_verdict_counts",
    "j1_keyed_lookup_join",
    "a4_rollup_stats",
    "tx_fingerprints",
    "dd_exact_dup_groups",
    "sim_cosine_topk",
]


@pytest.mark.parametrize("name", SAMPLED)
def test_sampled_value_parity(spark, duck, name):
    sdf = entrymod.queries()[name](spark, SF_DIR).toPandas()
    odf = duck.execute(entrymod.oracle_sql()[name]).df()
    assert len(sdf) == len(odf), name
    assert sorted(sdf.columns) == sorted(odf.columns), name
    assert _value_hash(sdf) == _value_hash(odf), name


def test_schema_memo_sees_rewritten_table(spark, tmp_path):
    """A table rewritten in-process with a changed schema is read back
    with the NEW schema, not the memoized one."""
    from np_data_validation_spark import queries as Q

    sf = str(tmp_path)
    path = f"{sf}/t.parquet"
    spark.createDataFrame([(1,)], "a long").write.parquet(path)
    assert Q._t(spark, sf, "t").columns == ["a"]
    spark.createDataFrame([(1, "x")], "a long, b string").write.mode(
        "overwrite"
    ).parquet(path)
    assert Q._t(spark, sf, "t").columns == ["a", "b"]
