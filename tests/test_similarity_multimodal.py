"""Cosine similarity tests."""

import pytest
from pyspark.sql import functions as F

from np_data_validation_spark.operators import similarity as SIM

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def test_cosine_expr(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0], [1.0, 0.0]), ([1.0, 0.0], [0.0, 1.0]), ([1.0, 2.0], [2.0, 4.0])],
        "a array<double>, b array<double>",
    )
    got = [r[0] for r in df.select(SIM.cosine_expr("a", "b")).collect()]
    assert got[0] == pytest.approx(1.0)
    assert got[1] == pytest.approx(0.0)
    assert got[2] == pytest.approx(1.0)


def test_brute_force_topk(emb):
    queries = emb.filter(F.col("vec_id") < 3)
    out = SIM.brute_force_topk(emb, queries, k=5).toPandas()
    assert set(out["query_id"]) == {0, 1, 2}
    for q in (0, 1, 2):
        sub = out[out["query_id"] == q].sort_values("rank")
        assert list(sub["rank"]) == [1, 2, 3, 4, 5]
        assert sub["cosine"].is_monotonic_decreasing
        assert q not in set(sub["neighbor_id"])


def test_embedding_near_dups(spark, emb):
    # plant two exact duplicates
    dup = emb.filter(F.col("vec_id").isin([0, 1])).withColumn(
        "vec_id", F.col("vec_id") + 10000
    )
    aug = emb.unionByName(dup)
    brute = SIM.embedding_near_dups(aug, threshold=0.999).toPandas()
    pairs = set(zip(brute["id_a"], brute["id_b"]))
    assert (0, 10000) in pairs and (1, 10001) in pairs
    assert (brute["cosine"] >= 0.999).all()
    assert (brute["id_a"] < brute["id_b"]).all()
