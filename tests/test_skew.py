"""Skew-handling tests: salting determinism, salted-join parity, hot-key
detection, and the one-pass probe's salted join."""

from pyspark.sql import functions as F

from np_data_validation_spark.functions.hashing import with_tok_hash
from np_data_validation_spark.operators import skew
from np_data_validation_spark.plans import onepass


def test_salt_is_deterministic_and_bounded(spark):
    df = spark.createDataFrame(
        [(f"doc_{i}", "src") for i in range(500)], "doc_id string, source string"
    )
    a = skew.with_salt(df, ["doc_id"]).select("doc_id", "_salt").collect()
    b = skew.with_salt(df, ["doc_id"]).select("doc_id", "_salt").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    salts = {r["_salt"] for r in a}
    assert salts <= set(range(skew.DEFAULT_SALT_BUCKETS))
    assert len(salts) >= skew.DEFAULT_SALT_BUCKETS - 2  # spread, not a constant


def test_salted_join_matches_plain_join(spark):
    # hot key: 'k0' appears 1000x on the fact side
    fact = spark.createDataFrame(
        [(f"k{i % 3}" if i % 2 else "k0", i) for i in range(2000)],
        "k string, v int",
    )
    dim = spark.createDataFrame(
        [("k0", "a"), ("k1", "b"), ("k2", "c"), ("k9", "z")], "k string, d string"
    )
    plain = fact.join(dim, "k", "left").select("k", "v", "d")
    salted = skew.salted_join(fact, dim, ["k"], how="left").select("k", "v", "d")
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_inner_join(spark):
    fact = spark.createDataFrame([("a", 1), ("a", 2), ("b", 3)], "k string, v int")
    dim = spark.createDataFrame([("a", 10)], "k string, w int")
    out = skew.salted_join(fact, dim, ["k"], how="inner").collect()
    assert sorted((r["k"], r["v"], r["w"]) for r in out) == [("a", 1, 10), ("a", 2, 10)]


def _hot_dataset(spark, n_rows=1500, hot_copies=400):
    """Snapshot of unique subjects + a manifest where ONE doc_id has
    ``hot_copies`` valid-copy counterparts (the reference's one-big-session
    pathology: a single subject funnels a huge pair group)."""
    rows = [(f"d{i:05d}", [i % 7, i % 11, 5], 3, "src_a") for i in range(n_rows)]
    snap = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string"
    )
    hashed = with_tok_hash(snap).select("doc_id", "source", "n_tok", "tok_hash").collect()
    man_rows = [(r["doc_id"], r["n_tok"], r["tok_hash"], "src_a") for r in hashed]
    hot = hashed[0]
    man_rows += [
        (hot["doc_id"], hot["n_tok"], hot["tok_hash"], f"bak_{j:04d}")
        for j in range(hot_copies)
    ]
    man = spark.createDataFrame(
        man_rows, "doc_id string, n_tok int, tok_hash long, source string"
    )
    return snap, man


def test_detect_hot_keys(spark):
    snap, man = _hot_dataset(spark)
    s1 = onepass.pairs_stage1(snap, man)
    assert skew.detect_hot_keys(s1, ("doc_id", "source"), ratio=4.0, min_hot_rows=50)
    uniform = onepass.pairs_stage1(snap, man.filter(~F.col("source").startswith("bak")))
    assert not skew.detect_hot_keys(
        uniform, ("doc_id", "source"), ratio=4.0, min_hot_rows=50
    )


def _mass_dup_manifest(spark, n_missed=300, hot_copies=500):
    """VERDICT-r3 #3 fixture: every snapshot identity misses stage 1 (no
    doc_id counterparts), and the manifest's content-hash column is skewed —
    ONE tok_hash (mass-duplicated boilerplate) carries ``hot_copies`` rows,
    so the content probe's shuffle join on tok_hash would funnel into one
    reducer without a guard."""
    rows = [(f"m{i:05d}", [1, 2, i], 3, "src_a") for i in range(n_missed)]
    snap = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string"
    )
    hashed = with_tok_hash(snap).select("doc_id", "source", "n_tok", "tok_hash").collect()
    boiler = next(r["tok_hash"] for r in hashed if r["doc_id"] == "m00000")
    # renamed content counterparts for half the misses + the hot boilerplate
    man_rows = [
        (f"r{i:05d}", r["n_tok"], r["tok_hash"], "src_b")
        for i, r in enumerate(sorted(hashed, key=lambda r: r["doc_id"]))
        if i % 2 == 0
    ]
    man_rows += [(f"b{j:05d}", 3, boiler, "src_b") for j in range(hot_copies)]
    man = spark.createDataFrame(
        man_rows, "doc_id string, n_tok int, tok_hash long, source string"
    )
    return snap, man


def test_probe_manifest_hot_detection(spark):
    """The scale-free bucket probe sees the mass-duplicated manifest hash."""
    snap, man = _mass_dup_manifest(spark)
    assert skew.detect_hot_keys(
        man.select("tok_hash"), ("tok_hash",), ratio=4.0, min_hot_rows=50
    )
    cold = man.filter(~F.col("doc_id").startswith("b"))
    assert not skew.detect_hot_keys(
        cold.select("tok_hash"), ("tok_hash",), ratio=4.0, min_hot_rows=50
    )


def test_probe_manifest_salting_matches_plain(spark, tmp_path):
    """Salted probe join (manifest = salted fact side, missed side
    replicated) is row-for-row identical to the plain shuffle join."""
    from np_data_validation_spark.operators import verdicts as V

    snap, man = _mass_dup_manifest(spark)
    s1_path = str(tmp_path / "s1")
    onepass.pairs_stage1(snap, man).write.parquet(s1_path)
    s1 = spark.read.parquet(s1_path)
    forced = V.PROBE_BROADCAST_MAX + 1  # force the shuffle branch
    salted, sflag = onepass.probe_pairs_from(s1, man, n_miss=forced, manifest_hot=True)
    plain, pflag = onepass.probe_pairs_from(s1, man, n_miss=forced, manifest_hot=False)
    assert sflag and not pflag
    key = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    assert key(salted) == key(plain)
