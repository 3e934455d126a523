"""Text analysis + dedup operators on the documents table."""

import pytest
from pyspark.sql import functions as F

from np_data_validation_spark.functions import text as TX
from np_data_validation_spark.operators import dedup as DD

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def test_text_functions_shapes(spark, docs):
    out = docs.select(
        TX.ws_token_count("text").alias("wt"),
        TX.regex_token_count().alias("rt"),
        TX.punct_ratio("text").alias("pr"),
        TX.stopword_ratio("text").alias("sr"),
        TX.quality_score("text").alias("q"),
        TX.lang_id("text").alias("lid"),
        TX.doc_fingerprint().alias("fp"),
    ).toPandas()
    assert (out["wt"] > 0).all()
    assert (out["rt"] >= out["wt"]).all()  # regex splits punctuation out
    assert out["pr"].between(0, 1).all()
    assert out["q"].between(0, 1).all()
    assert set(out["lid"]) <= {"en", "de", "es", "fr", "und"}
    assert out["fp"].nunique() > len(out) * 0.9


def test_lang_id_on_clear_samples(spark):
    df = spark.createDataFrame(
        [
            ("the cat is in the house and it is warm",),
            ("der hund ist nicht in das haus und die katze",),
            ("el perro es que la casa y los gatos",),
            ("le chien est dans les maisons et une chatte",),
            ("zzz qqq xxx",),
        ],
        "text string",
    )
    got = [r[0] for r in df.select(TX.lang_id("text")).collect()]
    assert got == ["en", "de", "es", "fr", "und"]


def _with_dups(docs):
    """documents plus mutated copies of every 20th doc (near-dups) and
    verbatim copies of every 50th (exact dups)."""
    near = (
        docs.filter(F.col("doc_id") % 20 == 0)
        .withColumn("doc_id", F.col("doc_id") + 100000)
        .withColumn("text", F.expr("substr(text, 6)"))
    )
    exact = docs.filter(F.col("doc_id") % 50 == 0).withColumn(
        "doc_id", F.col("doc_id") + 200000
    )
    return docs.unionByName(near).unionByName(exact)


def test_minhash_lsh_finds_near_dups(docs):
    aug = _with_dups(docs)
    cand = DD.minhash_lsh_candidates(aug).toPandas()
    # every exact dup pair must be found (identical signatures)
    n_exact = docs.filter(F.col("doc_id") % 50 == 0).count()
    exact_pairs = {
        (i, i + 200000)
        for i in [r[0] for r in docs.filter(F.col("doc_id") % 50 == 0).select("doc_id").collect()]
    }
    found = set(zip(cand["doc_a"], cand["doc_b"]))
    assert exact_pairs <= found
    # most near-dup pairs (5-char prefix removed) should be found
    near_ids = [r[0] for r in docs.filter(F.col("doc_id") % 20 == 0).select("doc_id").collect()]
    near_pairs = {(i, i + 100000) for i in near_ids}
    recall = len(near_pairs & found) / len(near_pairs)
    assert recall >= 0.8, f"near-dup recall {recall}"


def test_jaccard_verify(spark, docs):
    aug = _with_dups(docs)
    cand = DD.minhash_lsh_candidates(aug)
    verified = DD.jaccard_pairs(aug, cand, threshold=0.9).toPandas()
    pairs = set(zip(verified["doc_a"], verified["doc_b"]))
    # exact dups have jaccard 1.0 and survive the verify
    for i in [r[0] for r in docs.filter(F.col("doc_id") % 50 == 0).select("doc_id").collect()]:
        assert (i, i + 200000) in pairs
    assert (verified["jaccard"] >= 0.9).all()


def test_simhash_value_stability(spark):
    df = spark.createDataFrame([("hello world foo bar",)], "text string")
    a = df.select(DD.simhash_expr().alias("s")).collect()[0]["s"]
    b = df.select(DD.simhash_expr().alias("s")).collect()[0]["s"]
    assert a == b
    assert 0 <= a < 2**32


def test_contamination_overlap_planted(spark):
    """contamination_overlap flags exactly the corpus docs sharing a word
    4-gram with the benchmark set; n_matched counts DISTINCT shared n-grams
    (repeats inside one doc count once)."""
    bench = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon")], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [
            # shares 2 distinct 4-grams (the two windows of the leaked span)
            (10, "xx alpha beta gamma delta epsilon yy"),
            # shares 1 distinct 4-gram, REPEATED — must count once
            (11, "alpha beta gamma delta zz alpha beta gamma delta"),
            # shares words but no 4-word window
            (12, "alpha beta zz gamma delta"),
            # shorter than n words
            (13, "alpha beta"),
            (14, "totally unrelated text about something else entirely ok"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["n_shingles"], r["n_matched"])
        for r in DD.contamination_overlap(corpus, bench).collect()
    }
    assert set(out) == {10, 11}
    assert out[10] == (4, 2)   # 4 windows in a 7-word doc, 2 leaked
    assert out[11][1] == 1     # repeated leak counts once


def test_word_ngram_hashes_short_and_null_docs(spark):
    df = spark.createDataFrame(
        [("a b c",), (None,), ("",), ("one two three four",)], "text string"
    )
    got = df.select(DD.word_ngram_hashes().alias("g")).collect()
    assert [len(r["g"]) if r["g"] is not None else None for r in got] == [0, 0, 0, 1]


def test_ensure_cpu_splits_guard(spark):
    """Undersplit guard: a 1-partition input is exchanged up to the
    session's default parallelism; an input already at or above it is
    returned untouched (no extra shuffle at production split counts)."""
    par = spark.sparkContext.defaultParallelism
    small = spark.range(100).coalesce(1)
    assert DD.ensure_cpu_splits(small).rdd.getNumPartitions() == par
    big = spark.range(100).repartition(par + 2)
    assert DD.ensure_cpu_splits(big) is big


def test_repetition_ratio_planted(spark):
    """4 of 7 trigrams in the looping doc repeat an earlier one; clean,
    short, and null docs all read 0.0."""
    df = spark.createDataFrame(
        [("a b c a b c a b c",), ("one two three four",), ("x y",), (None,)],
        "text string",
    )
    got = [r[0] for r in df.select(TX.repetition_ratio("text").alias("r")).collect()]
    assert got[0] == pytest.approx(4 / 7)
    assert got[1:] == [0.0, 0.0, 0.0]


def test_hash_sample_predicate_rate_and_determinism(spark):
    df = spark.range(20000).withColumnRenamed("id", "doc_id")
    kept = df.filter(TX.hash_sample_predicate("doc_id", 250000)).count()
    assert abs(kept / 20000 - 0.25) < 0.02  # hits the requested rate
    pick = lambda salt: sorted(
        r[0] for r in df.filter(
            TX.hash_sample_predicate("doc_id", 250000, salt=salt)
        ).limit(20000).collect()
    )
    a, b, c = pick("s1"), pick("s1"), pick("s2")
    assert a == b          # pure function of (key, salt): re-runs agree
    assert a != c          # rotating the salt draws a different sample


def test_hash_sample_sql_twin_escapes_salt(spark):
    """The SQL twin interpolates the salt into a string literal; a salt
    containing a quote must still produce the same rows as the Spark side
    (unescaped it is a DuckDB syntax error)."""
    import duckdb

    salt = "o'brien"
    pred = TX.hash_sample_predicate_sql("doc_id", "250000", salt=salt)
    con = duckdb.connect()
    kept_sql = {
        r[0]
        for r in con.execute(
            "SELECT doc_id FROM (SELECT unnest(generate_series(0, 999)) AS doc_id) t"
            f" WHERE {pred}"
        ).fetchall()
    }
    df = spark.range(1000).withColumnRenamed("id", "doc_id")
    kept_spark = {
        r[0]
        for r in df.filter(
            TX.hash_sample_predicate("doc_id", 250000, salt=salt)
        ).collect()
    }
    assert kept_sql == kept_spark and kept_sql


def test_pii_counts_planted_variety(spark):
    df = spark.createDataFrame(
        [
            ("mail A@B.co and c.d+x@e-f.org today",),       # 2 emails (case-folded)
            ("call 555-123-4567 or 555.987.6543 now",),     # 2 phones, both separators
            ("version 1.2.3.4 build 123-45-678",),          # neither pattern
            (None,),
        ],
        "text string",
    )
    got = [
        (r["e"], r["p"])
        for r in df.select(
            TX.pii_email_count("text").alias("e"), TX.pii_phone_count("text").alias("p")
        ).collect()
    ]
    assert got == [(2, 0), (0, 2), (0, 0), (None, None)]


def test_word_ngrams_cross_engine_tricky_strings(spark):
    """The shared word-ngram construction must agree between engines on
    inputs the clean synthetic corpus never exercises: collapsed
    whitespace, case folding, punctuation-only, non-ASCII letters
    (excluded from [a-z0-9] identically by Java regex and RE2), empty and
    null text, and the exact-n boundary."""
    import duckdb

    rows = [
        "Tabs\tand\nnewlines  COLLAPSE here",
        "punct, only!!! ...",
        "ünicode wörds split on marks",
        "",
        None,
        "a b c",       # exactly n words -> one gram
        "a b",         # under n -> empty
    ]
    df = spark.createDataFrame([(t,) for t in rows], "text string")
    got = [r["g"] for r in df.select(TX.word_ngrams("text", 3).alias("g")).collect()]
    con = duckdb.connect()
    sql = TX.word_ngrams_sql("text", 3)
    orows = [
        r[0]
        for r in con.execute(
            f"SELECT {sql} FROM (SELECT unnest($1::VARCHAR[]) AS text) t", [rows]
        ).fetchall()
    ]
    # exact comparison, NO None-vs-[] normalization: the SQL twin pins the
    # NULL-text case to [] with an outer coalesce (ADVICE r7 text.py:236),
    # so a real NULL-vs-empty divergence between the engines must FAIL here
    assert [list(g) for g in got] == [list(o) for o in orows]
    assert list(got[4]) == []  # NULL text -> [] on BOTH sides
    assert list(got[5]) == ["a b c"] and list(got[6]) == []


# --- transitive near-dup clustering (VERDICT r7 task #2) --------------------


#: both CC execution paths: 0 forces the pure alternating-star fixpoint
#: (every round shuffles), the default hits the executor-side union-find
#: finisher immediately at test scale — results must be identical.
CC_PATHS = [0, DD.CC_LOCAL_EDGE_THRESHOLD]


@pytest.mark.parametrize("cc_thresh", CC_PATHS)
def test_connected_components_chain_and_islands(spark, cc_thresh):
    """A 16-hop chain (forces multiple alternating-star rounds) plus a
    separate 2-node island must resolve to exactly two clusters, each
    labeled with its minimum id."""
    chain = [(i, i + 1) for i in range(100, 116)]
    pairs = spark.createDataFrame(
        chain + [(5, 7)], "doc_a long, doc_b long"
    )
    out = {
        r["doc_id"]: (r["cluster_rep"], r["keep"])
        for r in DD.cluster_keep_one(
            pairs, local_edge_threshold=cc_thresh
        ).collect()
    }
    assert set(out) == set(range(100, 117)) | {5, 7}
    for i in range(100, 117):
        assert out[i] == (100, 1 if i == 100 else 0)
    assert out[5] == (5, 1) and out[7] == (5, 0)
    # exactly one keep per cluster
    assert sum(k for _, k in out.values()) == 2


@pytest.mark.parametrize("cc_thresh", CC_PATHS)
def test_connected_components_empty_pairs(spark, cc_thresh):
    pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    assert (
        DD.cluster_keep_one(pairs, local_edge_threshold=cc_thresh).count() == 0
    )


def test_cluster_keep_one_transitive_3hop_docs(spark):
    """The 3-hop document chain A~B~C: B bridges two disjoint-alphabet
    texts, so Jaccard(A,B) and Jaccard(B,C) pass the threshold while A
    and C share NO shingles (their alphabets are disjoint, so no 5-gram
    can match). Only transitive closure puts all three in one cluster —
    a pairwise-only dedup provably cannot."""
    text_a = "abcde fghij klmab cdefg hijkl mabcd efghi jklma"
    text_c = "nopqr stuvw xyzno pqrst uvwxy znopq rstuv wxyzn"
    rows = [(1, text_a), (2, text_a + " " + text_c), (3, text_c), (4, "qqqq1 qqqq2")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sh = {
        r["doc_id"]: set(r["sh"])
        for r in docs.select("doc_id", DD.shingle_expr().alias("sh")).collect()
    }
    assert not (sh[1] & sh[3]), "A and C must share no shingles"
    cand = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3)], "doc_a long, doc_b long"
    )
    verified = DD.jaccard_pairs(docs, cand, threshold=0.4)
    got_pairs = {(r["doc_a"], r["doc_b"]) for r in verified.collect()}
    assert got_pairs == {(1, 2), (2, 3)}  # the direct A~C pair fails (J=0)
    out = {
        r["doc_id"]: (r["cluster_rep"], r["keep"])
        for r in DD.cluster_keep_one(verified).collect()
    }
    assert out == {1: (1, 1), 2: (1, 0), 3: (1, 0)}


@pytest.mark.parametrize("cc_thresh", CC_PATHS)
def test_cluster_keep_one_matches_duckdb_recursive_cte(spark, cc_thresh):
    """Cross-engine parity on an irregular pair set: both CC paths must
    agree with DuckDB's recursive-CTE transitive closure."""
    import duckdb

    pairs = [(1, 9), (9, 4), (4, 12), (20, 21), (21, 20), (30, 31), (31, 32), (7, 7)]
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    got = sorted(
        (r["doc_id"], r["cluster_rep"], r["keep"])
        for r in DD.cluster_keep_one(df, local_edge_threshold=cc_thresh).collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE p (doc_a BIGINT, doc_b BIGINT)")
    con.executemany("INSERT INTO p VALUES (?, ?)", pairs)
    want = sorted(
        tuple(r)
        for r in con.execute(
            DD.cluster_keep_one_sql("SELECT doc_a, doc_b FROM p")
        ).fetchall()
    )
    # shared contract: both sides emit every node that appears in a
    # NON-self pair (the self-loop-only node 7 is emitted by neither;
    # production pair generators emit doc_a < doc_b, so self-pairs are
    # an input anomaly, not a cluster)
    assert all(n != 7 for n, _, _ in got)
    assert got == [(a, b, int(k)) for a, b, k in want]


def test_connected_components_hybrid_midflight(spark):
    """The hybrid boundary itself: a dense blob (K6, 15 edges) above the
    threshold forces >= 1 alternating-star round, whose contraction
    (K6 -> 5-edge star) then drops the count UNDER the threshold so the
    executor-side finisher takes over mid-flight. Results must match the
    closed form."""
    import itertools

    k6 = list(itertools.combinations(range(10, 16), 2))  # 15 edges
    df = spark.createDataFrame(k6 + [(1, 2)], "doc_a long, doc_b long")
    out = {
        r["doc_id"]: (r["cluster_rep"], r["keep"])
        for r in DD.cluster_keep_one(df, local_edge_threshold=8).collect()
    }
    want = {n: (10, int(n == 10)) for n in range(10, 16)}
    want.update({1: (1, 1), 2: (1, 0)})
    assert out == want


@pytest.mark.parametrize("seed", [11, 23, 47])
@pytest.mark.parametrize("cc_thresh", CC_PATHS)
def test_connected_components_random_vs_union_find(spark, seed, cc_thresh):
    """Randomized equivalence: both CC paths (star fixpoint and the
    executor-side union-find finisher) must match a plain union-find on
    arbitrary graph shapes — sparse edges, a dense blob, and a hub star
    in one pair set (star contraction bugs tend to hide in exactly one
    of those shapes)."""
    import random

    rng = random.Random(seed)
    edges = set()
    # sparse random edges over a 120-node id space (leaves singletons out)
    edges |= {tuple(sorted(rng.sample(range(120), 2))) for _ in range(60)}
    # dense blob on 10 ids
    blob = rng.sample(range(200, 240), 10)
    edges |= {tuple(sorted(rng.sample(blob, 2))) for _ in range(25)}
    # hub star: one high-degree node (the skew case large-star handles)
    hub = 500
    edges |= {(hub, 600 + i) for i in range(30)}

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {x: find(x) for x in parent}

    df = spark.createDataFrame(sorted(edges), "doc_a long, doc_b long")
    got = {
        r["doc_id"]: (r["cluster_rep"], r["keep"])
        for r in DD.cluster_keep_one(df, local_edge_threshold=cc_thresh).collect()
    }
    assert set(got) == set(want)
    for x, rep in want.items():
        assert got[x] == (rep, int(x == rep)), f"node {x}"


# ---------------------------------------------------------------------------
# dedup_corpus: the end-to-end production dedup stage
# ---------------------------------------------------------------------------

#: ~50 words, so a 5-char prefix cut leaves char-5-gram Jaccard ~0.97 —
#: high enough that all 4 LSH bands agree deterministically
_LONG = " ".join(f"tok{i:02d} filler words here" for i in range(12))


def test_dedup_corpus_stage_labels(spark):
    """Exact dups drop first ('exact'), near-dups of the surviving
    representative drop second ('near'), uniques keep — including the
    subtle case of an exact dup OF a near-dup (doc 5): it must be labeled
    'exact' (dropped by the cheap pre-pass), while its survivor (doc 3)
    is the one the near stage sees and drops."""
    rows = [
        (1, _LONG),
        (2, _LONG),            # exact dup of 1
        (3, _LONG[5:]),        # near dup of 1
        (5, _LONG[5:]),        # exact dup of 3 (itself a near dup)
        (4, "completely unrelated zebra quartz jumble vortex"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["drop_stage"]
        for r in DD.dedup_corpus(docs, max_bucket=None).collect()
    }
    assert got == {1: "keep", 2: "exact", 3: "near", 4: "keep", 5: "exact"}


def test_dedup_corpus_matches_duckdb_twin(spark):
    """Cross-engine parity of the full composed pipeline (fingerprint
    window -> survivor set -> LSH pairs -> Jaccard verify -> recursive
    closure -> stage labels) on a mixed fixture. Both engines build every
    stage from the shared constants, so a drift in ANY stage (including
    LSH candidate generation, which need not have perfect recall — only
    cross-engine equality) fails here."""
    import duckdb

    from np_data_validation_spark.queries import _verified_pairs_sql

    rows = [
        (1, _LONG),
        (2, _LONG),
        (3, _LONG[5:]),
        (5, _LONG[5:]),
        (4, "completely unrelated zebra quartz jumble vortex"),
        (9, "another singleton text about rivers and maps"),
        (10, "another singleton text about rivers and maps"),  # exact of 9
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        (r["doc_id"], r["drop_stage"])
        for r in DD.dedup_corpus(docs, max_bucket=None).collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE d (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO d VALUES (?, ?)", rows)
    want = sorted(
        tuple(r)
        for r in con.execute(
            DD.dedup_corpus_sql(
                "SELECT doc_id, text FROM d",
                _verified_pairs_sql("SELECT doc_id, text FROM surv"),
            )
        ).fetchall()
    )
    assert got == want
    assert dict(want)[10] == "exact"


# ---------------------------------------------------------------------------
# prepare_corpus: the full composed corpus-preparation pipeline
# ---------------------------------------------------------------------------

#: funnel-passing English fixtures (>=100 chars, >=20 tokens,
#: stopword-rich, low punct/digit/repetition); BASE/EV/UNIQ share ZERO
#: word 4-grams pairwise (checked offline), so contamination can only
#: come from the planted leak
_PC_BASE = (
    "the quick brown fox jumps over a lazy dog and it is said that every "
    "word of this long winding sentence keeps to the point and it is the "
    "case that the text reads well and the quality of it is high in all "
    "of the ways that matter to the filter"
)
_PC_EV = (
    "a small boat sails on the wide river while the wind from the north is "
    "cold for the crew that it carries and the water stays calm as the sky "
    "of the evening turns red above that quiet place where the lanterns "
    "glow warm against the coming night"
)
_PC_UNIQ = (
    "in the garden of the old stone house the children played a game that "
    "no one of them had ever lost and it was the kind of day that seems "
    "to last forever with the sun warm in the branches and the sound of "
    "the bells faint over the hill"
)

_PC_ROWS = [
    (1, _PC_BASE),  # dedup cluster rep -> reaches sampling
    (2, _PC_BASE),  # exact dup of 1
    (3, _PC_BASE[5:]),  # near dup of 1 (char-5-gram jaccard ~0.99)
    (4, "zzz qqq vvv kkk www yyy hhh jjj"),  # no stopwords -> 'lang'
    (5, "the cat is in it"),  # en but 5 tokens -> 'short'
    (6, _PC_BASE + " contact me at bob@example.com"),  # 'pii' BEFORE dedup
    (7, _PC_EV[10:]),  # eval leak -> 'contaminated'
    (8, _PC_EV[10:]),  # exact dup OF a leak -> still 'contaminated'
    (9, ("the fox ran fast " * 15).strip()),  # 'repetition' (ratio ~0.93)
    (10, _PC_UNIQ),  # independent keeper -> reaches sampling
]


def test_prepare_corpus_stage_semantics(spark):
    """Every disposition class lands on its planted doc, in the contract
    stage order: doc 6 is BOTH a PII doc and a would-be near-dup of 1 and
    must be charged 'pii' (funnel runs first); docs 7/8 are identical
    leaks and BOTH read 'contaminated' (decontamination runs before the
    exact pass, so neither is 'exact'); sampling (500000 ppm, salt '')
    deterministically drops doc 1 and keeps doc 10 (md5 predicate
    computed offline) and only ever applies to dedup survivors."""
    docs = spark.createDataFrame(_PC_ROWS, "doc_id long, text string")
    ev = spark.createDataFrame([(100, _PC_EV)], "doc_id long, text string")
    got = {
        r["doc_id"]: r["disposition"]
        for r in DD.prepare_corpus(
            docs, eval_docs=ev, max_bucket=None, sample_ppm=500000
        ).collect()
    }
    assert got == {
        1: "sampled_out",
        2: "exact",
        3: "near",
        4: "lang",
        5: "short",
        6: "pii",
        7: "contaminated",
        8: "contaminated",
        9: "repetition",
        10: "keep",
    }


def test_prepare_corpus_optional_stages_off(spark):
    """Without an eval suite and without sampling, the leak docs fall
    through to plain dedup (7 keeps, its copy 8 drops 'exact') and the
    survivors read 'keep'."""
    docs = spark.createDataFrame(_PC_ROWS, "doc_id long, text string")
    got = {
        r["doc_id"]: r["disposition"]
        for r in DD.prepare_corpus(docs, max_bucket=None).collect()
    }
    assert got[7] == "keep" and got[8] == "exact"
    assert got[1] == "keep" and got[10] == "keep"
    assert got[2] == "exact" and got[3] == "near"


def test_prepare_corpus_matches_duckdb_twin(spark):
    """Cross-engine parity of the FULL composed pipeline (funnel ->
    decontamination -> exact/near dedup -> sampling) doc by doc: both
    engines build every stage from the shared constant set, so a drift in
    any stage fails here."""
    import duckdb

    from np_data_validation_spark.queries import _verified_pairs_sql

    docs = spark.createDataFrame(_PC_ROWS, "doc_id long, text string")
    ev = spark.createDataFrame([(100, _PC_EV)], "doc_id long, text string")
    got = sorted(
        (r["doc_id"], r["disposition"])
        for r in DD.prepare_corpus(
            docs, eval_docs=ev, max_bucket=None, sample_ppm=500000
        ).collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE d (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO d VALUES (?, ?)", _PC_ROWS)
    con.execute("CREATE TABLE e (doc_id BIGINT, text VARCHAR)")
    con.execute("INSERT INTO e VALUES (100, ?)", [_PC_EV])
    want = sorted(
        tuple(r)
        for r in con.execute(
            DD.prepare_corpus_sql(
                "SELECT doc_id, text FROM d",
                _verified_pairs_sql("SELECT doc_id, text FROM surv"),
                eval_body="SELECT doc_id, text FROM e",
                sample_ppm=500000,
            )
        ).fetchall()
    )
    assert got == want
    assert len(want) == len(_PC_ROWS)


def test_filter_funnel_matches_duckdb_twin(spark, docs):
    """The composed quality-filter funnel: per-doc first-rejection-reason
    labels must agree with the DuckDB twin doc by doc at sf0.001 (with
    PII planted into every 23rd doc, same expression both engines — the
    raw synthetic corpus contains none), and the fixture must actually
    exercise several stages."""
    import duckdb

    planted = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or call 555-123-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    aug = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 23 == 0, planted)
        .otherwise(F.col("text"))
        .alias("text"),
    )
    got = {
        r["doc_id"]: r["reason"]
        for r in aug.select(
            "doc_id", TX.filter_funnel().alias("reason")
        ).collect()
    }
    con = duckdb.connect()
    want = dict(
        con.execute(
            f"""WITH aug AS (
                  SELECT doc_id,
                         CASE WHEN doc_id % 23 = 0 THEN
                           text || ' contact user' || CAST(doc_id AS VARCHAR)
                                || '@example.com or call 555-123-'
                                || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                         ELSE text END AS text
                  FROM read_parquet('{SF_DIR}/documents.parquet'))
                SELECT doc_id, {TX.filter_funnel_sql('text')} AS reason
                FROM aug"""
        ).fetchall()
    )
    assert got == want
    reasons = set(got.values())
    assert "keep" in reasons and "pii" in reasons and len(reasons) >= 3, reasons


def test_filter_funnel_cross_engine_tricky_strings(spark):
    """Funnel parity on inputs the synthetic corpus never exercises:
    NULL and empty text (every stage predicate is NULL/vacuous — both
    engines must fall through the CASE to 'keep' identically), non-ASCII
    words (outside both engines' [a-z]+ stopword hits -> 'lang'),
    whitespace collapse at the token-count boundary, planted PII inside
    otherwise-keepable text, and digit-heavy noise."""
    import duckdb

    _VARIED = (
        "the quick brown fox jumps over a lazy dog while many people "
        "watch from the old bridge and some birds fly above the river "
        "in the warm morning light of an early summer day"
    )

    rows = [
        None,
        "",
        "   ",
        "ünïcödé wörtér " * 30,                      # no ASCII stopwords -> lang
        "the " * 19,                                  # 19 tokens -> short
        "word " * 25,                                 # no stopwords -> en? q low
        _VARIED + " reach me at someone@example.org now",   # planted email
        _VARIED + " or call 123-456-7890 instead",           # planted phone
        "the 1 2 3 4 5 " * 40,                               # digit-heavy
        _VARIED,
    ]
    df = spark.createDataFrame([(t,) for t in rows], "text string")
    got = [
        r["x"] for r in df.select(TX.filter_funnel().alias("x")).collect()
    ]
    con = duckdb.connect()
    want = [
        r[0]
        for r in con.execute(
            f"SELECT {TX.filter_funnel_sql('text')} FROM "
            "(SELECT unnest($1::VARCHAR[]) AS text) t",
            [rows],
        ).fetchall()
    ]
    assert got == want
    # and the fixture hit the stages it was built to hit
    assert got[3] == "lang" and got[4] == "short"
    assert got[6] == "pii" and got[7] == "pii"
    assert got[9] == "keep"


def test_filter_funnel_cross_engine_hypothesis(spark):
    """Property: funnel labels agree between engines on ARBITRARY ASCII
    text (printable chars incl. regex metacharacters, quotes, @, digits,
    control whitespace) — the adversarial sweep behind the fixture-based
    parity tests. One hypothesis example = one batch of strings = one
    Spark job, so examples are kept few and wide."""
    pytest.importorskip("hypothesis")
    import duckdb
    from hypothesis import given, settings
    from hypothesis import strategies as st

    con = duckdb.connect()
    text = st.text(
        alphabet=st.sampled_from(
            list(
                "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"
                "0123456789 \t\n.,;:!?@#$%^&*()[]{}|\\/\"'`~+-=_<>"
            )
        ),
        max_size=60,
    )

    @given(st.lists(text, min_size=1, max_size=40))
    @settings(max_examples=12, deadline=None)
    def check(rows):
        df = spark.createDataFrame([(t,) for t in rows], "text string")
        got = [
            r["x"]
            for r in df.select(TX.filter_funnel().alias("x")).collect()
        ]
        want = [
            r[0]
            for r in con.execute(
                f"SELECT {TX.filter_funnel_sql('text')} FROM "
                "(SELECT unnest($1::VARCHAR[]) AS text) t",
                [rows],
            ).fetchall()
        ]
        assert got == want

    check()


def test_dedup_twins_cross_engine_hypothesis(spark):
    """Property: the three dedup fingerprint constructions the oracles
    are built from — content fingerprint, char-shingle set, simhash —
    agree value-by-value between engines on arbitrary printable-ASCII
    text. These are the primitives every dd_* oracle composes, so a
    divergence here is a latent oracle mismatch on some future corpus."""
    pytest.importorskip("hypothesis")
    import duckdb
    from hypothesis import given, settings
    from hypothesis import strategies as st

    con = duckdb.connect()
    text = st.text(
        alphabet=st.sampled_from(
            list(
                "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"
                "0123456789 \t\n.,;:!?@#$%^&*()[]{}|\\/\"'`~+-=_<>"
            )
        ),
        max_size=60,
    )

    @given(st.lists(text, min_size=1, max_size=30))
    @settings(max_examples=10, deadline=None)
    def check(rows):
        df = spark.createDataFrame([(t,) for t in rows], "text string")
        got = [
            (r["fp"], sorted(r["sh"]), r["sim"])
            for r in df.select(
                TX.doc_fingerprint().alias("fp"),
                DD.shingle_expr().alias("sh"),
                DD.simhash_expr().alias("sim"),
            ).collect()
        ]
        want = [
            (r[0], sorted(r[1]), r[2])
            for r in con.execute(
                f"SELECT {TX.doc_fingerprint_sql('text')},"
                f" {DD.shingle_sql('text')}, {DD.simhash_sql('text')}"
                " FROM (SELECT unnest($1::VARCHAR[]) AS text) t",
                [rows],
            ).fetchall()
        ]
        assert got == want

    check()
